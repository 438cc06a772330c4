package graft.routing

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One log path: a named sink fed by a predicate, with the reference's
  * log-path flags (reference lib/cfg-tree.c:628-639, fan-out precedence in
  * lib/logmpx.c:79-124):
  *
  *  - `isFinal`: a row delivered by this path stops propagating to LATER
  *    paths (statement order matters).
  *  - `isFallback`: this path only receives rows matched by NO non-fallback
  *    path.
  *  - catch-all is expressed by passing `lit(true)` (source predicates are
  *    conjoined into `predicate` by the caller; catch-all simply omits them).
  */
final case class RouteSpec(
    name: String,
    predicate: Column,
    isFinal: Boolean = false,
    isFallback: Boolean = false,
    /** catch-all paths deliver every row but do not mark rows as "matched"
      * for fallback purposes (they have their own source scope — reference
      * catch-all flag semantics).
      */
    countsAsMatch: Boolean = true)

/** Routing = syslog-ng's dataflow algebra on one projection: compute every
  * per-sink route flag in a single pass (the reference's multiplexer clones
  * messages copy-on-write; our fan-out explodes each row into one copy per
  * delivering sink from these flags, `Pipeline.fanOut` — SURVEY.md §2.7).
  * Filter non-match is a routing signal, not row deletion.
  */
object Router {

  /** Add one boolean column `route_<name>` per spec, honoring statement-order
    * `final` precedence and `fallback` semantics, plus a `routes` array
    * column of delivering sink names (empty array = unmatched row).
    */
  def withRouteFlags(df: DataFrame, specs: Seq[RouteSpec]): DataFrame = {
    // statement-order final precedence: matched_i = pred_i && !(any earlier
    // final path matched)
    // Null-safe each predicate: a missing fields-map key yields SQL NULL,
    // which must read as "did not match" (the reference's filter eval is
    // boolean), not poison later flags through null propagation.
    var earlierFinalMatched: Column = lit(false)
    val nonFallbackFlags = specs.filterNot(_.isFallback).map { s =>
      val matched = coalesce(s.predicate, lit(false)) && !earlierFinalMatched
      if (s.isFinal) earlierFinalMatched = earlierFinalMatched || matched
      s.name -> matched
    }
    val countingNames = specs.filter(s => !s.isFallback && s.countsAsMatch).map(_.name).toSet
    val anyNonFallback = nonFallbackFlags
      .collect { case (n, f) if countingNames(n) => f }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val fallbackFlags = specs.filter(_.isFallback).map { s =>
      s.name -> (coalesce(s.predicate, lit(false)) && !anyNonFallback)
    }
    val flags = (nonFallbackFlags ++ fallbackFlags).toMap
    // every flag in one projection (one analysis, not one per column);
    // `routes` reads the flag columns from a second one. That keeps the
    // predicates (the `rlike` among them) out of `routes` only while the
    // flags are read too: where only `routes` survives column pruning, the
    // optimizer collapses the two projections and inlines every predicate
    // into the lambda, which evaluates interpreted. Fan-outs therefore read
    // the flags (Pipeline.fanOut); `routes` is kept for callers that want
    // the sink list as one value
    df.withColumns(ListMap(specs.map(s =>
        s"route_${s.name}" -> coalesce(flags(s.name), lit(false))): _*))
      .withColumn(
        "routes",
        filter(
          array(specs.map(s => when(col(s"route_${s.name}"), lit(s.name))): _*),
          x => x.isNotNull))
  }

  /** Per-sink view: call after `withRouteFlags`. Each such view re-runs the
    * parse; to write several sinks from one parse (the reference's
    * single-parse guarantee via COW clones), explode the rows over the flags
    * and write them once, partitioned by sink (`Pipeline.writeSinks`).
    */
  def sink(flagged: DataFrame, name: String): DataFrame =
    flagged.filter(col(s"route_$name"))

  /** `drop-unmatched` — rows delivered nowhere are dropped. */
  def dropUnmatched(flagged: DataFrame): DataFrame =
    flagged.filter(size(col("routes")) > 0)

  /** if/elif/else sugar (reference lib/cfg-tree.c:1279-1346) compiles to an
    * exclusive when/otherwise ladder over branch names.
    */
  def conditional(branches: Seq[(String, Column)], elseName: String): Column =
    branches.reverse.foldLeft(lit(elseName)) { case (acc, (name, cond)) =>
      when(cond, lit(name)).otherwise(acc)
    }
}

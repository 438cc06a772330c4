package graft.config

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.routing.{RouteSpec, Router}

/** The engine's configuration surface — the analog of the reference's
  * config language (reference lib/cfg-tree.h:62 LogExprNode layouts:
  * sequence / junction / conditional over source/filter/parser/rewrite/
  * destination contents).
  *
  * A `Config` is IR #1 (the statement tree); `Compiler.compile` produces
  * IR #2 — not a pipe DAG like the reference (lib/cfg-tree.c:1500
  * cfg_tree_compile) but ONE Catalyst plan: transforms fold left over the
  * frame, filter chains become route predicates, and destinations become
  * route flags with the reference's final/fallback/catch-all precedence
  * (lib/logmpx.c:79-124) — then each sink is a filtered view of the single
  * flagged plan (persist-once fan-out, the COW-clone analog).
  */
object Dsl {

  sealed trait Element

  /** filter {} — predicate over the current frame; non-match is a routing
    * signal for the enclosing path, not row deletion (reference
    * lib/filter/filter-pipe.c:82-86).
    */
  final case class FilterE(pred: DataFrame => Column) extends Element

  /** parser {} / rewrite {} — frame transform (adds/changes columns;
    * must not drop rows — row-dropping configs use drop-unmatched on the
    * path instead, like the reference).
    */
  final case class TransformE(f: DataFrame => DataFrame) extends Element

  /** destination {} — terminal; collects rows that reached this point. */
  final case class DestE(name: String) extends Element

  /** if (f) {…} elif (f) {…} else {…} — compiles to a junction of
    * filtered channels (reference lib/cfg-tree.c:1279-1346).
    */
  final case class IfElse(
      branches: Seq[(DataFrame => Column, Seq[Element])],
      otherwise: Seq[Element]) extends Element

  /** junction { channel {…} channel {…} } — parallel branches rejoined
    * (reference cfg-tree.c:1175). Embedded `log name {…}` statements are
    * junction channels with names; a named channel gets route
    * ingress/egress counters (lib/cfg-tree.c log_expr_node names).
    */
  final case class Junction(
      channels: Seq[Seq[Element]],
      names: Seq[Option[String]] = Nil) extends Element

  /** log {} statement: source refs + element sequence + path flags
    * (reference lib/cfg-tree.c:628-639). A named path gets route
    * ingress/egress counters.
    */
  final case class LogPath(
      sources: Seq[String],
      elements: Seq[Element],
      isFinal: Boolean = false,
      isFallback: Boolean = false,
      isCatchAll: Boolean = false,
      name: Option[String] = None)

  final case class Config(
      sources: Map[String, SparkSession => DataFrame],
      paths: Seq[LogPath])
}

/** Compiles a Config to one flagged Catalyst plan in a single in-order
  * walk that mirrors message flow in the reference:
  *
  * - each filter is *frozen* at its position (materialized as a boolean
  *   helper column over the frame state at that point), so a later rewrite
  *   of a column cannot retroactively change an earlier filter's verdict —
  *   the reference evaluates filters on the message as it flows past
  *   (lib/filter/filter-pipe.c:82-86);
  * - each transform is *guarded* by its reach predicate (source match ∧
  *   frozen filters ∧ branch conditions): columns it writes become
  *   `when(reach, new).otherwise(old)`, so a rewrite inside an `if` branch
  *   or junction channel mutates only rows that entered it — the
  *   reference's COW-clone-per-branch semantics (lib/logmpx.c
  *   write-protect, cfg-tree.c:1279-1346 conditional compile).
  *
  * Declared divergence from the reference's full COW model: paths are
  * walked in statement order over one shared frame, so when two paths read
  * the same source and BOTH rewrite the SAME column, the later path's
  * filters see the earlier path's writes for rows in the reach overlap
  * (reference gives every path a private copy). Transforms scoped by
  * disjoint sources/filters/branches — the practical case — are isolated.
  */
object Compiler {
  import Dsl._

  /** One compiled destination: name + the predicate that routes a row of
    * the unified frame into it + path flags.
    */
  private final case class DestSpec(
      name: String, pred: Column, isFinal: Boolean, isFallback: Boolean,
      countsAsMatch: Boolean)

  final case class Compiled(
      flagged: DataFrame, sinkNames: Seq[String],
      routeCounters: Seq[(String, Column, Column)] = Nil,
      statsFrame: Option[DataFrame] = None) {
    def sink(name: String): DataFrame = Router.sink(flagged, name)
    def dropUnmatched: DataFrame = Router.dropUnmatched(flagged, sinkNames)

    /** Per-named-log-path counters (reference syslogng_route_ingress_total /
      * _egress_total, tests/light logpath/__init__.py): ingress = rows that
      * entered the path, egress = rows matched through its WHOLE element
      * sequence (a row queued to an inner destination but filtered out
      * later does NOT count — the reference's intended semantics).
      * One aggregate job over the compiled frame → (id, ingress, egress).
      */
    def routeStats: DataFrame = {
      val f = statsFrame.getOrElse(sys.error("config has no named log paths"))
      val aggs = routeCounters.flatMap { case (_, in, eg) => Seq(
        sum(when(in, 1L).otherwise(0L)), sum(when(eg, 1L).otherwise(0L))) }
      val row = f.agg(aggs.head, aggs.tail: _*).head()
      val spark = f.sparkSession
      import spark.implicits._
      def v(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
      routeCounters.zipWithIndex.map { case ((n, _, _), i) =>
        (n, v(2 * i), v(2 * i + 1)) // sum() is NULL over zero rows
      }.toDF("id", "ingress", "egress")
    }

    /** Prometheus exposition of [[routeStats]] (stats-prometheus.c form). */
    def routeStatsPrometheus: String =
      routeStats.collect().sortBy(_.getString(0)).flatMap { r =>
        Seq(s"""syslogng_route_ingress_total{id="${r.getString(0)}"} ${r.getLong(1)}""",
          s"""syslogng_route_egress_total{id="${r.getString(0)}"} ${r.getLong(2)}""")
      }.mkString("", "\n", "\n")
  }

  private val HelperPrefix = "__graft_p"

  def compile(spark: SparkSession, cfg: Config): Compiled = {
    // unified source frame — one scan feeds every path, like the
    // reference's single reader feeding the whole pipe DAG per message
    val unified = cfg.sources
      .map { case (name, build) => build(spark).withColumn("__source", lit(name)) }
      .reduce(_ unionByName _)
    compileFrame(unified, cfg)
  }

  /** Compile the config's paths over a CALLER-SUPPLIED unified frame — the
    * STREAMING entry: the identical parse/filter/rewrite/route plan applies
    * to a `readStream` frame unchanged (the compiled stages are narrow
    * Column transforms, which are streaming-safe; a config using the
    * batch-window `grouping-by()` driver needs the streaming sessionize
    * instead). The frame must carry a `__source` column when paths select
    * sources by name.
    */
  def compileFrame(input: DataFrame, cfg: Config): Compiled = {
    var frame = input
    var helperId = 0
    val helperCols = Seq.newBuilder[String]

    // freeze a predicate against the CURRENT frame state as a boolean
    // helper column; route flags and transform guards reference the frozen
    // value, immune to later rewrites of its inputs
    def freeze(pred: Column): Column = {
      val name = s"$HelperPrefix$helperId"
      helperId += 1
      helperCols += name
      frame = frame.withColumn(name, coalesce(pred, lit(false)))
      col(name)
    }

    // apply a transform only where `reach` holds: stash pre-images, run the
    // transform, blend per column. reach == None ⇒ unguarded (whole-path
    // transform ahead of any filter), plain application
    def applyTransform(f: DataFrame => DataFrame, reach: Option[Column]): Unit = reach match {
      case None => frame = f(frame)
      case Some(r) =>
        val origCols = frame.columns.toSeq
        val stashOf = origCols.map(c => c -> s"__graft_s${helperId}_$c").toMap
        helperId += 1
        val stashed = frame.select(
          origCols.map(col) ++ origCols.map(c => col(c).as(stashOf(c))): _*)
        val t = f(stashed)
        val outCols = t.columns.toSeq.filterNot(_.startsWith("__graft_s"))
        val blended = outCols.map { c =>
          if (origCols.contains(c)) when(r, col(c)).otherwise(col(stashOf(c))).as(c)
          else when(r, col(c)).as(c) // new column: NULL outside the reach
        }
        // a column the transform DROPPED (unset()/rename() in a branch)
        // must survive for rows outside the reach: null in-branch (the
        // unset), the stashed pre-image elsewhere
        val dropped = origCols
          .filterNot(outCols.contains).filterNot(_.startsWith("__graft"))
          .map(c => when(r, lit(null)).otherwise(col(stashOf(c))).as(c))
        frame = t.select(blended ++ dropped: _*)
    }

    val dests = Seq.newBuilder[DestSpec]
    val counters = Seq.newBuilder[(String, Column, Column)]

    // single in-order walk; dests/counters/frame accumulate. Returns the
    // sequence's MATCHED predicate — true for a row that traverses every
    // element (filters pass; a junction needs ≥1 matching channel) — the
    // route egress signal. Built only from frozen helper columns, so it
    // stays valid over the final frame.
    // `reach`: None = unconditional so far (plain transforms, cheapest plan)
    def walk(els: Seq[Element], reach0: Option[Column], path: LogPath): Column = {
      var reach = reach0
      var matched: Column = lit(true)
      def and(c: Column): Option[Column] = Some(reach.map(_ && c).getOrElse(c))
      els.foreach {
        case FilterE(p) =>
          val c = freeze(p(frame))
          reach = and(c)
          matched = matched && c
        case TransformE(f) => applyTransform(f, reach)
        case DestE(name) =>
          dests += DestSpec(name, reach.getOrElse(lit(true)),
            path.isFinal, path.isFallback, !path.isCatchAll)
        case IfElse(branches, otherwise) =>
          // exclusive ladder; every branch predicate frozen BEFORE any
          // branch body transform can touch its inputs
          var noneEarlier: Column = lit(true)
          var anyM: Column = lit(false)
          branches.foreach { case (p, body) =>
            val c = freeze(p(frame))
            val bm = walk(body,
              Some(reach.map(_ && noneEarlier && c).getOrElse(noneEarlier && c)), path)
            anyM = anyM || (noneEarlier && c && bm)
            noneEarlier = noneEarlier && !c
          }
          val em = walk(otherwise,
            Some(reach.map(_ && noneEarlier).getOrElse(noneEarlier)), path)
          matched = matched && (anyM || (noneEarlier && em))
        case Junction(channels, chNames) =>
          val names =
            if (chNames.length == channels.length) chNames
            else channels.map(_ => None)
          var anyM: Column = lit(false)
          channels.zip(names).foreach { case (ch, nm) =>
            val entry = reach.getOrElse(lit(true))
            val cm = walk(ch, reach, path)
            nm.foreach(n => counters += ((n, entry, entry && cm)))
            anyM = anyM || cm
          }
          matched = matched && anyM
      }
      matched
    }

    cfg.paths.foreach { p =>
      val srcPred: Option[Column] =
        if (p.isCatchAll) None
        else if (cfg.sources.size == 1 && p.sources == cfg.sources.keys.toSeq) None
        else Some(col("__source").isin(p.sources: _*))
      val m = walk(p.elements, srcPred, p)
      p.name.foreach { n =>
        val entry = srcPred.getOrElse(lit(true))
        counters += ((n, entry, entry && m))
      }
    }

    // merge same-destination predicates (a dest referenced from several
    // paths receives the union), preserving first-appearance order
    val specs = dests.result()
    val names = specs.map(_.name).distinct
    val routeSpecs = names.map { n =>
      val ds = specs.filter(_.name == n)
      RouteSpec(
        name = n,
        predicate = ds.map(_.pred).reduce(_ || _),
        isFinal = ds.exists(_.isFinal),
        isFallback = ds.forall(_.isFallback),
        countsAsMatch = ds.exists(_.countsAsMatch))
    }
    val flagged = Router.withRouteFlags(frame, routeSpecs)
    val cs = counters.result()
    // frozen-predicate helpers are internal: drop them from the sink-facing
    // plan (Catalyst prunes their computation where flags don't need them).
    // Route counters still reference them, so they keep the pre-drop frame.
    Compiled(flagged.drop(helperCols.result(): _*), names,
      cs, if (cs.isEmpty) None else Some(frame))
  }
}

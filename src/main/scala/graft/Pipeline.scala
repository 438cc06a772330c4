package graft

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

import graft.enrich.ContextualData
import graft.observe.Stats
import graft.parsers.GrokStage
import graft.routing.{RouteSpec, Router}
import graft.transcripts.Transcripts

/** The flagship end-to-end job (north rule): parse → enrich → route →
  * aggregate over the transcript table.
  *
  * Physical shape (SURVEY.md §2.7): ONE projection computes parse results,
  * enrichment and all route flags — narrow transformations fused by
  * whole-stage codegen with the single parse `Generate`. Fan-out to sinks
  * persists that projection once (the parse runs once, the analog of the
  * reference's COW-clone fan-out) and plans every sink as a filter over
  * the cache entry, not over the lineage below it. The catch-all sink is
  * written first and fills the cache; the other sinks and the aggregate
  * are then written concurrently, as syslog-ng runs each destination on
  * its own worker thread, and all are joined before the cache is released.
  */
object Pipeline {

  /** Route set (FIXTURES.md §3): statement order matters for `final`.
    * `sink_all` is the catch-all path: it receives every row but — like a
    * path with its own source scope — does not mark rows as "matched" for
    * fallback purposes (reference catch-all semantics, lib/cfg-tree.c:628).
    */
  def routeSpecs(fields: String => Column, text: Column, tool: Column): Seq[RouteSpec] = Seq(
    RouteSpec("all", lit(true), countsAsMatch = false),
    RouteSpec("tool_calls", tool.isNotNull && (fields("event") === "tool_call"), isFinal = true),
    RouteSpec("errors",
      fields("status").isin("error", "fail") ||
        (fields("ok") === "false") ||
        text.rlike("(?i)error")),
    RouteSpec("fallback", lit(true), isFallback = true))

  /** parse + enrich + route flags: the single wide projection. */
  def flagged(spark: SparkSession, sfDir: String): DataFrame =
    flaggedFrom(spark, Transcripts.load(spark, sfDir))

  /** Same pipeline over an arbitrary transcript-shaped frame. */
  def flaggedFrom(spark: SparkSession, t: DataFrame): DataFrame = {
    val parsed = GrokStage(t, "text", GrokStage.transcriptRules)
    val enriched = ContextualData.enrich(
      parsed,
      ContextualData.lookupDf(spark),
      coalesce(concat(lit("tool:"), col("tool")), concat(lit("role:"), col("role"))))
    withRoutes(enriched)
  }

  def withRoutes(enriched: DataFrame): DataFrame =
    Router.withRouteFlags(
      enriched,
      routeSpecs(k => col("fields")(k), col("text"), col("tool")))

  /** Per-sink hash aggregate: routed-row counts by role/tool/hour bucket. */
  def sinkCounts(flagged: DataFrame): DataFrame =
    flagged
      .select(explode(col("routes")).as("sink"), col("role"),
        coalesce(col("tool"), lit("none")).as("tool"),
        date_trunc("hour", col("ts")).as("bucket"))
      .groupBy("sink", "role", "tool", "bucket")
      .agg(count(lit(1)).as("n"))

  /** Full job: returns the per-sink aggregate (driver smoke target). */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    sinkCounts(flagged(spark, sfDir))

  /** Batch-resumable multi-sink write: rerunning after a mid-job failure
    * skips sinks that already committed (their `_SUCCESS` marker is the
    * commit record — Spark's FileOutputCommitter writes it only after all
    * tasks commit, so a half-written sink is retried, a committed one is
    * not). This is the batch face of the checkpoint-resume requirement;
    * the streaming face is StreamingPipeline.writeSinks' checkpoint WAL.
    * Writes the pending sinks as [[writeSinks]] does (cached leaf, first
    * write alone, the rest concurrently). Returns the set of sinks
    * actually (re)computed this run.
    */
  def writeSinksResumable(spark: SparkSession, sfDir: String, outDir: String): Set[String] = {
    val pending = sinkNames.filterNot(s =>
      new java.io.File(s"$outDir/sink_$s/_SUCCESS").exists())
    if (pending.isEmpty) return Set.empty
    val f = persistForFanOut(flagged(spark, sfDir))
    try {
      val leaf = Bridge.cachedLeaf(f)
      fanOut(pending.map(s => sinkWrite(Router.sink(leaf, s), outDir, s))).foreach(_.get)
      pending.toSet
    } finally { f.unpersist(); () }
  }

  private val sinkNames = Seq("all", "tool_calls", "errors", "fallback")
  private val sinkColumns = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id")

  /** Persists what the fan-out reads of a flagged frame: the sink columns
    * plus lineage, the route flags, and `routes` for the aggregate. The
    * parse's `fields` map and the enrichment columns stay out of the cache
    * (at 150k events: 22 MB cached instead of 58 MB).
    */
  private def persistForFanOut(flagged: DataFrame): DataFrame =
    flagged.select((sinkColumns.map(col) :+ lineageStruct.as("lineage")) ++
      (sinkNames.map(s => s"route_$s") :+ "routes").map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** A sink's write, its frame built (and analyzed) on the calling thread. */
  private def sinkWrite(rows: DataFrame, outDir: String, sink: String): () => Unit = {
    val out = rows.select((sinkColumns :+ "lineage").map(col): _*)
    () => out.write.mode("overwrite").parquet(s"$outDir/sink_$sink")
  }

  /** Runs the first write alone (over a persisted frame it fills the
    * cache), then the rest concurrently from a pool of their own. Returns
    * the outcome of every write it started, each joined; a failed first
    * write starts no other.
    */
  private def fanOut(writes: Seq[() => Unit]): Seq[Try[Unit]] = {
    val first = Try(writes.head())
    if (first.isFailure || writes.size == 1) return Seq(first)
    val pool = Executors.newFixedThreadPool(writes.size - 1)
    try {
      val running = writes.tail.map(w => pool.submit[Unit](() => w()))
      first +: running.map(r =>
        Try(r.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
    } finally { pool.shutdown() }
  }

  /** Lineage struct (north rule): reader partition + a row id derived from
    * the natural key (conv_id, turn_idx) — NOT monotonically_increasing_id,
    * which renumbers under persist-eviction + stage retry (the repo's
    * deterministic-salts rule applies to ids too).
    */
  private def lineageStruct: Column =
    struct(spark_partition_id().as("source_partition"),
      xxhash64(col("conv_id"), col("turn_idx")).as("row_id"))

  /** Templated-filename sink (reference modules/affile/affile-dest.c:64-142:
    * `file("/log/$HOST/$PROGRAM.log")` opens one writer per resolved name):
    * the template's value-refs become partition columns — same fan-out, but
    * planned, parallel, and pruned on read. `repartition` on the partition
    * keys first = the reference's worker-partition-key ordering contract
    * and avoids tiny files (one file per key per task otherwise).
    */
  def writeTemplatedSink(df: DataFrame, outDir: String, keys: String*): Unit =
    df.repartition(keys.map(col): _*)
      .write.mode("overwrite").partitionBy(keys: _*).parquet(outDir)

  /** Multi-sink write: one persisted pass, N filtered writes + the aggregate
    * and a stats table — the production shape of the job. Every sink row
    * carries a per-partition lineage struct (north rule) and every write
    * feeds per-stage counters into the stats table via `observe` (no extra
    * scans — reference lib/stats counters). The sinks and the aggregate are
    * planned over the cache entry; `sink_all` is written first and fills the
    * cache, the other three sinks and the aggregate concurrently. The stats
    * snapshot is taken once the listener bus has delivered every write's
    * counters to the collector, so it always holds the same rows (if the
    * bus is still busy after 60 s, the snapshot holds what has arrived and
    * a warning is printed). A failed write is rethrown after every started
    * write has finished and the cache is released.
    */
  def writeSinks(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    val stats = Stats.install(spark)
    val f = persistForFanOut(Stats.observed(flagged(spark, sfDir), "flagged",
      "parse_errors" -> sum(when(col("rule_id").isNull, 1L).otherwise(0L)),
      "matched" -> sum(when(size(col("routes")) > lit(1), 1L).otherwise(0L))))
    try {
      val leaf = Bridge.cachedLeaf(f)
      // counts ride the writes themselves via Observation.get (blocks until
      // the action's metrics arrive) — no post-write re-read scans
      val observations = sinkNames.map(s => s -> Observation(s"sink_count_$s"))
      val writes = observations.map { case (s, obs) =>
        sinkWrite(Stats.observed(Router.sink(leaf, s), s"sink_$s")
          .observe(obs, count(lit(1)).as("n")), outDir, s)
      }
      val agg = sinkCounts(leaf)
      val outcomes = fanOut(writes :+ (() => agg.write.mode("overwrite").parquet(s"$outDir/agg_counts")))
      // wait even when a write failed: an event arriving after this call
      // returned would land in the next call's collector
      val reported = Stats.awaitReports(spark)
      outcomes.foreach(_.get)
      if (!reported) System.err.println(
        "[graft] writeSinks: listener bus still busy after the sink writes; " +
          "the stats snapshot may miss counters")
      stats.snapshot(spark).write.mode("overwrite").parquet(s"$outDir/stats")
      observations.map { case (s, obs) => s -> obs.get("n").asInstanceOf[Long] }.toMap
    } finally {
      f.unpersist()
      // collectors are per-call: leaving them registered would accumulate
      // listeners (and buffers) across writeSinks calls on a long session
      spark.listenerManager.unregister(stats)
      ()
    }
  }
}

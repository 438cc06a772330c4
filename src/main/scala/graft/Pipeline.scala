package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.enrich.ContextualData
import graft.parsers.GrokStage
import graft.routing.{RouteSpec, Router}
import graft.transcripts.Transcripts

/** The flagship end-to-end job (north rule): parse → enrich → route →
  * aggregate over the transcript table.
  *
  * Physical shape (SURVEY.md §2.7): ONE projection computes parse results,
  * enrichment and all route flags — narrow transformations fused by
  * whole-stage codegen with the single parse `Generate`; fan-out to
  * sinks is N filters over that one plan (persist before multi-sink writes
  * so the parse runs once, the analog of the reference's COW-clone fan-out).
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
    * Returns the set of sinks actually (re)computed this run.
    */
  def writeSinksResumable(spark: SparkSession, sfDir: String, outDir: String): Set[String] = {
    val sinkNames = Seq("all", "tool_calls", "errors", "fallback")
    val pending = sinkNames.filterNot(s =>
      new java.io.File(s"$outDir/sink_$s/_SUCCESS").exists())
    if (pending.isEmpty) return Set.empty
    val f = flagged(spark, sfDir)
      .withColumn("lineage", lineageStruct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      pending.foreach { s =>
        Router.sink(f, s)
          .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id", "lineage")
          .write.mode("overwrite").parquet(s"$outDir/sink_$s")
      }
      pending.toSet
    } finally { f.unpersist(); () }
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
    * scans — reference lib/stats counters).
    */
  def writeSinks(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    val stats = graft.observe.Stats.install(spark)
    val f = graft.observe.Stats
      .observed(flagged(spark, sfDir), "flagged",
        "parse_errors" -> sum(when(col("rule_id").isNull, 1L).otherwise(0L)),
        "matched" -> sum(when(size(col("routes")) > lit(1), 1L).otherwise(0L)))
      .withColumn("lineage", lineageStruct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sinkNames = Seq("all", "tool_calls", "errors", "fallback")
      val counts = sinkNames.map { s =>
        // counts ride the write itself via Observation.get (blocks until
        // the action's metrics arrive) — no post-write re-read scans
        val obs = org.apache.spark.sql.Observation(s"sink_count_$s")
        val rows = graft.observe.Stats.observed(Router.sink(f, s), s"sink_$s")
          .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id", "lineage")
          .observe(obs, count(lit(1)).as("n"))
        rows.write.mode("overwrite").parquet(s"$outDir/sink_$s")
        s -> obs.get("n").asInstanceOf[Long]
      }.toMap
      sinkCounts(f).write.mode("overwrite").parquet(s"$outDir/agg_counts")
      stats.snapshot(spark).write.mode("overwrite").parquet(s"$outDir/stats")
      counts
    } finally {
      f.unpersist()
      // collectors are per-call: leaving them registered would accumulate
      // listeners (and buffers) across writeSinks calls on a long session
      spark.listenerManager.unregister(stats)
      ()
    }
  }
}

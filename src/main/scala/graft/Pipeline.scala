package graft

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * is one job, as the reference multiplexer hands each message to every
  * matching destination in one pass (lib/logmpx.c:79-124): each row is
  * exploded into one copy per delivering sink and the copies are written
  * once, partitioned by sink, so the parse runs once with no cache. The
  * aggregate reads the written sink rows back; each sink's partition
  * directory then becomes its `sink_<name>` output.
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
    fanOut(flagged, Seq(col("role"), coalesce(col("tool"), lit("none")).as("tool"),
        date_trunc("hour", col("ts")).as("bucket")))
      .groupBy("sink", "role", "tool", "bucket")
      .agg(count(lit(1)).as("n"))

  /** The sink fan-out (the reference multiplexer, lib/logmpx.c:79-124): one
    * row per (flagged row, sink of `sinks` it is delivered to) holding
    * `columns` and the sink's name in `sink`. The route flags feed a plain
    * `explode` of `when`s, not the `routes` array lambda: lambdas evaluate
    * interpreted, and where only `routes` survives column pruning every
    * route predicate is inlined into the lambda's input. This way the
    * predicates stay in the codegen'd flag projection.
    */
  def fanOut(flagged: DataFrame, columns: Seq[Column], sinks: Seq[String] = sinkNames): DataFrame =
    flagged.select(columns :+
        explode(array(sinks.map(s => when(col(s"route_$s"), lit(s))): _*)).as("sink"): _*)
      .where(col("sink").isNotNull)

  /** Full job: returns the per-sink aggregate (driver smoke target). */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    sinkCounts(flagged(spark, sfDir))

  /** Batch-resumable multi-sink write: rerunning after a mid-job failure
    * skips sinks that already committed (their `_SUCCESS` marker is the
    * commit record, added only once the sink's directory is in place, so a
    * half-written sink is retried, a committed one is not). This is the
    * batch face of the checkpoint-resume requirement; the streaming face is
    * StreamingPipeline.writeSinks' checkpoint WAL. Writes the pending sinks
    * as [[writeSinks]] does and returns them.
    */
  def writeSinksResumable(spark: SparkSession, sfDir: String, outDir: String): Set[String] = {
    val pending = sinkNames.filterNot(s =>
      new java.io.File(s"$outDir/sink_$s/_SUCCESS").exists())
    if (pending.isEmpty) return Set.empty
    writeFanOut(fanOutRows(flagged(spark, sfDir), pending), outDir, pending)(_ => ())
    pending.toSet
  }

  private val sinkNames = Seq("all", "tool_calls", "errors", "fallback")
  private val sinkColumns = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id")

  /** [[fanOut]] of the sink columns and lineage. */
  private def fanOutRows(flagged: DataFrame, sinks: Seq[String]): DataFrame =
    fanOut(flagged, sinkColumns.map(col) :+ lineageStruct.as("lineage"), sinks)

  /** Writes [[fanOutRows]] once, partitioned by `sink`, into
    * `$outDir/_sinks`, runs `staged` on that directory (the aggregate reads
    * it back there), then moves each `sink=<s>` directory to
    * `$outDir/sink_<s>` and marks it with `_SUCCESS`. A sink no row reached
    * gets a zero-row file with the sink schema. If the write fails, no
    * `sink_<s>` directory has been touched.
    */
  private def writeFanOut(rows: DataFrame, outDir: String, sinks: Seq[String])(
      staged: String => Unit): Unit = {
    val spark = rows.sparkSession
    val stage = s"$outDir/_sinks"
    rows.write.mode("overwrite").partitionBy("sink").parquet(stage)
    staged(stage)
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (s <- sinks) {
      val (src, dst) = (new Path(stage, s"sink=$s"), new Path(outDir, s"sink_$s"))
      fs.delete(dst, true) // rename moves into an existing directory
      if (!fs.exists(src))
        spark.createDataFrame(java.util.List.of[Row](), rows.drop("sink").schema)
          .write.parquet(dst.toString)
      else if (fs.rename(src, dst)) fs.create(new Path(dst, "_SUCCESS")).close()
      else throw new IOException(s"cannot move $src to $dst")
    }
    fs.delete(new Path(stage), true)
    ()
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

  /** Multi-sink write: every sink + the aggregate and a stats table — the
    * production shape of the job. Every sink row carries a per-partition
    * lineage struct (north rule) and the sink write feeds per-stage
    * counters into the stats table via `observe` (no extra scans —
    * reference lib/stats counters). The stats snapshot is taken once the
    * listener bus has delivered those counters, so it always holds the
    * same rows (if the bus is still busy after 60 s, it holds what has
    * arrived and a warning is printed). A failed write is rethrown and
    * leaves every `sink_<s>` directory as it was.
    */
  def writeSinks(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    val stats = Stats.install(spark)
    try {
      // route_all is always true: a row is matched if another sink takes it
      val matched = sinkNames.filterNot(_ == "all").map(s => col(s"route_$s")).reduce(_ || _)
      val f = Stats.observed(flagged(spark, sfDir), "flagged",
        "parse_errors" -> sum(when(col("rule_id").isNull, 1L).otherwise(0L)),
        "matched" -> sum(when(matched, 1L).otherwise(0L)))
      // counts ride the write itself via Observation.get (blocks until the
      // action's metrics arrive) — no post-write re-read scans. Each sink's
      // rows are counted from its flag before the explode, over fewer rows
      val observations = sinkNames.map(s => s -> Observation(s"graft.sink_$s"))
      val rows = fanOutRows(observations.foldLeft(f) { case (df, (s, obs)) =>
        df.observe(obs, count_if(col(s"route_$s")).as("processed"))
      }, sinkNames)
      val aggColumns = StructType(Seq("role", "tool", "ts", "sink").map(rows.schema(_)))
      writeFanOut(rows, outDir, sinkNames) { stage =>
        spark.read.schema(aggColumns).parquet(stage)
          .groupBy(col("sink"), col("role"), coalesce(col("tool"), lit("none")).as("tool"),
            date_trunc("hour", col("ts")).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$outDir/agg_counts")
      }
      if (!Stats.awaitReports(spark)) System.err.println(
        "[graft] writeSinks: listener bus still busy after the sink writes; " +
          "the stats snapshot may miss counters")
      stats.snapshot(spark).coalesce(1).write.mode("overwrite").parquet(s"$outDir/stats")
      observations.map { case (s, obs) => s -> obs.get("processed").asInstanceOf[Long] }.toMap
    } finally {
      // wait even when a write failed: a late event would land in the next
      // call's collector. Collectors are per-call: leaving them registered
      // would accumulate listeners across writeSinks calls on a long session
      Stats.awaitReports(spark)
      spark.listenerManager.unregister(stats)
      ()
    }
  }
}

package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.StreamConverters._

import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Observability: per-stage counters via observe() into the stats table,
  * and per-partition lineage on sink rows (reference lib/stats + north
  * rule's lineage requirement).
  */
class StatsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sinkNames = Seq("all", "tool_calls", "errors", "fallback")

  test("writeSinks emits a stats table and lineage columns") {
    val out = Files.createTempDirectory("graft-stats").toString
    val counts = Pipeline.writeSinks(spark, sfUnit, out)

    val stats = spark.read.parquet(s"$out/stats")
      .select("stage", "counter", "value")
      .as[(String, String, Long)].collect()
    // the flagged stage observed once per sink write action; processed ==
    // full row count each time
    val processed = stats.filter(s => s._1 == "flagged" && s._2 == "processed")
    assert(processed.nonEmpty && processed.forall(_._3 == counts("all")))
    val parseErr = stats.filter(s => s._1 == "flagged" && s._2 == "parse_errors")
    assert(parseErr.nonEmpty && parseErr.forall(_._3 > 0)) // corrupt lines exist
    // per-sink stages observed with their own counts, equal to the returned
    // counts and to the rows each sink directory holds
    for (s <- sinkNames) {
      val rows = spark.read.parquet(s"$out/sink_$s").count()
      assert(counts(s) === rows, s)
      assert(stats.contains((s"sink_$s", "processed", rows)), s)
    }
    // 7 rows, always: the one fan-out write reports the 3 flagged counters
    // and each sink's `processed`. The snapshot waits until the listener bus
    // has delivered them, so none is missing.
    assert(stats.length === 7)

    val allRows = spark.read.parquet(s"$out/sink_all")
    assert(allRows.columns.contains("lineage"))
    val lin = allRows.select("lineage.source_partition").distinct().count()
    assert(lin >= 1)

    // stats query language: glob over stage.counter names
    val sdf = spark.read.parquet(s"$out/stats")
    val q = graft.observe.Stats.query(sdf, "sink_*.processed")
      .select("stage").distinct().as[String].collect().toSet
    assert(q === Set("sink_all", "sink_tool_calls", "sink_errors", "sink_fallback"))
    assert(graft.observe.Stats.query(sdf, "*.parse_errors").count() > 0)
  }

  test("back-to-back writeSinks calls give identical stats tables") {
    val runs = (1 to 10).map { _ =>
      val out = Files.createTempDirectory("graft-stats-rerun").toString
      Pipeline.writeSinks(spark, sfUnit, out)
      spark.read.parquet(s"$out/stats").select("stage", "counter", "value")
        .as[(String, String, Long)].collect().toSeq.sorted
    }
    assert(runs.head.size === 7)
    runs.zipWithIndex.foreach { case (r, i) => assert(r === runs.head, s"call ${i + 1}") }
  }

  test("writeSinks is three file writes, none over a cache or an array lambda") {
    val out = Files.createTempDirectory("graft-sink-plans").toString
    val writes = mutable.ArrayBuffer.empty[(InsertIntoHadoopFsRelationCommand, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }
          .foreach(c => writes.synchronized { writes += (c -> qe.executedPlan); () })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a frame another spec cached would be substituted into the plans
    spark.catalog.clearCache()
    // events of earlier actions must not reach this listener
    assert(graft.observe.Stats.awaitReports(spark))
    spark.listenerManager.register(listener)
    try {
      Pipeline.writeSinks(spark, sfUnit, out)
      assert(graft.observe.Stats.awaitReports(spark))
    } finally spark.listenerManager.unregister(listener)

    val byDir = writes.map { case (c, p) => c.outputPath.getName -> (c, p) }.toMap
    assert(writes.size === 3 && byDir.keySet === Set("_sinks", "agg_counts", "stats"))
    assert(byDir("_sinks")._1.partitionColumns.map(_.name) === Seq("sink"))
    for ((dir, (_, plan)) <- byDir) {
      assert(find(plan)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty, dir)
      assert(find(plan)(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))).isEmpty,
        dir)
    }
  }

  test("a sink no row reaches gets a readable zero-row directory with the sink schema") {
    // one event per user: every turn is a `user` turn, so no row has a tool
    val sf = Files.createTempDirectory("graft-sf-no-tools").toString
    spark.read.parquet(s"$sfUnit/events.parquet").limit(200)
      .select(col("event_id"), col("ts"), col("event_id").as("user_id"))
      .write.parquet(s"$sf/events.parquet")
    val out = Files.createTempDirectory("graft-empty-sink").toString
    assert(Pipeline.writeSinks(spark, sfUnit, out)("tool_calls") > 0)
    // the earlier, non-empty sink_tool_calls is replaced
    val counts = Pipeline.writeSinks(spark, sf, out)
    assert(counts("tool_calls") === 0L && counts("all") === 200L)
    val empty = spark.read.parquet(s"$out/sink_tool_calls")
    assert(empty.count() === 0L)
    assert(empty.schema === spark.read.parquet(s"$out/sink_all").schema)
    assert(new File(s"$out/sink_tool_calls/_SUCCESS").exists())
  }

  test("a failed fan-out write: committed sinks untouched, no stats, failure class recorded") {
    val out = Files.createTempDirectory("graft-sink-fail").toString
    assert(Pipeline.writeSinksResumable(spark, sfUnit, out) === sinkNames.toSet)
    // a lost commit marker leaves sink_errors pending
    assert(new File(s"$out/sink_errors/_SUCCESS").delete())
    def sinkFiles(): Map[String, Seq[Byte]] =
      sinkNames.flatMap { s =>
        Files.walk(Paths.get(out, s"sink_$s")).toScala(Seq).filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.readAllBytes(p).toSeq)
      }.toMap
    val before = sinkFiles()
    // _sinks resolves to a path below a regular file: the fan-out write fails
    val blocker = new File(out, "blocker")
    assert(blocker.createNewFile())
    Files.createSymbolicLink(Paths.get(out, "_sinks"), Paths.get(blocker.getPath, "dir"))
    val collector = graft.observe.Stats.install(spark)
    try {
      intercept[Exception](Pipeline.writeSinks(spark, sfUnit, out))
      assert(sinkFiles() === before)
      assert(!new File(s"$out/agg_counts").exists() && !new File(s"$out/stats").exists())
      // job-end events reach the status tracker through the listener bus
      eventually(timeout(30.seconds)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      }
      assert(graft.observe.Stats.awaitReports(spark))
      val failed = collector.snapshot(spark).filter(col("stage") === "action")
        .as[(String, String, Long, String)].collect()
      assert(failed.length === 2 && failed.forall(r => r._3 == 1L && r._4.nonEmpty))
      assert(failed.map(_._2).count(_ == "failed") === 1)
      val cls = failed.map(_._2).filter(_.startsWith("failed."))
      assert(cls.length === 1 && cls.head.length > "failed.".length, cls.mkString)
    } finally spark.listenerManager.unregister(collector)

    Files.delete(Paths.get(out, "_sinks"))
    assert(Pipeline.writeSinksResumable(spark, sfUnit, out) === Set("errors"))
    assert(new File(s"$out/sink_errors/_SUCCESS").exists())
    assert(spark.read.parquet(s"$out/sink_errors").count() > 0)
  }

  test("stats exposition: CSV + Prometheus golden strings; glob query") {
    val stats = Seq(
      ("flagged", "processed", 100L, "save"),
      ("flagged", "parse_errors", 3L, "save"),
      ("sink_errors", "processed", 9L, "save"),
      ("odd;stage", "c", 1L, "j\"q"))
      .toDF("stage", "counter", "value", "job")
    val csv = graft.observe.Stats.renderCsv(stats)
    assert(csv.startsWith("SourceName;SourceId;SourceInstance;State;Type;Number\n"))
    assert(csv.contains("flagged;save;;a;processed;100\n"))
    assert(csv.contains("\"odd;stage\";")) // escaped component
    val prom = graft.observe.Stats.renderPrometheus(stats)
    assert(prom.contains("syslogng_flagged_processed{job=\"save\"} 100\n"))
    assert(prom.contains("syslogng_odd_stage_c{job=\"j\\\"q\"} 1\n")) // sanitized + escaped
    val q = graft.observe.Stats.query(stats, "flagged.*")
    assert(q.count() === 2)
  }

  test("stats aggregators: average/maximum/CPS over a timed series") {
    val timed = Seq(
      ("s", "processed", 100L, "j", 1000L),
      ("s", "processed", 160L, "j", 4000L),
      ("s", "processed", 130L, "j", 2500L),
      ("t", "processed", 5L, "j", 1000L)) // single tick → cps 0
      .toDF("stage", "counter", "value", "job", "ts_ms")
    val got = graft.observe.Stats.aggregators(timed)
      .as[(String, String, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val s = got("s")
    assert(s._3 === 130.0 && s._4 === 160L)
    assert(math.abs(s._5 - (160.0 - 100.0) * 1000.0 / 3000.0) < 1e-9) // 20/s
    assert(got("t")._5 === 0.0)
  }

  test("batch resume: committed sinks are skipped, missing sinks recomputed") {
    val out = Files.createTempDirectory("graft-resume").toString
    val first = Pipeline.writeSinksResumable(spark, sfUnit, out)
    assert(first === Set("all", "tool_calls", "errors", "fallback"))
    // simulate a mid-job crash: one sink lost its commit marker
    assert(new java.io.File(s"$out/sink_errors/_SUCCESS").delete())
    val second = Pipeline.writeSinksResumable(spark, sfUnit, out)
    assert(second === Set("errors")) // only the uncommitted sink re-ran
    val third = Pipeline.writeSinksResumable(spark, sfUnit, out)
    assert(third === Set.empty) // fully committed → no work
  }

  test("templated-filename sink: value-refs become partition dirs, pruned on read") {
    val out = Files.createTempDirectory("graft-psink").toString + "/by_role"
    val t = graft.transcripts.Transcripts.load(spark, sfUnit)
    Pipeline.writeTemplatedSink(t, out, "role")
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("role="))
    assert(dirs.toSet === Set("role=user", "role=assistant", "role=system", "role=tool"))
    // partition pruning: reading one "file" touches only that directory
    val one = spark.read.parquet(out).filter(col("role") === "tool")
    val scanned = one.queryExecution.executedPlan.toString()
    assert(one.count() === t.filter(col("role") === "tool").count())
    assert(scanned.contains("PartitionFilters: [isnotnull(role"))
  }

  test("curateObserved: attrition counters land in the stats table and sum to processed") {
    import graft.corpus.Curate
    val stop = "the be to of and that have with"
    def longDoc(seed: String): String =
      (1 to 8).map(i => s"$stop $seed word$i alpha beta gamma delta").mkString(" ")
    val d = Seq(
      (1L, longDoc("orange"), "HTTP://Example.com/page?utm_source=t&x=1", "en"),
      (2L, longDoc("orange"), "http://example.com:80/page/?x=1", "en"), // url dup
      (3L, longDoc("violet"), "https://a.example/3", "en"),
      (4L, longDoc("violet") + " extra", "https://a.example/4", "en"),  // near-dup
      (5L, "tiny doc", "https://a.example/5", "en"),                    // quality fail
      (6L, longDoc("qzxjvkwq"), "https://a.example/6", "xx"),           // OOD trigram
      (7L, longDoc("lemon"), "https://a.example/7", "en")
    ).toDF("doc_id", "text", "url", "lang")

    val collector = graft.observe.Stats.install(spark)
    // observed metrics arrive via the (async) execution-listener bus: poll
    def await(stage: String): Map[String, Long] = {
      var snap = Map.empty[String, Long]
      var tries = 0
      while (!snap.contains("processed") && tries < 100) {
        snap = collector.snapshot(spark).filter(col("stage") === stage)
          .select("counter", "value").as[(String, Long)].collect().toMap
        if (!snap.contains("processed")) Thread.sleep(50)
        tries += 1
      }
      snap
    }
    collector.clear()
    Curate.curateObserved(d, col("doc_id"), col("text"), col("url"), col("lang"),
      stage = "curate_obs", ceCap = 1e9).count()
    val snap = await("curate_obs")
    assert(snap("processed") === 7L)
    assert(snap("url_dropped") === 1L && snap("dedup_dropped") === 1L &&
      snap("quality_dropped") === 1L && snap("perplexity_dropped") === 0L &&
      snap("kept") === 4L)
    assert(snap("url_dropped") + snap("dedup_dropped") + snap("quality_dropped") +
      snap("perplexity_dropped") + snap("kept") === snap("processed"),
      "first-rejecting-stage attribution makes the counters sum")

    // a cap inside the en/OOD gap moves exactly one doc to perplexity_dropped
    val ces = Curate.curate(d, col("doc_id"), col("text"), col("url"), col("lang"),
        ceCap = 1e9)
      .select(col("doc_id"), col("cross_entropy")).as[(Long, Double)].collect().toMap
    val cap = (Seq(1L, 3L, 7L).map(ces).max + ces(6L)) / 2
    collector.clear()
    Curate.curateObserved(d, col("doc_id"), col("text"), col("url"), col("lang"),
      stage = "curate_obs2", ceCap = cap).count()
    val snap2 = await("curate_obs2")
    assert(snap2("perplexity_dropped") === 1L && snap2("kept") === 3L)
  }
}

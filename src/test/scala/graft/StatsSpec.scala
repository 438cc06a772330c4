package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Observability: per-stage counters via observe() into the stats table,
  * and per-partition lineage on sink rows (reference lib/stats + north
  * rule's lineage requirement).
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

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
    // per-sink stages observed with their own counts
    assert(stats.exists(s => s._1 == "sink_errors" && s._2 == "processed"))
    // 19 rows, always: each of the 4 sink writes reports the 3 flagged
    // counters (read through the cache) and its own `processed`; the
    // aggregate write reports the 3 flagged counters. The snapshot waits
    // until the listener bus has delivered all five, so none is missing.
    assert(stats.length === 19)

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
    assert(runs.head.size === 19)
    runs.zipWithIndex.foreach { case (r, i) => assert(r === runs.head, s"call ${i + 1}") }
  }

  test("a failed sink write: started writes joined, cache released, failure recorded") {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft-sink-fail").toString
    // sink_errors resolves to a path below a regular file: its write fails
    val blocker = new File(out, "blocker")
    assert(blocker.createNewFile())
    Files.createSymbolicLink(Paths.get(out, "sink_errors"), Paths.get(blocker.getPath, "dir"))
    val collector = graft.observe.Stats.install(spark)
    try {
      intercept[Exception](Pipeline.writeSinks(spark, sfUnit, out))
      // every other write had committed before writeSinks threw
      for (d <- Seq("sink_all", "sink_tool_calls", "sink_fallback", "agg_counts"))
        assert(new File(s"$out/$d/_SUCCESS").exists(), d)
      assert(!new File(s"$out/stats").exists())
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty, "the flagged frame is unpersisted")
      // job-end events reach the status tracker through the listener bus
      eventually(timeout(30.seconds)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      }
      // four writes reported counters, one failed
      assert(graft.observe.Stats.awaitReports(spark))
      val failed = collector.snapshot(spark).filter(col("stage") === "action")
        .as[(String, String, Long, String)].collect()
      assert(failed.length === 1)
      assert(failed.head._2 === "failed" && failed.head._3 === 1L && failed.head._4.nonEmpty)
    } finally spark.listenerManager.unregister(collector)

    Files.delete(Paths.get(out, "sink_errors"))
    assert(Pipeline.writeSinksResumable(spark, sfUnit, out) === Set("errors"))
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

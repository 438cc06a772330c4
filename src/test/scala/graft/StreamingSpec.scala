package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingPipeline, Turn}

/** Structured Streaming semantics: event-time sessions with timeout/trigger
  * (the reference's grouping-by + timer wheel), multi-sink fan-out via
  * foreachBatch, and checkpoint resume (the reference's disk-buffer +
  * bookmark persist-state).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // keep event times well past the initial watermark (epoch 0): a row whose
  // ts <= watermark is dropped as late by stateful operators
  private def ts(min: Long): Timestamp = new Timestamp(86400000L + min * 60000L)
  private def turn(conv: String, idx: Int, min: Long, tool: String = null, text: String = "t"): Turn =
    Turn(conv, idx, "user", text, tool, ts(min))

  test("sessionize: event-time timeout closes sessions; trigger closes early") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline
      .sessionize(input.toDS(), timeoutGapSeconds = 3600,
        triggerPred = _.text == "bye")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // conv a: two turns 5 min apart; conv t: trigger row closes immediately
      input.addData(turn("a", 0, 0, tool = "bash"), turn("a", 1, 5),
        turn("t", 0, 1, text = "bye"))
      q.processAllAvailable()
      val triggered = spark.table("sess").as[graft.streaming.SessionAgg].collect()
      assert(triggered.exists(s => s.conv_id == "t" && s.closed_by == "trigger" && s.n_turns == 1))
      assert(!triggered.exists(_.conv_id == "a")) // still open
      // advance the watermark far past a's session end → timeout fires
      input.addData(turn("z", 0, 600))
      q.processAllAvailable()
      input.addData(turn("z", 1, 601))
      q.processAllAvailable()
      val all = spark.table("sess").as[graft.streaming.SessionAgg].collect()
      val a = all.find(_.conv_id == "a")
      assert(a.isDefined, s"session a not closed; got ${all.toSeq}")
      assert(a.get.n_turns == 2 && a.get.n_tool_turns == 1 && a.get.closed_by == "timeout")
      assert(a.get.session_start == ts(0) && a.get.session_end == ts(5 + 60))
    } finally q.stop()
  }

  test("sessionize: in-batch gap splits sessions deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline
      .sessionize(input.toDS(), timeoutGapSeconds = 600)
      .writeStream.format("memory").queryName("sess2").outputMode("append").start()
    try {
      // one batch, gap of 20 min > 10 min timeout between turn 1 and 2
      input.addData(turn("c", 0, 0), turn("c", 1, 5), turn("c", 2, 25))
      q.processAllAvailable()
      val got = spark.table("sess2").as[graft.streaming.SessionAgg].collect()
      assert(got.length == 1 && got.head.n_turns == 2) // first session closed in-batch
    } finally q.stop()
  }

  test("rate-limit stream: token bucket per key and event-time bucket, state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline
      .rateLimitStream(input.toDS(), _.conv_id, rate = 2, bucketSeconds = 3600)
      .writeStream.format("memory").queryName("rl").outputMode("append").start()
    try {
      // batch 1: 3 rows for conv a in one hour-bucket → 2 pass
      input.addData(turn("a", 0, 0), turn("a", 1, 5), turn("a", 2, 10), turn("b", 0, 1))
      q.processAllAvailable()
      // batch 2: same bucket for a → budget already spent; new bucket row passes
      input.addData(turn("a", 3, 20), turn("a", 4, 70))
      q.processAllAvailable()
      val got = spark.table("rl").as[Turn].collect()
        .map(t => (t.conv_id, t.turn_idx)).sorted
      assert(got === Seq(("a", 0), ("a", 1), ("a", 4), ("b", 0)).sorted)
    } finally q.stop()
  }

  test("file-source fan-out: checkpoint resume processes new files exactly once") {
    val base = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val t = graft.transcripts.Transcripts.load(spark, sfUnit)
      .withColumn("ts", col("ts").cast("timestamp"))
    val part1 = t.filter(col("turn_idx") === 0)
    val part2 = t.filter(col("turn_idx") === 1)
    val n1 = part1.count(); val n2 = part2.count()

    part1.coalesce(1).write.mode("append").parquet(inDir)
    val q1 = StreamingPipeline.writeSinks(
      Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir)),
      Seq("all", "errors"), outDir, ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$outDir/sink_all").count() === n1)

    // new file while the query is down → resume picks up ONLY the new file
    part2.coalesce(1).write.mode("append").parquet(inDir)
    val q2 = StreamingPipeline.writeSinks(
      Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir)),
      Seq("all", "errors"), outDir, ckpt)
    q2.processAllAvailable(); q2.stop()
    val allRows = spark.read.parquet(s"$outDir/sink_all")
    assert(allRows.count() === n1 + n2) // no duplicates from reprocessing
    assert(allRows.select("batch_id").distinct().count() === 2)
    // routed subset consistency vs the batch router on the same input
    val batchErrors = Pipeline.withRoutes(
      graft.parsers.GrokStage(t.filter(col("turn_idx") <= 1), "text",
        graft.parsers.GrokStage.transcriptRules))
      .filter(col("route_errors")).count()
    assert(spark.read.parquet(s"$outDir/sink_errors").count() === batchErrors)
  }

  test("exactly-once claim: a batch killed BETWEEN two sink writes replays " +
      "without duplicates per (sink, batch_id)") {
    val base = Files.createTempDirectory("graft-xo").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val t = graft.transcripts.Transcripts.load(spark, sfUnit)
      .withColumn("ts", col("ts").cast("timestamp"))
    val part1 = t.filter(col("turn_idx") === 0)
    val part2 = t.filter(col("turn_idx") === 1)

    // batch 0 lands normally
    part1.coalesce(1).write.mode("append").parquet(inDir)
    val q1 = StreamingPipeline.writeSinks(
      Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir)),
      Seq("all", "errors"), outDir, ckpt)
    q1.processAllAvailable(); q1.stop()

    // batch 1's FIRST attempt dies after sink_all committed, before
    // sink_errors — the foreachBatch offset never commits
    part2.coalesce(1).write.mode("append").parquet(inDir)
    val crashing = Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamingPipeline.writeSinksBatch(batch, batchId, Seq("all", "errors"),
          outDir, afterSink = s =>
            if (s == "all") throw new RuntimeException("injected kill between sinks"))
      }
      .start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashing.processAllAvailable()
    }
    assert(died.getMessage.contains("injected kill") ||
      Option(died.getCause).exists(_.getMessage.contains("injected kill")))
    // the half-written state is visible: sink_all already has batch 1 rows
    val midAll = spark.read.parquet(s"$outDir/sink_all")
    assert(midAll.filter(col("batch_id") === 1).count() === part2.count())

    // restart replays batch 1 in full; dynamic overwrite of the batch_id
    // partition makes the half-delivered sink converge, not duplicate
    val q2 = StreamingPipeline.writeSinks(
      Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir)),
      Seq("all", "errors"), outDir, ckpt)
    q2.processAllAvailable(); q2.stop()

    val all = spark.read.parquet(s"$outDir/sink_all")
    assert(all.count() === part1.count() + part2.count())
    // no duplicate rows within any (batch_id): every key appears once
    Seq("all", "errors").foreach { s =>
      val rows = spark.read.parquet(s"$outDir/sink_$s")
      val dups = rows.groupBy("batch_id", "conv_id", "turn_idx")
        .count().filter(col("count") > 1).count()
      assert(dups === 0L, s"duplicates in sink_$s")
    }
    // routed-subset equality vs the batch router (contents, not just counts)
    val batchErrors = Pipeline.withRoutes(
      graft.parsers.GrokStage(t.filter(col("turn_idx") <= 1), "text",
        graft.parsers.GrokStage.transcriptRules))
      .filter(col("route_errors")).select("conv_id", "turn_idx")
      .as[(String, Int)].collect().sorted.toSeq
    val gotErrors = spark.read.parquet(s"$outDir/sink_errors")
      .select("conv_id", "turn_idx").as[(String, Int)].collect().sorted.toSeq
    assert(gotErrors === batchErrors)
  }

  test("suppress stream: duplicate elision with state across batches == batch suppress") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[Turn]
    val q = StreamingPipeline.suppressStream(mem.toDS(), _.conv_id,
      intervalSeconds = 120)
      .writeStream.format("memory").queryName("sup_stream")
      .outputMode("append").start()
    try {
      // batch 1: dup within interval suppressed, different text passes
      mem.addData(
        turn("c1", 0, 10, text = "same line"),
        turn("c1", 1, 11, text = "same line"), // dup, 1 min later
        turn("c1", 2, 12, text = "other"))
      q.processAllAvailable()
      // batch 2: the dup chain continues ACROSS the batch boundary;
      // a dup beyond the interval passes again
      mem.addData(
        turn("c1", 3, 13, text = "other"), // dup of last batch's tail
        turn("c1", 4, 30, text = "other")) // 17 min later: beyond interval
      q.processAllAvailable()
      val got = spark.table("sup_stream").select("turn_idx")
        .as[Int].collect().sorted.toSeq
      assert(got === Seq(0, 2, 4))
      // identical decision set to the batch operator on the closed input
      val all = Seq(
        turn("c1", 0, 10, text = "same line"), turn("c1", 1, 11, text = "same line"),
        turn("c1", 2, 12, text = "other"), turn("c1", 3, 13, text = "other"),
        turn("c1", 4, 30, text = "other")).toDF()
      val batch = graft.operators.Correlation.suppress(all,
        key = Seq(col("conv_id")), dupKey = col("text"), ts = col("ts"),
        intervalSeconds = 120, tieBreak = Seq(col("turn_idx")))
        .select("turn_idx").as[Int].collect().sorted.toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("ported config text runs unchanged on a LIVE stream (compileStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val cfg = s"""
      source s { transcripts("$sfUnit"); };
      parser p { db-parser(); };
      filter f_tool { match("tool_call" value("event")); };
      rewrite r { set-tag("checked"); set("$${role}/$${tool:-none}" value("who")); };
      destination d_tool { file("tool"); };
      destination d_rest { file("rest"); };
      log { source(s); parser(p); filter(f_tool); rewrite(r);
            destination(d_tool); flags(final); };
      log { source(s); destination(d_rest); flags(fallback); };
    """
    // live rows: a kv/tool-call line and a syslog-ish line
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Turn]
    val c = graft.config.ConfigText.compileStream(mem.toDF(), cfg)
    assert(c.flagged.isStreaming)
    val q = c.flagged.writeStream.format("memory").queryName("cfg_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(
        Turn("c1", 0, "assistant",
          "event=tool_call tool=bash duration_ms=12 ok=true", "bash", ts(1)),
        Turn("c1", 1, "user", "<13>t1 host app: plain message", null, ts(2)))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("cfg_stream")
      assert(got.count() === 2)
      // routing matches the BATCH compile of the same config semantics:
      // the kv tool_call row goes final into d_tool, the other falls back
      val tool = got.filter(col("route_tool")).select("turn_idx", "who")
        .as[(Int, String)].collect().toSeq
      assert(tool === Seq((0, "assistant/bash")))
      assert(got.filter(col("route_rest")).select("turn_idx").as[Int]
        .collect().toSeq === Seq(1))
      // rewrites applied under the path guard: tag only on the tool row
      val tags = got.select(col("turn_idx"), array_contains(col("tags"), "checked"))
        .as[(Int, Boolean)].collect().toMap
      assert(tags(0) && !tags(1))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment matches batch enrich") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val enriched = graft.enrich.ContextualData.enrich(
      input.toDS().toDF(),
      graft.enrich.ContextualData.lookupDf(spark),
      coalesce(concat(lit("tool:"), col("tool")), concat(lit("role:"), col("role"))))
    val q = enriched.writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    try {
      input.addData(turn("a", 0, 0, tool = "bash"), turn("a", 1, 1))
      q.processAllAvailable()
      val got = spark.table("enr").select("conv_id", "turn_idx", "team")
        .as[(String, Int, String)].collect().toSet
      assert(got === Set(("a", 0, "infra"), ("a", 1, "product"))) // tool:bash / role:user
    } finally q.stop()
  }

  test("a flagged file stream equals batch flaggedFrom over the same files, on every column") {
    val inDir = Files.createTempDirectory("graft-stream-flagged").toString + "/in"
    graft.transcripts.Transcripts.load(spark, sfUnit)
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(2).write.parquet(inDir)
    val stream = StreamingPipeline.source(spark, inDir)
    val q = Pipeline.flaggedFrom(spark, stream)
      .writeStream.format("memory").queryName("flagged").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("flagged")
      val batch = Pipeline.flaggedFrom(spark, spark.read.schema(stream.schema).parquet(inDir))
      assert(streamed.columns.toSeq === batch.columns.toSeq)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .sortBy(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).map(_.toSeq).toSeq
      val got = rows(streamed)
      assert(got.nonEmpty)
      assert(got === rows(batch))
    } finally q.stop()
  }

  test("streaming windowed sink counts match the batch aggregate on closed input") {
    val base = Files.createTempDirectory("graft-stream2").toString
    val inDir = s"$base/in"
    val t = graft.transcripts.Transcripts.load(spark, sfUnit)
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("turn_idx") < 3)
    t.coalesce(2).write.parquet(inDir)
    val flagged = Pipeline.flaggedFrom(spark, StreamingPipeline.source(spark, inDir))
    val q = StreamingPipeline.sinkCounts(flagged)
      .writeStream.format("memory").queryName("counts").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamTotal = spark.table("counts").agg(sum("n")).as[Long].head()
      val batchTotal = Pipeline.sinkCounts(
        Pipeline.withRoutes(graft.parsers.GrokStage(t, "text",
          graft.parsers.GrokStage.transcriptRules)))
        .agg(sum("n")).as[Long].head()
      assert(streamTotal === batchTotal)
    } finally q.stop()
  }

  test("patterndb + scanner stages on a stream match their batch results") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val parsed = graft.parsers.PatternDb.annotate(
      input.toDS().toDF(), "text", graft.parsers.PatternDb.transcriptRules)
    val q = parsed.select(col("conv_id"), col("pdb_rule"),
        col("pdb_fields")("duration_ms").as("dur"))
      .writeStream.format("memory").queryName("pdbstream").start()
    try {
      input.addData(
        turn("a", 0, 0, text = "event=tool_call tool=bash duration_ms=77 ok=true"),
        turn("a", 1, 1, text = "~~CORRUPT#1##"))
      q.processAllAvailable()
      val got = spark.table("pdbstream")
        .as[(String, String, String)].collect().sortBy(r => Option(r._2))
      assert(got.toSeq === Seq(("a", null, null), ("a", "pdb-kv", "77")))
    } finally q.stop()

    ()
  }

  test("filterx block + geoip enrichment run unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    // FilterX compiles to pure Column expressions (one projection + one
    // filter), so the same compile applies to a streaming frame; geoip is a
    // stream-static broadcast join
    val input = MemoryStream[Turn]
    val fx = graft.filterx.FilterX(
      input.toDS().toDF(),
      """$role != 'system';
        |$kind = isset($tool) ? 'T' : 'U';""".stripMargin)
    val enriched = graft.enrich.GeoIp.enrich(
      fx.withColumn("ip", concat(lit("10.2.0."), col("turn_idx").cast("string"))),
      col("ip"), graft.enrich.GeoIp.defaultRanges(spark))
    val q = enriched.select("conv_id", "kind", "geoip2_city")
      .writeStream.format("memory").queryName("fxstream").start()
    try {
      input.addData(
        turn("a", 0, 0, tool = "bash"),
        turn("a", 1, 1).copy(role = "system"),
        turn("a", 2, 2))
      q.processAllAvailable()
      val got = spark.table("fxstream")
        .as[(String, String, String)].collect().sortBy(_._2)
      assert(got.toSeq === Seq(("a", "T", "region-2"), ("a", "U", "region-2")))
    } finally q.stop()
  }

  test("every parse stage gives the same rows on a stream as on a batch frame") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.parsers._
    val opt = SyslogFormat.Options(nowEpochUsec = 1549615069123000L)
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "grok" -> (GrokStage(_, "text", GrokStage.transcriptRules)),
      "patterndb" -> (PatternDb.annotate(_, "text", PatternDb.transcriptRules)),
      "syslog" -> (SyslogFormat.stage(_, "text", opt)),
      "cisco" -> (CiscoParser.stage(_, "text", opt)),
      "csv" -> (Scanners.csvStage(_, "text", Seq("c1", "c2", "c3"),
        Scanners.CsvOptions(dialect = Scanners.EscapeDoubleChar))),
      "kv" -> (Scanners.kvStage(_, "text", Scanners.KvOptions(extractStrayWords = true))),
      "snmptrapd" -> (SnmpTrapd.stage(_, "text")))
    val texts = Seq(
      "<13>Mar  3 10:11:12 host-1 bash[42]: action=run status=ok",
      "event=tool_call tool=bash duration_ms=77 ok=true",
      "boot msg='hello world' n=2",
      "<189>29: foo: *Apr 29 13:58:40.411: %SYS-5-CONFIG_I: Configured",
      "conv-1,\"a, \"\"b\"\"\",x",
      "2017-11-10 13:23:16 host9 [UDP: [10.0.0.1]:53831->[10.0.0.2]:162]: iso.9\n" +
        "\t Cold Start Trap (0) Uptime: 1:02:03.04\n" +
        "NET-SNMP-MIB::val = INTEGER: 7",
      "~~CORRUPT#1##",
      null)
    val turns = texts.zipWithIndex.map { case (t, i) => turn("a", i, i, text = t) }
    def sorted(rows: Array[Row]) = rows.toSeq.sortBy(_.getAs[Int]("turn_idx"))
    stages.foreach { case (name, stage) =>
      val input = MemoryStream[Turn]
      val q = stage(input.toDS().toDF())
        .writeStream.format("memory").queryName(s"parse_eq_$name").start()
      try {
        input.addData(turns: _*)
        q.processAllAvailable()
        val streamed = sorted(spark.table(s"parse_eq_$name").collect())
        val batch = sorted(stage(turns.toDF()).collect())
        assert(streamed.nonEmpty && streamed === batch, s"$name: stream != batch")
        name match {
          case "kv" =>
            val r = streamed.find(_.getAs[Int]("turn_idx") == 2).get
            assert(r.getAs[Map[String, String]]("kv_fields")("msg") === "hello world")
            assert(r.getAs[String]("kv_stray") === "boot")
          case "snmptrapd" => // rows whose header does not parse are dropped
            assert(streamed.map(_.getAs[Int]("turn_idx")) === Seq(5))
          case _ => assert(streamed.length === texts.length)
        }
      } finally q.stop()
    }
  }
}

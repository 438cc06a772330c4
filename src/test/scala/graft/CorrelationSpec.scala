package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Correlation

/** Stateful/correlation operators (reference modules/correlation/) against
  * hand-computed expectations — the analog of the reference's
  * test_grouping_by.c / rate-limit unit tests.
  */
class CorrelationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  private lazy val turns = Seq(
    // (conv, turn, tool, minutes)
    ("a", 0, null, 0L), ("a", 1, "bash", 5L), ("a", 2, null, 20L),
    // a: 90-min gap -> second session at 12m timeout
    ("a", 3, "bash", 110L), ("a", 4, null, 115L),
    // b: one single-turn session
    ("b", 0, null, 7L),
    ("b", 1, "search", 200L), ("b", 2, null, 204L))
    .toDF("conv_id", "turn_idx", "tool", "m")
    .withColumn("ts", timestamp_millis(col("m") * 60000L))

  test("grouping-by: session windows per key, timeout gap, having") {
    val got = Correlation.groupingBy(
      turns,
      keys = Seq(col("conv_id")),
      ts = col("ts"),
      timeout = "12 minutes",
      aggs = Seq(count(lit(1)).as("n_turns"),
        sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool")),
      having = Some(col("n_turns") >= 2))
      .select("conv_id", "n_turns", "n_tool", "session_start", "session_end")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4)))
      .sortBy(x => (x._1, x._4.getTime))

    // a: turns 0,1 merge (gap 5m), turn 2 merges (gap 15m>12m? no — 15m >= 12m splits)
    assert(got === Seq(
      ("a", 2L, 1L, ts(0), ts(5 + 12)),
      ("a", 2L, 1L, ts(110), ts(115 + 12)),
      ("b", 2L, 1L, ts(200), ts(204 + 12))))
  }

  test("rate-limit: first `rate` rows per key+bucket in deterministic order") {
    val got = Correlation.rateLimit(
      turns, keys = Seq(col("conv_id")), ts = col("ts"),
      bucket = "hour", rate = 2, tieBreak = Seq(col("turn_idx")))
      .select("conv_id", "turn_idx").as[(String, Int)].collect().sorted
    // a hour0: turns 0,1 pass, 2 dropped; a hour1: 3,4 pass; b: all pass
    assert(got === Seq(("a", 0), ("a", 1), ("a", 3), ("a", 4),
      ("b", 0), ("b", 1), ("b", 2)).sorted)
  }

  test("patterndb action rate(N/quantum): reference token-bucket arithmetic") {
    // rate 2/60 -> den = (60<<8)/2 = 7680; events on one key at seconds
    // 0,10,20,40,70,130. Hand-walk of patterndb.c:173-230:
    //   t0   first sighting: bucket full (2) -> PASS, b=1
    //   t10  delta 10 -> credits 2560/7680 = 0 -> b=1 -> PASS, b=0
    //   t20  delta 20 (last never advanced) -> credits 0 -> b=0 -> BLOCKED
    //   t40  delta 40 -> credits 10240/7680 = 1 -> b=1, last=40 -> PASS, b=0
    //   t70  delta 30 -> credits 7680/7680 = 1 -> b=1, last=70 -> PASS, b=0
    //   t130 delta 60 -> credits 2 -> b=2, last=130 -> PASS, b=1
    val df = Seq(0L, 10L, 20L, 40L, 70L, 130L).zipWithIndex
      .map { case (t, i) => ("k1", i, t) }.toDF("key", "i", "secs")
      .withColumn("ts", timestamp_millis(col("secs") * 1000L))
    val got = Correlation.actionRateLimit(
      df, keys = Seq(col("key")), ts = col("ts"),
      rate = 2, quantumSeconds = 60, tieBreak = Seq(col("i")))
      .select("secs").as[Long].collect().sorted
    assert(got === Seq(0L, 10L, 40L, 70L, 130L))
    // a second key has its own untouched bucket
    val two = Correlation.actionRateLimit(
      df.withColumn("key", when(col("i") < 3, lit("k1")).otherwise(lit("k2"))),
      keys = Seq(col("key")), ts = col("ts"),
      rate = 2, quantumSeconds = 60, tieBreak = Seq(col("i")))
      .select("key", "secs").as[(String, Long)].collect().sorted
    // k1: 0,10 pass then 20 blocked (b=0, credits 0); k2: fresh bucket at
    // t40 -> 40,70 pass, t130 delta 60 -> credits 2 -> pass
    assert(two === Seq(("k1", 0L), ("k1", 10L),
      ("k2", 40L), ("k2", 70L), ("k2", 130L)).sorted)
  }

  test("patterndb XML action rate attribute parses and gates synthetic messages") {
    import graft.parsers.PatternDb
    val rules = PatternDb.loadXml(
      """<patterndb version="4"><ruleset name="rs" id="rs1"><rules>
        |<rule id="r-lim" class="system"><patterns>
        |  <pattern>login @STRING:user@</pattern></patterns>
        |  <actions><action rate="1/60" trigger="match">
        |    <message><value name="MESSAGE">limited</value></message>
        |  </action></actions></rule>
        |<rule id="r-free" class="system"><patterns>
        |  <pattern>logout @STRING:user@</pattern></patterns>
        |  <actions><action trigger="match">
        |    <message><value name="MESSAGE">unlimited</value></message>
        |  </action></actions></rule>
        |</rules></ruleset></patterndb>""".stripMargin)
    assert(rules.map(r => r.id -> r.actionRate).toMap ===
      Map("r-lim" -> Some((1, 60)), "r-free" -> None))
    assert(PatternDb.parseActionRate("5") === Some((5, 1)))
    assert(PatternDb.parseActionRate("3/0") === Some((3, 1))) // quantum 0 -> 1
    // gate synthetic emission: 4 matches in one minute on one key, rate
    // 1/60 -> only the first fires the action (patterndb.c:224-228)
    val msgs = Seq(0L, 10L, 20L, 70L).zipWithIndex
      .map { case (t, i) => ("h1", i, t, s"login u$i") }
      .toDF("host", "i", "secs", "msg")
      .withColumn("ts", timestamp_millis(col("secs") * 1000L))
    val matched = PatternDb.annotate(msgs, "msg", rules)
      .filter(col("pdb_rule") === "r-lim")
    val fired = Correlation.actionRateLimit(
      matched, keys = Seq(col("pdb_rule"), col("host")), ts = col("ts"),
      rate = 1, quantumSeconds = 60, tieBreak = Seq(col("i")))
      .select("secs").as[Long].collect().sorted
    // t0 passes (full bucket), t10/t20 blocked (credits 0), t70 delta 70
    // -> credits 70*256/15360 = 1 -> passes
    assert(fired === Seq(0L, 70L))
  }

  test("suppress: consecutive same-key duplicates within interval elided, repeated counted") {
    val msgs = Seq(
      ("h1", "up", 0L), ("h1", "up", 10L), ("h1", "up", 20L), // run of 3 -> 1 survivor, repeated=2
      ("h1", "down", 25L), // different msg -> survives
      ("h1", "down", 200L), // same msg but > interval -> survives alone
      ("h2", "up", 0L)) // other key
      .toDF("host", "msg", "m")
      .withColumn("ts", timestamp_millis(col("m") * 60000L))
    val got = Correlation.suppress(msgs,
      key = Seq(col("host")), dupKey = col("msg"), ts = col("ts"),
      intervalSeconds = 3600L, tieBreak = Seq(col("m")))
      .select("host", "msg", "m", "repeated")
      .as[(String, String, Long, Long)].collect().sortBy(x => (x._1, x._3))
    assert(got === Seq(
      ("h1", "up", 0L, 2L), ("h1", "down", 25L, 0L),
      ("h1", "down", 200L, 0L), ("h2", "up", 0L, 0L)).sortBy(x => (x._1, x._3)))
  }

  test("metrics-probe: label-keyed counters with increment") {
    val got = Correlation.metricsProbe(
      turns, "probe",
      labels = Map("conv" -> col("conv_id")),
      increment = when(col("tool").isNotNull, 10L).otherwise(1L))
      .select("stage", "conv", "n_msgs", "value")
      .as[(String, String, Long, Long)].collect().sortBy(_._2)
    assert(got === Seq(("probe", "a", 5L, 23L), ("probe", "b", 3L, 12L)))
  }

  test("logscheduler: repartition keeps per-key co-location") {
    val p = Correlation.schedule(turns, 3, col("conv_id"))
    assert(p.rdd.getNumPartitions === 3)
    // every conv_id lands in exactly one partition
    val perKey = p.withColumn("pid", spark_partition_id())
      .groupBy("conv_id").agg(countDistinct("pid").as("n"))
      .as[(String, Long)].collect()
    assert(perKey.forall(_._2 == 1L))
  }

  test("synthetic messages on context close: inherit none/last-message/context") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val df = Seq(
      ("c1", 0, ts(0), "login", "h1"),
      ("c1", 1, ts(1), null, "h2"),
      ("c1", 2, ts(2), "logout", null), // closes with action=logout, host null
      ("c2", 0, ts(0), "read", "h9")).toDF("conv_id", "i", "ts", "action", "host")
    def run(mode: String) = graft.operators.Correlation.syntheticMessages(
      df, Seq(col("conv_id")), col("ts"), "1 hour", col("i"),
      inheritMode = mode, inheritCols = Seq("action", "host"),
      values = Seq(count(lit(1)).as("n")))
    val none = run("none")
    assert(!none.columns.contains("action") && none.count() === 2)
    val last = run("last-message").filter(col("conv_id") === "c1")
      .select("n", "action", "host").as[(Long, String, String)].head()
    assert(last === ((3L, "logout", null))) // closing row verbatim
    val ctx = run("context").filter(col("conv_id") === "c1")
      .select("n", "action", "host").as[(Long, String, String)].head()
    assert(ctx === ((3L, "logout", "h2"))) // last non-null per column
  }

  // ---- group-lines FSM modes (reference lib/multi-line/) ----
  private def blocks(lines: Seq[String], mode: Correlation.MultiLineMode): Seq[String] = {
    val df = lines.zipWithIndex.map { case (t, i) => ("k", i, t) }.toDF("k", "i", "text")
    Correlation.groupLines(df, col("k"), col("i"), col("text"), mode)
      .orderBy("block").select("joined").as[String].collect().toSeq
  }

  test("group-lines indented: whitespace lines continue the previous message") {
    val got = blocks(Seq("first", "  cont 1", "\tcont 2", "second", "  c"),
      Correlation.Indented)
    assert(got === Seq("first\n  cont 1\n\tcont 2", "second\n  c"))
  }

  test("group-lines prefix-garbage: garbage closes the block and is discarded") {
    val got = blocks(Seq("MSG a", "l1", "--end--", "MSG b", "l2"),
      Correlation.PrefixGarbage("^MSG", "^--end--"))
    assert(got === Seq("MSG a\nl1", "MSG b\nl2"))
  }

  test("group-lines prefix-suffix: suffix line is included and closes the block") {
    val got = blocks(Seq("BEGIN x", "l1", "END", "BEGIN y", "END"),
      Correlation.PrefixSuffix("^BEGIN", "^END"))
    assert(got === Seq("BEGIN x\nl1\nEND", "BEGIN y\nEND"))
  }

  // reference lib/multi-line/tests/test_smart_multi_line.c fixtures against
  // the table-driven FSM (resources/graft/smart-multi-line.fsm)
  test("group-lines smart: mixed python tracebacks split per Traceback head " +
      "(feed_smart_multi_line_with_single_and_multi_line_messages)") {
    def trace(n: String) = Seq(
      "Traceback (most recent call last):",
      s"File \"./lib/merge-grammar$n.py\", line 62, in <module>",
      "  for line in fileinput.input(openhook=fileinput.hook_encoded(\"utf-8\")):",
      "File \"/usr/lib/python3.8/fileinput.py\", line 248, in __next__",
      "  line = self._readline()")
    val got = blocks(
      Seq("this is something unrelated",
        "again something unrelated",
        "yet again something unrelated, but 3 tracebacks are COMING") ++
        trace("") ++ trace("2") ++ trace("3") ++ Seq("unrelated line here"),
      Correlation.Smart)
    assert(got.length === 7)
    assert(got.take(3) === Seq("this is something unrelated",
      "again something unrelated",
      "yet again something unrelated, but 3 tracebacks are COMING"))
    assert(got(3) === trace("").mkString("\n"))
    assert(got(4) === trace("2").mkString("\n"))
    assert(got(5) === trace("3").mkString("\n"))
    assert(got(6) === "unrelated line here")
  }

  test("group-lines smart: python trailing exception text closes the trace " +
      "(test_python_backtrace_with_tailing_exception_text)") {
    val lines = Seq(
      "Traceback (most recent call last):",
      "File \"./lib/merge-grammar.py\", line 62, in <module>",
      "  for line in fileinput.input(openhook=fileinput.hook_encoded(\"utf-8\")):",
      "File \"/usr/lib/python3.8/fileinput.py\", line 368, in _readline",
      "  return self._readline()",
      "ValueError: whatever exception that happened")
    assert(blocks(lines, Correlation.Smart) === Seq(lines.mkString("\n")))
  }

  test("group-lines smart: java Caused by / nested exception / '... N more' " +
      "(test_java_backtrace)") {
    val lines = Seq(
      "java.lang.RuntimeException: javax.mail.SendFailedException: Invalid Addresses;",
      "  nested exception is:",
      "com.sun.mail.smtp.SMTPAddressFailedException: 550 5.7.1 denied",
      "\tat com.example.crm.AutomaticEmailFacade.sendWithSmtp(AutomaticEmailFacade.java:236)",
      "\tat java.util.Optional.ifPresent(Optional.java:159)",
      "\tat java.base/java.lang.Thread.run(Thread.java:748)",
      "Caused by: javax.mail.SendFailedException: Invalid Addresses;",
      "  nested exception is:",
      "com.sun.mail.smtp.SMTPAddressFailedException: 550 5.7.1 denied",
      "\tat com.sun.mail.smtp.SMTPTransport.rcptTo(SMTPTransport.java:2064)",
      "\t... 12 more",
      "Caused by: com.sun.mail.smtp.SMTPAddressFailedException: 550 5.7.1 denied")
    assert(blocks(lines, Correlation.Smart) === Seq(lines.mkString("\n")))
  }

  test("group-lines smart: go panic with goroutine dumps is ONE message " +
      "(test_go_backtrace)") {
    val lines = Seq(
      "panic: my panic",
      "",
      "goroutine 4 [running]:",
      "panic(0x45cb40, 0x47ad70)",
      "\t/usr/local/go/src/runtime/panic.go:542 +0x46c fp=0xc42003f7b8",
      "main.main.func1(0xc420024120)",
      "\tfoo.go:6 +0x39 fp=0xc42003f7d8",
      "created by main.main",
      "\tfoo.go:5 +0x58",
      "",
      "goroutine 1 [chan receive]:",
      "runtime.gopark(0x4739b8, 0xc420024178, 0x46fcd7, 0xc, 0xc420028e17, 0x3)",
      "\t/usr/local/go/src/runtime/proc.go:280 +0x12c fp=0xc420053e30",
      "runtime.goexit()",
      "\t/usr/local/go/src/runtime/asm_amd64.s:2337 +0x1 fp=0xc420053fe8")
    assert(blocks(lines, Correlation.Smart) === Seq(lines.mkString("\n")))
  }

  test("group-lines smart: two rails error traces split at the second head " +
      "(test_ruby_backtrace)") {
    val t1 = Seq(
      " NoMethodError (undefined method `resursivewordload' for #<BooksController:0x007f8dd9a0c738>):",
      "  app/controllers/books_controller.rb:69:in `recursivewordload'",
      "  app/controllers/books_controller.rb:118:in `generror'",
      "  config/error_reporting_logger.rb:62:in `tagged'")
    val t2 = Seq(
      " ActionController::RoutingError (No route matches [GET] \"/settings\"):",
      "  ",
      "  actionpack (5.1.4) lib/action_dispatch/middleware/debug_exceptions.rb:63:in `call'",
      "  puma (3.10.0) lib/puma/thread_pool.rb:120:in `block in spawn_thread'")
    assert(blocks(t1 ++ t2, Correlation.Smart)
      === Seq(t1.mkString("\n"), t2.mkString("\n")))
  }

  test("group-lines smart: php + dart traces (test_php_backtrace/test_dart_backtrace shapes)") {
    val php = Seq(
      "PHP Fatal error:  Uncaught exception 'Exception' with message 'Custom exception' in /srv/index.php:17",
      "Stack trace:",
      "#0 {main}",
      "  thrown in /srv/index.php on line 17")
    val dart = Seq(
      "Unhandled exception:",
      "Exception: FOOBAR",
      "#0      main (file:///path/to/code/dartFile.dart:29:3)",
      "#1      _delayEntrypointInvocation.<anonymous closure> (dart:isolate-patch/isolate_patch.dart:297:19)",
      "<asynchronous suspension>")
    val got = blocks(php ++ Seq("plain line") ++ dart, Correlation.Smart)
    assert(got === Seq(php.mkString("\n"), "plain line", dart.mkString("\n")))
  }

  test("group-lines smart: a filter on an input column does not reach below the FSM") {
    val lines = Seq("unrelated", "Traceback (most recent call last):",
      "File \"./x.py\", line 62, in <module>", "  x()", "plain")
    val df = (lines.map(("a", _)) ++ lines.reverse.map(("b", _))).zipWithIndex
      .map { case ((k, t), i) => (k, i, t) }.toDF("k", "i", "text")
    val annotated = graft.operators.SmartMultiLine.annotateStarts(
      df, col("k"), col("i"), col("text"))
    val want = annotated.collect().filter(_.getAs[Int]("i") > 1).toSet
    assert(want.nonEmpty)
    assert(annotated.filter(col("i") > 1).collect().toSet === want)
  }

  test("grouping-by trigger + inject modes (test_grouping_by.c:65-150)") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    // 4 messages, trigger(context-length == 3): one full context of 3 and
    // one open context of 1
    val df = (0 until 4).map(i => ("c1", t(i), s"m$i"))
      .toDF("key", "ts", "text")
    val aggOnly = Correlation.groupingByTriggered(
      df, Seq(col("key")), col("ts"), timeoutSeconds = 100, triggerCount = 3,
      aggs = Seq(count(lit(1)).as("n"), concat_ws(",",
        transform(array_sort(collect_list(struct(col("ts"), col("text")))),
          x => x("text"))).as("joined")))
    // aggregate-only: just the context aggregates, originals dropped
    val rows = aggOnly.orderBy("joined").select("n", "joined")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((3L, "m0,m1,m2"), (1L, "m3")))
    // pass-through: aggregates AND the 4 original messages
    val pt = Correlation.groupingByTriggered(
      df, Seq(col("key")), col("ts"), 100, 3,
      Seq(count(lit(1)).as("n")), injectPassThrough = true)
    assert(pt.count() === 6) // 2 aggregates + 4 originals
    assert(pt.where(col("n").isNull).count() === 4)
    // a timeout gap also closes the context (trigger never fired)
    val gapped = Seq(("c1", t(0), "a"), ("c1", t(1), "b"), ("c1", t(500), "c"))
      .toDF("key", "ts", "text")
    val g = Correlation.groupingByTriggered(
      gapped, Seq(col("key")), col("ts"), 100, 3,
      Seq(count(lit(1)).as("n"))).select("n").as[Long].collect().toSeq.sorted
    assert(g === Seq(1L, 2L))
  }

  test("context functions callable from template text inside aggregate()") {
    import graft.functions.Templates
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val df = Seq(
      ("c1", 0, t(0), "login"), ("c1", 1, t(1), "read"), ("c1", 2, t(2), "logout"))
      .toDF("conv_id", "i", "ts", "action")
    val resolver: Templates.Resolver = n =>
      if (Set("action", "i").contains(n)) Some(col(n)) else None
    // grep condition: "is action exactly 6 chars" -> only 'logout' here
    // (nested calls: if(length(action)-6, falsy, truthy))
    val summary = Templates.compile(
      "n=$(context-length) acts=$(context-values $action $i)" +
        " outs=$(grep $(if $(- $(length $action) 6) 0 1) $action $i)",
      resolver)
    val got = Correlation.groupingBy(df, Seq(col("conv_id")), col("ts"), "1 hour",
      aggs = Seq(summary.as("s"))).select("s").as[String].head()
    assert(got === "n=3 acts=login,read,logout outs=logout")
    // a value CONTAINING a comma renders quoted in the LIST
    // (test_basicfuncs.c test_context_funcs ${comma_value})
    val dfc = Seq(("c1", 0, t(0), "value,with,a,comma"), ("c1", 1, t(1), "plain"))
      .toDF("conv_id", "i", "ts", "action")
    val vals = Templates.compile("$(context-values $action $i)", resolver)
    val gotc = Correlation.groupingBy(dfc, Seq(col("conv_id")), col("ts"), "1 hour",
      aggs = Seq(vals.as("s"))).select("s").as[String].head()
    assert(gotc === "\"value,with,a,comma\",plain")
  }
}

package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload at one thread level and
  * prints one line `PERFBENCH <json>` for the Python runner:
  *
  *   --workload W --input DIR --work DIR --seconds S --trace 0|1 --threads N
  *
  * Untraced: set-up, warm-up passes for 3 S, then timed passes for S.
  * Traced: the same warm-up, untraced and traced full passes interleaved
  * (their difference is the tracing overhead), then every layer prefix.
  */
object Main {

  final case class Level(threads: Int, warmS: Seq[Double], warmJitMs: Seq[Double],
      passS: Seq[Double], jitMs: Double, gcMs: Double, attempted: Int, failed: Int,
      errors: Seq[String], heapPeakMb: Double, cachePeakMb: Double)

  private val MinTimed = 5

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val threads = opt("threads").toInt
    val seconds = opt("seconds").toDouble
    Jvm.install()
    val w = Workload(opt("workload"), opt("input"))

    val selfTest = w.selfTest
    if (selfTest.nonEmpty) {
      System.err.println("check self-test failed: " + selfTest.mkString("; "))
      sys.exit(3)
    }

    val spark = session(threads, work)
    w.prepare(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"), "setup_s" -> setupS, "rows" -> w.rows,
      "input_bytes" -> w.inputBytes, "threads" -> threads,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString, "selftest" -> "passed")
    val out = s"$work/out"
    if (opt("trace") == "1") traced(spark, w, out, threads, seconds, work, res)
    else {
      res("levels") = Seq(level(measure(spark, w, out, seconds, threads)))
      res("out_bytes") = Files.bytes(new File(out))
    }
    spark.stop()
    emit(res)
  }

  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One checked pass: (seconds, error). A pass that throws or fails its
    * check is an error and its time is never used. */
  private def onePass(spark: SparkSession, w: Workload, out: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try {
      val check = w.pass(spark, out)
      val s = (System.nanoTime() - t0) / 1e9
      (s, check())
    } catch {
      case NonFatal(e) => ((System.nanoTime() - t0) / 1e9, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  /** Warm-up passes for 3 * `seconds` (at least two), then timed passes
    * until they add up to `seconds` and at least MinTimed ran. The JIT
    * compiles for tens of CPU-seconds after start, so warm-up is counted
    * in wall time. Every pass starts after a full collection, untimed: a
    * pass pays for its own garbage, not for what earlier passes left in
    * the old generation. Its heap figure is the peak heap in use after any
    * collection during the pass. */
  def measure(spark: SparkSession, w: Workload, out: String, seconds: Double,
      threads: Int, counters: Option[ExecCounters] = None, warmOnly: Boolean = false): Level = {
    val ec = counters.getOrElse {
      val c = new ExecCounters(spark.sparkContext, threads)
      spark.sparkContext.addSparkListener(c)
      c
    }
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmJit = mutable.ArrayBuffer.empty[Double]
    while (warm.size < 2 || warm.sum < 3 * seconds) {
      System.gc()
      val j0 = Jvm.jitMs
      val (s, err) = onePass(spark, w, out)
      val jit = (Jvm.jitMs - j0).toDouble
      attempted += 1
      err.foreach(errors += _)
      warm += s
      warmJit += jit
    }
    ec.open()
    var jit = 0.0
    var gc = 0.0
    val timed = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    var n = 0
    while (!warmOnly && (n < MinTimed || timed.sum < seconds)) {
      Jvm.resetHeapPeak()
      val j0 = Jvm.jitMs
      val g0 = Jvm.gcMs
      val (s, err) = onePass(spark, w, out)
      jit += Jvm.jitMs - j0
      gc += Jvm.gcMs - g0
      attempted += 1
      n += 1
      err match {
        case Some(e) => errors += e
        case None    => timed += s; heap += Jvm.heapPeakMb
      }
    }
    val win = ec.close()
    if (counters.isEmpty) spark.sparkContext.removeSparkListener(ec)
    Level(threads, warm.toSeq, warmJit.toSeq, timed.toSeq, jit, gc, attempted, errors.size,
      errors.distinct.take(5).toSeq, Stats.median(heap), win.cachePeakMb)
  }

  private def level(l: Level): Map[String, Any] = Map(
    "threads" -> l.threads, "warm_s" -> l.warmS, "warm_jit_ms" -> l.warmJitMs,
    "pass_s" -> l.passS, "jit_ms" -> l.jitMs, "gc_ms" -> l.gcMs,
    "attempted" -> l.attempted, "failed" -> l.failed, "errors" -> l.errors,
    "heap_after_gc_peak_mb" -> l.heapPeakMb, "cache_peak_mb" -> l.cachePeakMb)

  /** Traced run: per-layer self times from cumulative prefixes, execution
    * counters over traced full passes, and the tracing overhead. */
  private def traced(spark: SparkSession, w: Workload, out: String, threads: Int,
      seconds: Double, work: String, res: mutable.Map[String, Any]): Unit = {
    val ec = new ExecCounters(spark.sparkContext, threads)
    spark.sparkContext.addSparkListener(ec)
    val writes = new WriteTimes
    spark.listenerManager.register(writes)
    val spans = new Spans(s"${res("workload")}-${ProcessHandle.current.pid}", ec)

    val warm = measure(spark, w, out, seconds, threads, Some(ec), warmOnly = true)
    // untraced and traced full passes in ABBA order, so both see the same
    // JIT and heap state; a traced pass gets a counter window and a span
    val passWin = mutable.ArrayBuffer.empty[ExecWindow]
    val plainS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    var errors = warm.failed
    var attempted = warm.attempted
    var jit = 0.0
    var gc = 0.0
    writes.synchronized(writes.seconds.clear())
    for (i <- 0 until 2 * MinTimed) {
      val isTraced = i % 4 == 1 || i % 4 == 2
      System.gc()
      val j0 = Jvm.jitMs
      val g0 = Jvm.gcMs
      val (s, err) =
        if (!isTraced) onePass(spark, w, out)
        else {
          val (r, _, win) = spans.record("pass", "")(onePass(spark, w, out))
          passWin += win
          r
        }
      if (isTraced) { jit += Jvm.jitMs - j0; gc += Jvm.gcMs - g0 }
      attempted += 1
      err match {
        case Some(_) => errors += 1
        case None    => (if (isTraced) tracedS else plainS) += s
      }
    }

    // cumulative prefixes: one warm run, then the median of three
    val prefixes = w.prefixes(spark)
    val pTime = mutable.LinkedHashMap.empty[String, Double]
    val pWin = mutable.Map.empty[String, ExecWindow]
    prefixes.foreach { p =>
      p.run()
      val runs = (0 until 3).map { _ =>
        val (_, sp, win) = spans.record(p.name, p.after)(p.run())
        (sp.endNs - sp.startNs) / 1e9 -> win
      }
      pTime(p.name) = Stats.median(runs.map(_._1))
      pWin(p.name) = runs.sortBy(_._1).apply(1)._2
    }
    val self = prefixes.map(p => p.name -> math.max(0.0, pTime(p.name) - pTime.getOrElse(p.after, 0.0))).toMap
    val counts = w.counts(spark, out)

    def med(f: ExecWindow => Double) = Stats.median(passWin.map(f).toSeq)
    def writeS(name: String) = Stats.median(writes.seconds.getOrElse(name, Nil).toSeq)
    val sinkNames = Seq("all", "tool_calls", "errors", "fallback")
    val isSinks = w.isInstanceOf[TurnsSinks]
    val m = mutable.LinkedHashMap[String, Double](
      "scan.s" -> self.getOrElse("scan", 0.0),
      "scan.bytes" -> w.inputBytes.toDouble,
      "derive.s" -> self.getOrElse("derive", 0.0),
      "derive.task_skew" -> pWin.get("derive").map(_.stageSkew).getOrElse(0.0),
      "parse.s" -> self.getOrElse("parse", 0.0),
      "parse.plan_ms" -> (if (prefixes.exists(_.name == "parse")) planMs(spark, w) else 0.0),
      "parse.match_frac" -> counts.getOrElse("parse.match_frac", 0.0),
      "enrich.s" -> self.getOrElse("enrich", 0.0),
      "enrich.default_frac" -> counts.getOrElse("enrich.default_frac", 0.0),
      "route.s" -> self.getOrElse("route", 0.0),
      "route.fanout" -> counts.getOrElse("route.fanout", 0.0),
      "route.unmatched_frac" -> counts.getOrElse("route.unmatched_frac", 0.0),
      "agg.s" -> (if (isSinks) writeS("agg_counts") else self.getOrElse("agg", 0.0)),
      "agg.groups" -> counts.getOrElse("agg.groups", 0.0),
      "agg.shuffle_bytes" -> pWin.get("agg").map(_.shuffleBytes.toDouble).getOrElse(0.0)) ++
      sinkNames.map(s => s"sink.$s.s" -> (if (isSinks) writeS(s"sink_$s") else 0.0)) ++ Seq(
      "sink.bytes" -> counts.getOrElse("sink.bytes", 0.0),
      "sink.files" -> counts.getOrElse("sink.files", 0.0),
      "cache.peak_mb" -> passWin.map(_.cachePeakMb).maxOption.getOrElse(0.0),
      "cache.disk_mb" -> passWin.map(_.cacheDiskMb).maxOption.getOrElse(0.0),
      "stats.s" -> (if (isSinks) writeS("stats") else 0.0),
      "stats.rows" -> counts.getOrElse("stats.rows", 0.0),
      "corpus.url.s" -> self.getOrElse("corpus.url", 0.0),
      "corpus.edges.s" -> self.getOrElse("corpus.edges", 0.0),
      "corpus.edges.n" -> counts.getOrElse("corpus.edges.n", 0.0),
      "corpus.clusters.s" -> self.getOrElse("corpus.clusters", 0.0),
      "corpus.clusters.jobs" -> pWin.get("corpus.clusters").map(c =>
        (c.jobs - pWin("corpus.edges").jobs).toDouble).getOrElse(0.0),
      "corpus.lm.s" -> self.getOrElse("corpus.lm", 0.0),
      "corpus.ce.s" -> self.getOrElse("corpus.ce", 0.0),
      "exec.busy_frac" -> med(_.busyFrac),
      "exec.cpu_s" -> med(_.cpuS),
      "exec.gc_s" -> med(_.gcS),
      "exec.sched_wait_s" -> med(_.idleS),
      "exec.task_ms_p50" -> med(_.taskMsP50),
      "exec.task_ms_max" -> med(_.taskMsMax),
      "exec.jobs" -> med(_.jobs.toDouble),
      "exec.stages" -> med(_.stages.toDouble),
      "exec.shuffle_bytes" -> med(_.shuffleBytes.toDouble),
      "exec.spill_bytes" -> med(_.spillBytes.toDouble),
      "jvm.jit_ms" -> jit,
      "jvm.gc_ms" -> gc)
    val untracedRate = w.rows / Stats.median(plainS)
    val tracedRate = w.rows / Stats.median(tracedS)
    m("trace.overhead") = 1.0 - tracedRate / untracedRate
    res("per_layer") = m
    res("levels") = Seq(level(warm.copy(passS = plainS.toSeq, attempted = attempted,
      failed = errors)))
    res("traced_pass_s") = tracedS.toSeq
    res("rows_per_s_untraced") = untracedRate
    res("rows_per_s_traced") = tracedRate
    res("prefix_s") = pTime
    val spanFile = new File(work, s"spans-${res("workload")}.json")
    val pw = new PrintWriter(spanFile, "UTF-8")
    try pw.println(Json(spans.all.map(s => Map(
      "name" -> s.name, "parent" -> s.parent, "run" -> s.run, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "counters" -> s.counters))))
    finally pw.close()
    res("spans_file") = spanFile.getPath
  }

  /** Milliseconds to analyse, optimise and plan the parse prefix. */
  private def planMs(spark: SparkSession, w: Workload): Double = {
    val t = w match {
      case s: TurnsSinks => graft.transcripts.Transcripts.load(spark, s.in)
      case _             => spark.read.parquet(s"${w.in}/${w.inputFile}")
    }
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      Workload.parse(t).queryExecution.executedPlan
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def emit(res: collection.Map[String, Any]): Unit = {
    println("PERFBENCH " + Json(res))
    System.out.flush()
  }
}

/** Just enough JSON for numbers, strings, sequences and maps. */
object Json {
  def apply(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean                => b.toString
    case n: Number                 => n.toString
    case m: collection.Map[_, _]   => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]            => s.map(apply).mkString("[", ",", "]")
    case other                     => apply(other.toString)
  }
}

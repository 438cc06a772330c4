package graft.observe

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The stats subsystem (reference lib/stats/): per-stage counters collected
  * without extra passes.
  *
  * Each pipeline stage is wrapped with `observed(df, stage)` —
  * `Dataset.observe` accumulates the counters inside the existing job (the
  * reference's per-pipe counters, stats-registry.c), and a
  * QueryExecutionListener snapshots them into a stats table with
  * (stage, counter, value, job) rows — the syslog-ng-ctl stats / Prometheus
  * exposition analog. Zero extra scans; the counters ride the action that
  * already ran.
  */
object Stats {

  /** Attach standard counters to a stage: processed rows + per-stage extras
    * (reference: processed/matched/not_matched per filter pipe).
    */
  def observed(df: DataFrame, stage: String, extra: (String, Column)*): DataFrame = {
    val metrics = count(lit(1)).as("processed") +: extra.map { case (n, c) => c.as(n) }
    df.observe(s"graft.$stage", metrics.head, metrics.tail: _*)
  }

  /** Collects observed metrics from every completed action on the session.
    * Rows carry a wall-clock stamp so the periodic aggregators (average /
    * maximum / change-per-second) can run over successive snapshots — ops
    * metrics, never oracle-checked data. A failed action adds an
    * `(action, failed, 1, <function>)` row and an
    * `(action, failed.<exception class>, 1, <function>)` row.
    */
  final class Collector extends QueryExecutionListener {
    private val buf = mutable.ArrayBuffer.empty[(String, String, Long, String, Long)]

    private def record(rows: Seq[(String, String, Long, String, Long)]): Unit =
      buf.synchronized { buf ++= rows; () }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val now = System.currentTimeMillis()
      val rows = qe.observedMetrics.collect {
        case (name, row) if name.startsWith("graft.") =>
          row.schema.fieldNames.map { f =>
            val v = row.getAs[Any](f) match {
              case l: Long => l
              case i: Int  => i.toLong
              case other   => Option(other).map(_.toString.toDouble.toLong).getOrElse(0L)
            }
            (name.stripPrefix("graft."), f, v, funcName, now)
          }.toSeq
      }.flatten.toSeq
      if (rows.nonEmpty) record(rows)
    }

    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = {
      val now = System.currentTimeMillis()
      record(Seq("failed", s"failed.${ex.getClass.getSimpleName}")
        .map(("action", _, 1L, funcName, now)))
    }

    def snapshot(spark: SparkSession): DataFrame = {
      val rows = buf.synchronized(buf.toSeq)
      import spark.implicits._
      rows.map { case (s, c, v, j, _) => (s, c, v, j) }.toDF("stage", "counter", "value", "job")
    }

    /** Snapshot including the collection timestamp (aggregator input). */
    def timedSnapshot(spark: SparkSession): DataFrame = {
      val rows = buf.synchronized(buf.toSeq)
      import spark.implicits._
      rows.toDF("stage", "counter", "value", "job", "ts_ms")
    }

    /** Drops the collected rows. */
    def clear(): Unit = buf.synchronized { buf.clear(); () }
  }

  // ------------------------------------------------------------ exposition

  private def csvEscape(s: String): String =
    if (s.exists(c => c == ';' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\\\"") + "\""
    else s

  /** CSV exposition (reference lib/stats/stats-csv.c:62-101):
    * `SourceName;SourceId;SourceInstance;State;Type;Number` — component =
    * stage, id = the action that carried the counters, state 'a' (live
    * session counters are never orphaned in a batch engine).
    */
  def renderCsv(stats: DataFrame): String = {
    val header = "SourceName;SourceId;SourceInstance;State;Type;Number\n"
    val rows = stats.select("stage", "job", "counter", "value").collect()
      .sortBy(r => (r.getString(0), r.getString(2)))
      .map(r => s"${csvEscape(r.getString(0))};${csvEscape(r.getString(1))};;a;" +
        s"${csvEscape(r.getString(2))};${r.getLong(3)}\n")
    header + rows.mkString
  }

  private def promSanitize(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '_' || c == ':') c else '_')

  /** Prometheus exposition (reference lib/stats/stats-prometheus.c):
    * `<prefix><stage>_<counter>{job="…"} <value>` with sanitized names and
    * escaped label values.
    */
  def renderPrometheus(stats: DataFrame, prefix: String = "syslogng_"): String =
    stats.select("stage", "counter", "value", "job").collect()
      .sortBy(r => (r.getString(0), r.getString(1)))
      .map { r =>
        val name = prefix + promSanitize(r.getString(0)) + "_" + promSanitize(r.getString(1))
        val job = r.getString(3).replace("\\", "\\\\").replace("\"", "\\\"")
        s"""$name{job="$job"} ${r.getLong(2)}\n"""
      }.mkString

  /** The periodic aggregators (reference lib/stats/aggregator/: average,
    * maximum, change-per-second) computed over a timed snapshot series:
    * one row per (stage, counter) with avg/max of the observations and
    * CPS = Δvalue/Δt across the observation window (0 when a single
    * observation, like a CPS aggregator before its second tick).
    */
  def aggregators(timed: DataFrame): DataFrame =
    timed.groupBy(col("stage"), col("counter"))
      .agg(
        avg(col("value")).as("average"),
        max(col("value")).as("maximum"),
        coalesce(
          (max_by(col("value"), col("ts_ms")) - min_by(col("value"), col("ts_ms"))) * 1000.0 /
            nullif(max(col("ts_ms")) - min(col("ts_ms")), lit(0L)),
          lit(0.0)).as("cps"))

  private val ReportTimeoutMs = 60000L

  /** Waits until every action that has returned on this session has
    * reported to the installed collectors. Spark delivers listener events
    * asynchronously, after the action returned (and possibly after an
    * `Observation` on the same action saw it), so a snapshot is only
    * complete, and no event of these actions can reach a collector
    * installed later, once the listener bus is drained. An action that
    * failed before it started executing posts no event and is not waited
    * for. False if the bus is still busy after 60 s; an event the bus
    * dropped (its queue was full) is logged by Spark and never arrives.
    */
  def awaitReports(spark: SparkSession): Boolean =
    Bridge.awaitListenerBus(spark, ReportTimeoutMs)

  /** Install a collector on the session (idempotent per collector). */
  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.listenerManager.register(c)
    c
  }

  /** The stats query language (reference lib/stats/stats-query.c:
    * `syslog-ng-ctl query get "stage.*.counter"`): glob over
    * `stage.counter` names against a stats snapshot.
    */
  def query(stats: DataFrame, glob: String): DataFrame = {
    val re = glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }
    stats.filter(concat_ws(".", col("stage"), col("counter")).rlike("^" + re + "$"))
  }

  /** Per-partition lineage column (north rule): where each output row came
    * from — source file + reader partition. Carried through shuffles as
    * data, so sink rows remain attributable after fan-out.
    */
  def lineage: Column =
    struct(input_file_name().as("source_file"), spark_partition_id().as("source_partition"))
}

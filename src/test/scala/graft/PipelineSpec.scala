package graft

import org.apache.spark.sql.functions._
import graft.enrich.ContextualData
import graft.routing.Router

/** End-to-end: the flagship parse→enrich→route→aggregate job at sf-unit,
  * asserted against independently-computed goldens (plain Scala over the
  * collected transcript rows — the reference's hand-computed-NV-values
  * pattern from modules/correlation/tests).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val flagged = Pipeline.flagged(spark, sfUnit).cache()

  test("fan-out conservation: every row routes to catch-all; sinks partition") {
    val total = flagged.count()
    val all = Router.sink(flagged, "all").count()
    val tool = Router.sink(flagged, "tool_calls").count()
    val err = Router.sink(flagged, "errors").count()
    val fb = Router.sink(flagged, "fallback").count()
    assert(all == total)
    // tool_calls/errors/fallback partition the corpus (final+fallback make
    // them disjoint and exhaustive given the error predicate disjointness)
    assert(tool + err + fb == total)
    assert(tool > 0 && err > 0 && fb > 0)
  }

  test("routed rows keep per-turn text equality under (conv_id, turn_idx) order") {
    // per-row invariant (north rule): routed rows are the input rows —
    // text unchanged, ordering stable by (conv_id, turn_idx)
    val in = graft.transcripts.Transcripts.load(spark, sfUnit)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .collect()
    val out = Router.sink(flagged, "all")
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .collect()
    assert(in.sameElements(out))
  }

  test("enrichment: default-selector fills the missing role:system entry") {
    val sys = flagged.filter(col("role") === "system")
      .select("team", "cost_class", "max_severity").distinct().collect()
    assert(sys.length == 1)
    assert(sys.head.getString(0) == "unassigned" && sys.head.getInt(2) == 7)
    val bash = flagged.filter(col("tool") === "bash")
      .select("team").distinct().as[String].collect().toSeq
    assert(bash == Seq("infra"))
  }

  test("aggregate equals hand-computed golden") {
    val turns = graft.transcripts.Transcripts.load(spark, sfUnit)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)),
        r.getAs[java.time.LocalDateTime](5).toInstant(java.time.ZoneOffset.UTC)))
    // independent golden: classify each turn by raw text inspection
    def isToolCall(text: String, tool: Option[String]) =
      tool.isDefined && text.startsWith("event=tool_call")
    def isError(text: String) = {
      val kvBad = text.startsWith("event=") && text.endsWith("ok=false")
      val statusBad = text.contains("status=error") || text.contains("status=fail") ||
        text.contains("\"status\":\"error\"") || text.contains("\"status\":\"fail\"")
      val reError = "(?i)error".r.findFirstIn(text).isDefined
      kvBad || statusBad || reError
    }
    val golden = turns.flatMap { case (c, i, role, text, tool, ts) =>
      val sinks =
        if (isToolCall(text, tool)) Seq("all", "tool_calls")
        else if (isError(text)) Seq("all", "errors")
        else Seq("all", "fallback")
      val bucket = ts.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      sinks.map(s => (s, role, tool.getOrElse("none"), bucket))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap

    val got = Pipeline.sinkCounts(flagged)
      .collect()
      .map { r =>
        val bucket = r.get(3) match {
          case t: java.sql.Timestamp      => t.toInstant
          case d: java.time.LocalDateTime => d.toInstant(java.time.ZoneOffset.UTC)
        }
        ((r.getString(0), r.getString(1), r.getString(2), bucket), r.getLong(4))
      }.toMap
    assert(got == golden)
  }

  test("entry returns non-empty aggregate") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("multi-sink write: per-sink routed-row counts and readback equality") {
    val out = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    val counts = Pipeline.writeSinks(spark, sfUnit, out)
    assert(counts("all") == flagged.count())
    val errBack = spark.read.parquet(s"$out/sink_errors").count()
    assert(errBack == counts("errors"))
    val agg = spark.read.parquet(s"$out/agg_counts")
    assert(agg.agg(sum("n")).as[Long].head() ==
      counts.values.sum)
    // the aggregate read back from the sink rows equals the one counted
    // from the route flags, row for row
    val fromFlags = Pipeline.sinkCounts(flagged)
    assert(agg.columns.toSeq === fromFlags.columns.toSeq)
    assert(agg.collect().sortBy(_.toString).toSeq ===
      fromFlags.collect().sortBy(_.toString).toSeq)
  }
}

package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.corpus.{Curate, Dedup, LanguageModel, Url}
import graft.enrich.ContextualData
import graft.parsers.GrokStage
import graft.transcripts.Transcripts

/** A cumulative layer prefix: the public calls up to one layer, forced
  * with a `noop` write (or run eagerly by the calls themselves) so the
  * optimizer cannot prune the work. `after` names the prefix this one
  * extends; its self time is the difference. */
final case class Prefix(name: String, after: String, run: () => Unit)

/** One benchmark workload over generated input in `in`. A pass is the
  * whole job from reading the input to its written output under `out`. */
trait Workload {
  def in: String
  def inputFile: String
  def rows: Long
  /** Read the input and build the first plan (the end of set-up). */
  def prepare(spark: SparkSession): Unit
  /** Run the job once; the returned check runs outside the timed span. */
  def pass(spark: SparkSession, out: String): () => Option[String]
  def prefixes(spark: SparkSession): Seq[Prefix]
  /** Per-layer counts taken from prefix outputs (not timed). */
  def counts(spark: SparkSession, out: String): Map[String, Double]
  /** This workload's check run on its expected data and corruptions of it;
    * returns the corruptions it failed to reject. */
  def selfTest: Seq[String]

  def inputBytes: Long = Files.bytes(new File(in, inputFile))
  protected def input(spark: SparkSession): DataFrame = spark.read.parquet(s"$in/$inputFile")
  protected def tsv(name: String): Seq[Array[String]] = {
    val src = Source.fromFile(new File(in, name), "UTF-8")
    try src.getLines().map(_.split('\t')).toVector finally src.close()
  }
}

object Workload {
  def apply(name: String, in: String): Workload = name match {
    case "turns_agg"     => new TurnsAgg(in)
    case "turns_sinks"   => new TurnsSinks(in)
    case "corpus_curate" => new CorpusCurate(in)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The route layer's row-level counts over a flagged frame. */
  def transcriptCounts(flagged: DataFrame): Map[String, Double] = {
    val r = flagged.agg(count(lit(1)), sum(when(col("rule_id").isNotNull, 1L).otherwise(0L)),
      sum(when(col("team") === "unassigned", 1L).otherwise(0L)),
      sum(size(col("routes")) - 1L),
      sum(when(col("route_fallback"), 1L).otherwise(0L))).head()
    val n = r.getLong(0).toDouble
    Map("parse.match_frac" -> r.getLong(1) / n, "enrich.default_frac" -> r.getLong(2) / n,
      "route.fanout" -> r.getLong(3) / n, "route.unmatched_frac" -> r.getLong(4) / n)
  }

  def parse(t: DataFrame): DataFrame = GrokStage(t, "text", GrokStage.transcriptRules)
  def enrich(spark: SparkSession, parsed: DataFrame): DataFrame = ContextualData.enrich(
    parsed, ContextualData.lookupDf(spark),
    coalesce(concat(lit("tool:"), col("tool")), concat(lit("role:"), col("role"))))

  /** Prefixes shared by both transcript workloads, over a transcript frame. */
  def transcriptPrefixes(spark: SparkSession, t: () => DataFrame, base: String): Seq[Prefix] = Seq(
    Prefix("parse", base, () => noop(parse(t()))),
    Prefix("enrich", "parse", () => noop(enrich(spark, parse(t())))),
    Prefix("route", "enrich", () => noop(Pipeline.withRoutes(enrich(spark, parse(t()))))))
}

object Files {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length
  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0
    else 1
}

/** The paper's headline job: parse -> enrich -> route -> aggregate over a
  * transcript table, written as one small aggregate. */
final class TurnsAgg(val in: String) extends Workload {
  val inputFile = "turns.parquet"
  private val expected: Map[Checks.AggKey, Long] = tsv("expected.tsv").map { a =>
    (a(0), a(1), a(2), a(3).toLong) -> a(4).toLong
  }.toMap
  val rows: Long = expected.collect { case ((s, _, _, _), n) if s == "all" => n }.sum

  def selfTest: Seq[String] = Checks.selfTestAgg(expected)
  private def job(spark: SparkSession) = Pipeline.sinkCounts(Pipeline.flaggedFrom(spark, input(spark)))

  def prepare(spark: SparkSession): Unit = { job(spark).queryExecution.executedPlan; () }

  def pass(spark: SparkSession, out: String): () => Option[String] = {
    job(spark).write.mode("overwrite").parquet(s"$out/agg")
    () => Checks.agg(expected, spark.read.parquet(s"$out/agg").collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), r.getString(2), TurnsAgg.hourIndex(r.get(3))) -> r.getLong(4)
    })
  }

  def prefixes(spark: SparkSession): Seq[Prefix] =
    Prefix("scan", "", () => Workload.noop(input(spark))) +:
      Workload.transcriptPrefixes(spark, () => input(spark), "scan") :+
      Prefix("agg", "route", () => Workload.noop(job(spark)))

  def counts(spark: SparkSession, out: String): Map[String, Double] =
    Workload.transcriptCounts(Pipeline.flaggedFrom(spark, input(spark))) +
      ("agg.groups" -> spark.read.parquet(s"$out/agg").count().toDouble)
}

object TurnsAgg {
  private val epoch = LocalDateTime.of(2024, 1, 1, 0, 0)
  def hourIndex(v: Any): Long = {
    val t = v match {
      case l: LocalDateTime       => l
      case t: java.sql.Timestamp  => t.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime
      case i: java.time.Instant   => i.atOffset(ZoneOffset.UTC).toLocalDateTime
      case other                  => throw new IllegalStateException(s"bucket $other")
    }
    java.time.Duration.between(epoch, t).toHours
  }
}

/** The production shape: events -> transcripts -> persisted flagged frame
  * -> four sink writes, the aggregate and the stats table. */
final class TurnsSinks(val in: String) extends Workload {
  val inputFile = "events.parquet"
  private val expected: Map[String, Long] = tsv("expected.tsv").map(a => a(0) -> a(1).toLong).toMap
  val rows: Long = expected("all")
  def selfTest: Seq[String] = Checks.selfTestSinks(expected)

  def prepare(spark: SparkSession): Unit = {
    Pipeline.flaggedFrom(spark, Transcripts.load(spark, in)).queryExecution.executedPlan; ()
  }

  def pass(spark: SparkSession, out: String): () => Option[String] = {
    val returned = Pipeline.writeSinks(spark, in, out).toSeq
    () => Checks.sinks(expected, returned,
      expected.keys.toSeq.map(s => s -> spark.read.parquet(s"$out/sink_$s").count()))
  }

  def prefixes(spark: SparkSession): Seq[Prefix] =
    Seq(Prefix("scan", "", () => Workload.noop(input(spark))),
      Prefix("derive", "scan", () => Workload.noop(Transcripts.load(spark, in)))) ++
      Workload.transcriptPrefixes(spark, () => Transcripts.load(spark, in), "derive")

  def counts(spark: SparkSession, out: String): Map[String, Double] =
    Workload.transcriptCounts(Pipeline.flaggedFrom(spark, Transcripts.load(spark, in))) ++ Map(
      "agg.groups" -> spark.read.parquet(s"$out/agg_counts").count().toDouble,
      "stats.rows" -> spark.read.parquet(s"$out/stats").count().toDouble,
      "sink.bytes" -> Seq("all", "tool_calls", "errors", "fallback")
        .map(s => Files.bytes(new File(out, s"sink_$s"))).sum.toDouble,
      "sink.files" -> Seq("all", "tool_calls", "errors", "fallback")
        .map(s => Files.dataFiles(new File(out, s"sink_$s"))).sum.toDouble)
}

/** Corpus curation: URL dedup -> near-dup clustering -> quality and
  * perplexity gates -> audit rows, over documents with planted groups. */
final class CorpusCurate(val in: String) extends Workload {
  val inputFile = "documents.parquet"
  private val groupOf: Map[Long, Long] = tsv("groups.tsv").map(a => a(0).toLong -> a(1).toLong).toMap
  val rows: Long = groupOf.size.toLong
  def selfTest: Seq[String] = Checks.selfTestCurate(groupOf)

  private def job(spark: SparkSession) = {
    val d = input(spark)
    Curate.curate(d, col("doc_id"), col("text"), col("url"), col("lang"))
  }

  // curate() itself runs jobs (cluster rounds, the LM checkpoint), so the
  // first plan is that of its first, lazy stage
  def prepare(spark: SparkSession): Unit = { keepers(spark).queryExecution.executedPlan; () }

  def pass(spark: SparkSession, out: String): () => Option[String] = {
    job(spark).write.mode("overwrite").parquet(s"$out/audit")
    () => Checks.curate(groupOf, spark.read.parquet(s"$out/audit")
      .select(col("doc_id"), col("url_keeper") && col("dedup_keeper")).collect().toSeq
      .map(r => r.getLong(0) -> r.getBoolean(1)))
  }

  private def base(spark: SparkSession) = input(spark).select(col("doc_id"),
    col("text").as("__text"), col("url").as("__url"), col("lang").as("__lang"))
  private def keepers(spark: SparkSession) =
    Url.urlDedup(base(spark), col("doc_id"), col("__url")).filter(col("is_keeper"))
  private def edges(spark: SparkSession) =
    Dedup.corpusEdges(keepers(spark), col("doc_id"), col("__text"))
  private def lm(spark: SparkSession) = LanguageModel.charNgramCounts(
    base(spark).filter(col("__lang") === "en"), col("__text"), n = 3)

  def prefixes(spark: SparkSession): Seq[Prefix] = Seq(
    Prefix("scan", "", () => Workload.noop(input(spark))),
    Prefix("corpus.url", "scan", () => Workload.noop(keepers(spark))),
    Prefix("corpus.edges", "corpus.url", () => Workload.noop(edges(spark))),
    Prefix("corpus.clusters", "corpus.edges", () => Workload.noop(Dedup.resolveClusters(
      keepers(spark).select(col("doc_id").as("member_id")), edges(spark), "doc_a", "doc_b"))),
    Prefix("corpus.lm", "scan", () => Workload.noop(lm(spark))),
    Prefix("corpus.ce", "corpus.lm", () => Workload.noop(LanguageModel.crossEntropy(
      base(spark), col("doc_id"), col("__text"), lm(spark), n = 3))))

  def counts(spark: SparkSession, out: String): Map[String, Double] =
    Map("corpus.edges.n" -> edges(spark).count().toDouble)
}

package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.GZIPInputStream

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.parsers.ParseStage

/** WARC / WET archive source (ISO 28500 — the Common Crawl container),
  * the ingestion front door of a web-scale training-data pipeline: crawl
  * shards land as `.warc(.gz)` (raw fetches) and `.wet(.gz)` (extracted
  * plain text as `conversion` records), and everything downstream —
  * dedup, quality gates, curation — starts from these records.
  *
  * Format (public spec): a record is `WARC/1.x\r\n`, header lines
  * `Name: value\r\n`, an empty line, exactly `Content-Length` body bytes,
  * then `\r\n\r\n`. A `.gz` archive concatenates one gzip MEMBER per
  * record; `GZIPInputStream` reads multi-member streams natively.
  *
  * Robustness: a corrupt record header resyncs by scanning for the next
  * `WARC/` magic (length-prefixed formats cannot be re-parsed mid-body,
  * but member boundaries and the magic make resync reliable in practice);
  * malformed records are dropped, parsed ones keep arrival order.
  *
  * Scale shape: one narrow per-row stage over whole-file bytes (a
  * `ParseStage` generator) — no shuffle.
  * Crawl archives ship as many ~1 GB shards (Common Crawl: ~10^5 per
  * crawl), so per-FILE parallelism is the natural unit and a shard fits
  * executor memory; `spark.read.format("binaryFile")` + this decoder is
  * the whole reader.
  */
object Warc {

  val schema: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", TimestampType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("headers", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  private val Magic = "WARC/".getBytes("US-ASCII")

  /** WARC field names are case-insensitive (ISO 28500 §5.1); crawlers emit
    * `content-length:` and friends. The `headers` column keeps original
    * casing; known-field resolution goes through this. */
  private def hget(hdrs: ListMap[String, String], name: String): Option[String] =
    hdrs.get(name).orElse {
      val lower = name.toLowerCase(java.util.Locale.ROOT)
      hdrs.collectFirst { case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == lower => v }
    }

  /** Decompress a (possibly multi-member) gzip stream; identity for plain
    * bytes. Initial capacity is clamped so ~1 GB crawl shards don't
    * overflow Int (512 MB × 4 goes negative). A corrupt/truncated gzip
    * MEMBER yields the bytes decoded so far instead of failing the task —
    * `records()` already resyncs/drops the truncated WARC tail, so one bad
    * member costs its records, not the shard. */
  def gunzipIfNeeded(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 65536)
      val cap = math.min(bytes.length.toLong * 4, Int.MaxValue - 8L).toInt
      val out = new ByteArrayOutputStream(cap)
      val buf = new Array[Byte](65536)
      try {
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } catch { case _: java.io.IOException => /* truncated member: keep prefix */ }
      out.toByteArray
    } else bytes

  /** Parse one (decompressed) WARC byte stream into records:
    * (version, headers-in-order, body). */
  def records(raw: Array[Byte]): Seq[(String, ListMap[String, String], Array[Byte])] = {
    val bytes = gunzipIfNeeded(raw)
    val out = ArrayBuffer.empty[(String, ListMap[String, String], Array[Byte])]
    var i = 0
    def findMagic(from: Int): Int = {
      var p = from
      while (p >= 0 && p + Magic.length <= bytes.length) {
        if (bytes.startsWith(Magic, p) && (p == 0 || bytes(p - 1) == '\n')) return p
        p = bytes.indexOf('W'.toByte, p + 1)
      }
      -1
    }
    i = findMagic(0)
    while (i >= 0 && i < bytes.length) {
      var p = i
      def line(): String = { // up to \n (consumed), \r stripped
        val start = p
        while (p < bytes.length && bytes(p) != '\n') p += 1
        val end = if (p > start && bytes(p - 1) == '\r') p - 1 else p
        val s = new String(bytes, start, end - start, "UTF-8")
        if (p < bytes.length) p += 1
        s
      }
      val version = line() // "WARC/1.0"
      var hdrs = ListMap.empty[String, String]
      var ok = true
      var l = line()
      while (ok && l.nonEmpty) {
        val c = l.indexOf(':')
        if (c <= 0) ok = false
        else {
          hdrs += l.substring(0, c).trim -> l.substring(c + 1).trim
          l = line()
        }
      }
      val len = hget(hdrs, "Content-Length").flatMap(_.toLongOption)
        .filter(l => l >= 0 && l <= Int.MaxValue) // absurd sizes = malformed
      if (ok && len.isDefined && p + len.get <= bytes.length) {
        val n = len.get.toInt
        out += ((version, hdrs, java.util.Arrays.copyOfRange(bytes, p, p + n)))
        i = findMagic(p + n)
      } else {
        // malformed header or truncated body: resync at the next magic
        i = findMagic(i + Magic.length)
      }
    }
    out.toSeq
  }

  private def toRow(rec: (String, ListMap[String, String], Array[Byte])): Row = {
    val (_, h, body) = rec
    val ts = hget(h, "WARC-Date").flatMap { d =>
      try Some(java.sql.Timestamp.from(java.time.Instant.parse(d)))
      catch { case _: java.time.format.DateTimeParseException => None }
    }
    Row(
      hget(h, "WARC-Type").orNull,
      hget(h, "WARC-Record-ID").orNull,
      hget(h, "WARC-Target-URI").orNull,
      ts.orNull,
      hget(h, "Content-Type").orNull,
      body.length.toLong,
      body,
      h)
  }

  /** Decode a binary column of WARC archives: one row per record. */
  def parseFiles(files: DataFrame, content: Column): DataFrame =
    ParseStage.flatMap[Array[Byte]](files.select(content.as("bytes")), col("bytes"), schema)(
      records(_).map(toRow)).drop("bytes")

  /** Read `.warc`/`.wet`(`.gz`) files from a path glob. */
  def read(spark: SparkSession, path: String): DataFrame =
    parseFiles(spark.read.format("binaryFile").load(path), col("content"))

  /** STREAMING read: new archive files dropped into the watched directory
    * become record rows — continuous crawl ingestion (the wildcard-file()
    * analog for the corpus tier). The decoder is the same narrow stage;
    * offsets/discovery ride the file-source checkpoint. */
  def readStream(spark: SparkSession, path: String): DataFrame =
    parseFiles(
      spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(path),
      col("content"))

  /** WET view: the extracted plain text of `conversion` records —
    * (target_uri, warc_date, text). The `cast` is Spark's UTF-8 decode;
    * feeds straight into the corpus operators. */
  def wetTexts(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "conversion")
      .select(col("target_uri"), col("warc_date"),
        col("content").cast("string").as("text"))

  /** Raw-WARC view: main text extracted from `response` records — the path
    * most of Common Crawl's value takes (WET conversions are a lossy
    * convenience; production pipelines extract text themselves). A response
    * body is a full HTTP/1.x message: status line + headers, CRLFCRLF, then
    * the payload. Records whose HTTP headers don't declare `text/html` (or
    * that have no header/body split) are dropped; the payload runs through
    * [[graft.corpus.HtmlText.extract]] — (target_uri, warc_date, text,
    * n_blocks, n_good). Same narrow per-record scan shape as [[wetTexts]];
    * chunked/compressed HTTP payloads are out of scope here (Common Crawl
    * stores identity-encoded bodies).
    */
  def responseHtml(
      records: DataFrame, minChars: Int = 25, maxLinkDensity: Double = 0.35,
      minStopDensity: Double = 0.05): DataFrame = {
    val http = col("content").cast("string")
    val sep = locate("\r\n\r\n", http)
    records.filter(col("warc_type") === "response")
      .select(col("target_uri"), col("warc_date"),
        sep.as("__sep"),
        http.substr(lit(1), sep).as("__head"),
        http.substr(sep + 4, length(http)).as("__body"))
      .filter(col("__sep") > 0 &&
        instr(lower(col("__head")), "content-type: text/html") > 0)
      .select(col("target_uri"), col("warc_date"),
        graft.corpus.HtmlText.extract(col("__body"), minChars, maxLinkDensity,
          minStopDensity).as("__x"))
      .select(col("target_uri"), col("warc_date"),
        col("__x").getField("text").as("text"),
        col("__x").getField("n_blocks").as("n_blocks"),
        col("__x").getField("n_good").as("n_good"))
  }
}

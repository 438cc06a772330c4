package graft.sources

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.parsers.ParseStage

/** systemd journal source — the reference's `systemd-journal()` driver
  * (reference `modules/systemd-journal/journal-reader.c`) over the journal
  * EXPORT FORMAT (`journalctl -o export`), the documented portable
  * serialization of journal entries:
  *
  *  - entries are separated by an empty line;
  *  - a text field is `NAME=value\n`;
  *  - a binary field is `NAME\n` + 64-bit little-endian length + raw bytes
  *    + `\n` (values with embedded newlines — decoded here as UTF-8).
  *
  * The live driver links sd-journal (an OS API this engine cannot assume);
  * exported streams/files carry the identical field set, so the reference's
  * field mapping applies unchanged (journal-reader.c:178-201,258-283):
  * MESSAGE→msg, _HOSTNAME→host, _PID→pid, SYSLOG_FACILITY/PRIORITY compose
  * `pri` over the local0.notice default, program = SYSLOG_IDENTIFIER else
  * _COMM, transport = "local+journal", timestamp = __REALTIME_TIMESTAMP
  * microseconds, and every field lands (prefixed, default `.journald.`) in
  * the fields map with values truncated to `max-field-size`.
  *
  * Scale: one per-row stage over file bytes (a `ParseStage` generator,
  * narrow); journals are per-host — read many with per-file parallelism.
  */
object JournalExport {

  val DefaultPri: Int = 16 * 8 + 5 // local0.notice (journald driver defaults)

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = true),
    StructField("pri", IntegerType, nullable = false),
    StructField("host", StringType, nullable = true),
    StructField("prog", StringType, nullable = true),
    StructField("pid", StringType, nullable = true),
    StructField("msg", StringType, nullable = true),
    StructField("transport", StringType, nullable = false),
    StructField("fields", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** Parse one export-format byte stream into per-entry field lists (in
    * arrival order; duplicate field names keep the LAST value, like the
    * reference's log_msg_set_value overwrite). */
  def entries(bytes: Array[Byte], maxFieldSize: Int = 65536): Seq[Map[String, String]] = {
    val out = ArrayBuffer.empty[Map[String, String]]
    var cur = ListMap.empty[String, String]
    var i = 0
    def line(): String = { // up to \n (consumed)
      val start = i
      while (i < bytes.length && bytes(i) != '\n') i += 1
      val s = new String(bytes, start, i - start, "UTF-8")
      if (i < bytes.length) i += 1
      s
    }
    while (i < bytes.length) {
      val l = line()
      if (l.isEmpty) {
        if (cur.nonEmpty) { out += cur; cur = ListMap.empty }
      } else {
        val eq = l.indexOf('=')
        if (eq >= 0) {
          val v = l.substring(eq + 1)
          cur += l.substring(0, eq) -> v.substring(0, math.min(v.length, maxFieldSize))
        } else if (i + 8 <= bytes.length) {
          // binary field: LE u64 length + payload + '\n'
          var len = 0L
          var k = 7
          while (k >= 0) { len = (len << 8) | (bytes(i + k) & 0xffL); k -= 1 }
          i += 8
          val n = math.min(len, (bytes.length - i).toLong).toInt
          val v = new String(bytes, i, math.min(n, maxFieldSize), "UTF-8")
          i += n
          if (i < bytes.length && bytes(i) == '\n') i += 1
          cur += l -> v
        }
      }
    }
    if (cur.nonEmpty) out += cur
    out.toSeq
  }

  private def toRow(fields: Map[String, String], prefix: String): Row = {
    var pri = DefaultPri
    fields.get("SYSLOG_FACILITY").flatMap(_.toIntOption)
      .foreach(f => pri = (pri & 7) | (f << 3))
    fields.get("PRIORITY").flatMap(_.toIntOption)
      .foreach(p => pri = (pri & ~7) | p)
    val prog = fields.get("SYSLOG_IDENTIFIER").filter(_.nonEmpty)
      .orElse(fields.get("_COMM"))
    val ts = fields.get("__REALTIME_TIMESTAMP").flatMap(_.toLongOption)
      .map(us => new java.sql.Timestamp(us / 1000L))
    ts.foreach(t => t.setNanos((fields("__REALTIME_TIMESTAMP").toLong % 1000000L).toInt * 1000))
    Row(
      ts.orNull, pri,
      fields.get("_HOSTNAME").orNull,
      prog.orNull,
      fields.get("_PID").orNull,
      fields.get("MESSAGE").orNull,
      "local+journal",
      fields.map { case (k, v) => (prefix + k) -> v })
  }

  /** Decode a binary column of export-format files/streams: one row per
    * journal entry. */
  def parseFiles(files: DataFrame, content: Column,
      prefix: String = ".journald.", maxFieldSize: Int = 65536): DataFrame =
    ParseStage.flatMap[Array[Byte]](files.select(content.as("bytes")), col("bytes"), schema)(
      entries(_, maxFieldSize).map(toRow(_, prefix))).drop("bytes")

  /** Read export-format files from a path glob. */
  def read(spark: SparkSession, path: String,
      prefix: String = ".journald."): DataFrame =
    parseFiles(spark.read.format("binaryFile").load(path), col("content"), prefix)
}

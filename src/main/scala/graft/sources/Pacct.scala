package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.parsers.ParseStage

/** Linux process-accounting (`pacct`) source — the reference's
  * `file("/var/log/account/pacct" format(pacct))` driver
  * (reference `modules/pacctformat/pacct-format.c`): fixed 64-byte binary
  * `struct acct_v3` records (linux/acct.h layout, native little-endian)
  * decoded into `.pacct.*` fields.
  *
  * Reference renderings are reproduced exactly, including two quirks kept
  * for value parity (pacct-format.c:137-152):
  *  - `ac_flag` renders as two lowercase hex digits (`%02x`);
  *  - the comp_t decode `(x & 0x1fff) << (((x >> 13) & 7) * 3)` is applied
  *    to `ac_btime` TOO — a full u32, not a comp_t — truncating it (the
  *    reference's own PACCT_FORMAT_CONVERT choice), and the time fields
  *    carry the "%lu.00" suffix;
  *  - `ac_etime` (a float) prints as `%9.2f` — width-9, half-even on the
  *    shortest double repr ([[graft.functions.FormatFixed]] rules).
  *
  * A non-v3 record yields one `ok=false` row carrying the reference's
  * error message shape instead of fields (pacct-format.c:121-130).
  *
  * Scale: the file explodes into its 64-byte records in one per-row stage
  * (a `ParseStage` generator, narrow); pacct files are per-host and small
  * — the 100 TB path is many hosts' files read with per-file parallelism.
  */
object Pacct {

  val RecordSize = 64
  private val AcctComm = 16

  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("error", StringType, nullable = true),
    StructField("ac_flag", StringType, nullable = true),
    StructField("ac_tty", IntegerType, nullable = true),
    StructField("ac_exitcode", LongType, nullable = true),
    StructField("ac_uid", LongType, nullable = true),
    StructField("ac_gid", LongType, nullable = true),
    StructField("ac_pid", LongType, nullable = true),
    StructField("ac_ppid", LongType, nullable = true),
    StructField("ac_btime", StringType, nullable = true),
    StructField("ac_etime", StringType, nullable = true),
    StructField("ac_utime", StringType, nullable = true),
    StructField("ac_stime", StringType, nullable = true),
    StructField("ac_mem", LongType, nullable = true),
    StructField("ac_io", LongType, nullable = true),
    StructField("ac_rw", LongType, nullable = true),
    StructField("ac_minflt", LongType, nullable = true),
    StructField("ac_majflt", LongType, nullable = true),
    StructField("ac_swaps", LongType, nullable = true)))

  /** comp_t: 3-bit base-8 exponent + 13-bit mantissa (linux/acct.h). */
  def compToLong(x: Int): Long =
    ((x & 0x1fff).toLong) << (((x >> 13) & 0x7) * 3)

  /** Decode one acct_v3 record into a Row of [[schema]]. */
  def decodeRecord(rec: Array[Byte]): Row = {
    require(rec.length == RecordSize, s"acct_v3 record must be $RecordSize bytes")
    val b = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
    val flag = b.get(0) & 0xff
    val version = b.get(1) & 0xff
    if (version != 3)
      return Row.fromSeq(Seq(false,
        s"Error parsing process accounting record, only the v3 format is " +
          s"supported; version='$version'") ++ Seq.fill(18)(null))
    def u16(off: Int) = b.getShort(off) & 0xffff
    def u32(off: Int) = b.getInt(off) & 0xffffffffL
    val commBytes = rec.slice(48, 48 + AcctComm)
    val commLen = {
      val z = commBytes.indexOf(0.toByte)
      if (z < 0) AcctComm else z
    }
    val etime = b.getFloat(28).toDouble
    Row.fromSeq(Seq(
      true, null,
      f"$flag%02x",
      u16(2),
      u32(4), u32(8), u32(12), u32(16), u32(20),
      s"${compToLong((u32(24) & 0xffff).toInt)}.00", // reference btime quirk
      padLeft(graft.functions.FormatFixed.render(etime, 2), 9),
      s"${compToLong(u16(32))}.00",
      s"${compToLong(u16(34))}.00",
      compToLong(u16(36)), compToLong(u16(38)), compToLong(u16(40)),
      compToLong(u16(42)), compToLong(u16(44)), compToLong(u16(46)),
      new String(commBytes, 0, commLen, "UTF-8")))
  }

  private def padLeft(s: String, w: Int): String =
    if (s.length >= w) s else (" " * (w - s.length)) + s

  private val outSchema =
    schema.add(StructField("ac_comm", StringType, nullable = true))

  /** Decode a binary column of whole pacct FILES (e.g. from
    * `spark.read.format("binaryFile")`) — each file explodes into its
    * 64-byte records, a trailing partial record becomes one ok=false row.
    */
  def parseFiles(files: DataFrame, content: org.apache.spark.sql.Column): DataFrame =
    ParseStage.flatMap[Array[Byte]](files.select(content.as("bytes")), col("bytes"), outSchema) {
      bytes =>
        val full = bytes.length / RecordSize
        val recs = (0 until full).iterator.map { i =>
          decodeRecord(bytes.slice(i * RecordSize, (i + 1) * RecordSize))
        }
        val tail =
          if (bytes.length % RecordSize == 0) Iterator.empty
          else Iterator.single(Row.fromSeq(Seq(false,
            s"truncated pacct record: ${bytes.length % RecordSize} trailing bytes")
            ++ Seq.fill(18)(null)))
        recs ++ tail
    }.drop("bytes")

  /** Read pacct files from a path glob. */
  def read(spark: SparkSession, path: String): DataFrame =
    parseFiles(spark.read.format("binaryFile").load(path), col("content"))
}

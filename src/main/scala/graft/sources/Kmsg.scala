package graft.sources

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.parsers.ParseStage

/** Linux `/dev/kmsg` record format — the reference's `system()` kernel
  * source (reference `modules/linux-kmsg-format/linux-kmsg-format.c`):
  *
  * {{{
  * 6,802,65338577;ATL1E 0000:02:00.0: eth0: NIC Link is Up
  *  SUBSYSTEM=pci
  *  DEVICE=+pci:0000:02:00.0
  * }}}
  *
  * Header = `pri,seq,usec_since_boot[,flags…];message`; continuation lines
  * start with whitespace and carry `KEY=value` pairs. Field mapping follows
  * the reference: pri → `pri`, seq → `seqid` (the reference's MSGID slot),
  * the raw boot-relative microseconds → `boot_usec` plus an absolute `ts`
  * against a caller-supplied boot epoch (the reference derives it from
  * /proc/uptime — kmsg_to_absolute_time), message → `msg`, every
  * continuation key → the `.linux.`-prefixed fields map, and `DEVICE=`
  * decoded into type/major/minor/name/index per its sigil
  * (b/c dev_t, n netdev, + subsystem:name, else unknown —
  * linux-kmsg-format.c:196-270). Malformed headers → one ok=false row
  * carrying the raw record. `\xNN` escapes stay raw, as in the reference.
  *
  * Scale: same shape as the other OS sources — one per-row stage over
  * file bytes (a `ParseStage` generator), no shuffle.
  */
object Kmsg {

  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("pri", IntegerType, nullable = true),
    StructField("seqid", StringType, nullable = true),
    StructField("boot_usec", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("msg", StringType, nullable = true),
    StructField("fields", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false),
    StructField("dev_type", StringType, nullable = true),
    StructField("dev_major", StringType, nullable = true),
    StructField("dev_minor", StringType, nullable = true),
    StructField("dev_name", StringType, nullable = true),
    StructField("dev_index", StringType, nullable = true)))

  /** Split a kmsg text into records: a record starts at a non-whitespace
    * line; whitespace-led lines continue the previous record. */
  def records(text: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    text.split("\n", -1).foreach { l =>
      if (l.isEmpty) () // blank lines separate nothing in kmsg
      else if (l.charAt(0) == ' ' || l.charAt(0) == '\t') {
        cur.append('\n').append(l)
      } else {
        if (cur.length > 0) out += cur.toString
        cur.setLength(0)
        cur.append(l)
      }
    }
    if (cur.length > 0) out += cur.toString
    out.toSeq
  }

  def parseRecord(rec: String, bootEpochUsec: Long): Row = {
    val bad = Row.fromSeq(Seq(false, null, null, null, null, rec,
      Map.empty[String, String], null, null, null, null, null))
    val lines = rec.split("\n", -1)
    val head = lines(0)
    val semi = head.indexOf(';')
    if (semi < 0) return bad
    val parts = head.substring(0, semi).split(",", -1)
    if (parts.length < 3) return bad
    // digit-count bounds keep toInt/toLong from throwing on overflow-wide
    // headers (e.g. '99999999999,...') — malformed means the bad row, not a
    // failed Spark task
    if (parts(0).isEmpty || parts(0).length > 9 || !parts(0).forall(_.isDigit)) return bad
    if (parts(2).isEmpty || parts(2).length > 18 || !parts(2).forall(_.isDigit)) return bad
    val pri = parts(0).toInt
    val usec = parts(2).toLong
    val msg = head.substring(semi + 1)
    var fields = ListMap.empty[String, String]
    var devType: String = null; var devMajor: String = null
    var devMinor: String = null; var devName: String = null
    var devIndex: String = null
    lines.drop(1).foreach { l0 =>
      val l = l0.dropWhile(c => c == ' ' || c == '\t')
      val eq = l.indexOf('=')
      if (eq > 0) {
        val k = l.substring(0, eq); val v = l.substring(eq + 1)
        if (k == "DEVICE" && v.nonEmpty) {
          v.charAt(0) match {
            case 'b' | 'c' =>
              devType = if (v.charAt(0) == 'b') "block" else "char"
              val body = v.substring(1); val colon = body.indexOf(':')
              if (colon >= 0) { devMajor = body.substring(0, colon); devMinor = body.substring(colon + 1) }
              else devMajor = body
            case 'n' => devType = "netdev"; devIndex = v.substring(1)
            case '+' =>
              devType = null // subsystem:name — type IS the subsystem
              val body = v.substring(1); val colon = body.indexOf(':')
              if (colon >= 0) { devType = body.substring(0, colon); devName = body.substring(colon + 1) }
              else devType = body
            case _ => devType = "<unknown>"; devName = v
          }
        } else fields += (".linux." + k) -> v
      }
    }
    val ts = new java.sql.Timestamp((bootEpochUsec + usec) / 1000L)
    ts.setNanos((((bootEpochUsec + usec) % 1000000L) * 1000L).toInt)
    Row.fromSeq(Seq(true, pri, parts(1), usec, ts, msg, fields,
      devType, devMajor, devMinor, devName, devIndex))
  }

  /** Decode a binary/text column of whole kmsg dumps. */
  def parseFiles(files: DataFrame, content: Column, bootEpochUsec: Long): DataFrame =
    ParseStage.flatMap[String](files.select(content.cast("string").as("txt")), col("txt"), schema)(
      records(_).map(parseRecord(_, bootEpochUsec))).drop("txt")

  def read(spark: SparkSession, path: String, bootEpochUsec: Long): DataFrame =
    parseFiles(spark.read.format("binaryFile").load(path), col("content"), bootEpochUsec)
}

package graft.parsers

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `cisco-parser()` SCL (scl/cisco/plugin.conf), rebuilt as
  * one native classifier instead of its csv/regexp/date-parser channel
  * cascade — same accepted shapes, validated against
  * tests/light/functional_tests/parsers/cisco-parser/test_cisco_parser.py:
  *
  * {{{
  *   <pri>(seq: )?(origin: )?([*.]?timestamp( tz)?: )?%FAC[-SUB]-SEV-MNEMONIC: msg
  *   <pri>ISOts(Z) origin : %TRIPLET: msg          (NGFW)
  *   <pri>BSDts origin : %TRIPLET: msg             (ASA)
  *   <pri>seq: RP/x/y:ts tz: prog[pid]: %T : msg   (IOS-XR cpu module)
  *   <pri>seq: CLC n/m: ts tz: %T: msg             (CBR8 line card)
  * }}}
  *
  * The header/message split is the first `": %"` occurrence (the SCL's
  * string-delimiter csv split); the facility triplet allows one embedded
  * dash (`SYSMGR-STANDBY-3-…` → facility `SYSMGR-STANDBY`); timezone words
  * after the timestamp are ignored like the SCL's date-parser; a `*` / `.`
  * timestamp prefix marks clock sync state. Unparsable lines return None
  * (the SCL's drop-invalid csv gate).
  */
object CiscoParser {

  final case class CMsg(
      pri: Int,
      tsSec: Long, tsUsec: Int,
      host: String,
      cpuModule: String,
      facility: String, severity: String, mnemonic: String,
      msg: String,
      seqId: String,
      isSynced: String)

  // ^[\*\.]?(BSD with optional year / .ms / AM-PM)  — the SCL's
  // cisco-parser-timestamp-pattern
  private val bsdTs =
    """^([\*\.])?([A-Za-z]{3}) ([0-9 ]?\d) ((\d{4}) )?(\d{2}):(\d{2}):(\d{2})(\.(\d{3}))?( (AM|PM))?""".r
  private val isoTs = """^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})""".r

  /** Timestamp scan at the START of `s`: (epoch-seconds-in-recv-zone, usec,
    * sync-marker). None when `s` does not open with a cisco timestamp.
    */
  private def scanTs(s: String, opt: SyslogFormat.Options): Option[(Long, Int, String)] =
    // regex shape says "looks like a date"; out-of-range fields (Feb 30,
    // month 13) must scan as NO timestamp, not kill the task
    try scanTs0(s, opt)
    catch { case _: java.time.DateTimeException | _: NumberFormatException => None }

  private def scanTs0(s: String, opt: SyslogFormat.Options): Option[(Long, Int, String)] = {
    isoTs.findFirstMatchIn(s) match {
      case Some(g) =>
        val ldt = LocalDateTime.of(g.group(1).toInt, g.group(2).toInt, g.group(3).toInt,
          g.group(4).toInt, g.group(5).toInt, g.group(6).toInt)
        return Some((epoch(ldt, opt), 0, ""))
      case None =>
    }
    bsdTs.findFirstMatchIn(s) match {
      case Some(g) =>
        val mon0 = SyslogFormat.months.indexWhere(_.equalsIgnoreCase(g.group(2)))
        if (mon0 < 0) return None
        val year = Option(g.group(5)).map(_.toInt)
          .getOrElse(SyslogFormat.guessYear(mon0, opt))
        var hh = g.group(6).toInt
        Option(g.group(12)).foreach { ampm => // %I 12-hour clock
          if (ampm == "PM" && hh < 12) hh += 12
          if (ampm == "AM" && hh == 12) hh = 0
        }
        val ldt = LocalDateTime.of(year, mon0 + 1, g.group(3).trim.toInt,
          hh, g.group(7).toInt, g.group(8).toInt)
        val usec = Option(g.group(10)).map(_.toInt * 1000).getOrElse(0)
        val sync = Option(g.group(1)).map(m => if (m == "*") "0" else "1").getOrElse("")
        Some((epoch(ldt, opt), usec, sync))
      case None => None
    }
  }

  private def epoch(ldt: LocalDateTime, opt: SyslogFormat.Options): Long =
    ldt.toEpochSecond(opt.recvZone.getRules.getOffset(ldt))

  private val seqRe = """^(\d+): """.r
  private val hostTailIso = """^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\w+ (\S+)\s*$""".r
  private val hostTailBsd =
    """^[\*\.]?([A-Za-z]{3} [0-9 ]?\d (\d{4} )?\d{2}:\d{2}:\d{2}(\.\d{3})?( (AM|PM))?) (\S+)\s*$""".r
  private val cpuRp = """^(RP/[0-9]/[^:]+):(.*)$""".r
  private val cpuClc = """^(CLC [0-9]/[0-9]): +(.*)$""".r
  private val hostRest = """^([^:]+): (.*)$""".r
  private val hostOnly = """^([^:]+)$""".r

  def parse(line: String, opt: SyslogFormat.Options): Option[CMsg] = {
    // <pri> (syslog-parser(flags(no-header)) step)
    var pri = if (opt.defaultPri >= 0) opt.defaultPri else 13
    var body = line
    if (line.startsWith("<")) {
      val gt = line.indexOf('>')
      if (gt > 1 && gt <= 4 && line.substring(1, gt).forall(_.isDigit)) {
        pri = line.substring(1, gt).toInt
        body = line.substring(gt + 1)
      }
    }

    // header / %message split at the first ": %"
    val cut = body.indexOf(": %")
    if (cut < 0) return None
    var head = body.substring(0, cut)
    val msg = body.substring(cut + 2)

    // %FAC[-SUB]-SEV-MNEMONIC triplet
    val colon = msg.indexOf(':')
    val seg = (if (colon < 0) msg.substring(1) else msg.substring(1, colon)).trim
    val parts = seg.split("-")
    val (fac, sev, mnem) = parts.length match {
      case 3 => (parts(0), parts(1), parts(2))
      case 4 => (parts(0) + "-" + parts(1), parts(2), parts(3))
      case _ => return None
    }

    // optional "seq: "
    var seqId = ""
    seqRe.findFirstMatchIn(head).foreach { g =>
      seqId = g.group(1); head = head.substring(g.end)
    }

    val recv = (Math.floorDiv(opt.nowEpochUsec, 1000000L),
      Math.floorMod(opt.nowEpochUsec, 1000000L).toInt)

    def done(host: String, cpu: String, ts: Option[(Long, Int, String)]): Option[CMsg] = {
      val (sec, usec, sync) = ts.getOrElse((recv._1, recv._2, ""))
      Some(CMsg(pri, sec, usec, host, cpu, fac, sev, mnem, msg, seqId, sync))
    }

    // the SCL's if/elif cascade over the header remainder
    // 1. [ts [host-at-end]] — optional host suffix, then the ts must scan
    val withHostTail = head match {
      case hostTailIso(ts, host) => Some((ts, host))
      case hostTailBsd(ts, _, _, _, _, host) => Some((ts, host))
      case _ => None
    }
    withHostTail match {
      case Some((tsText, host)) =>
        scanTs(tsText, opt) match {
          case s @ Some(_) => return done(host, "", s)
          case None =>
        }
      case None =>
        scanTs(head, opt) match {
          case s @ Some(_) => return done("", "", s)
          case None =>
        }
    }
    // 2. cpu module prefix, rest must open with a timestamp
    val cpuHit = head match {
      case cpuRp(cpu, rest) => Some((cpu, rest))
      case cpuClc(cpu, rest) => Some((cpu, rest))
      case _ => None
    }
    cpuHit.foreach { case (cpu, rest) =>
      scanTs(rest, opt).foreach(ts => return done("", cpu, Some(ts)))
    }
    // 3. "host: rest-with-timestamp"
    head match {
      case hostRest(host, rest) =>
        scanTs(rest, opt).foreach(ts => return done(host, "", Some(ts)))
      case _ =>
    }
    // 4. bare host, no timestamp → receive time
    head match {
      case hostOnly(host) => return done(host, "", None)
      case _ =>
    }
    // 5. empty header
    if (head.isEmpty) done("", "", None) else None
  }

  // ------------------------------------------------------------ Spark stage

  /** cisco-parser() as a parse stage (one `Generate` operator for batch
    * and streaming frames, see [[ParseStage]]); unmatched rows keep null
    * outputs and `<prefix>invalid = true` (tag-and-keep, like the other
    * parser stages — route on the flag for drop-invalid). A stage re-run
    * overwrites its earlier output columns.
    */
  def stage(df: DataFrame, textCol: String, opt: SyslogFormat.Options,
      prefix: String = "cisco_"): DataFrame = {
    val parser = Parser(opt, prefix)
    ParseStage(ParseStage.dropStale(df, parser), textCol, parser)
  }

  final case class Parser(opt: SyslogFormat.Options, prefix: String) extends RowParser[UTF8String] {
    def label: String = "cisco-parser"
    def fields: Seq[StructField] = Seq(
      StructField(s"${prefix}pri", IntegerType, nullable = true),
      StructField(s"${prefix}ts", TimestampNTZType, nullable = true),
      StructField(s"${prefix}host", StringType, nullable = true),
      StructField(s"${prefix}cpu_module", StringType, nullable = true),
      StructField(s"${prefix}facility", StringType, nullable = true),
      StructField(s"${prefix}severity", StringType, nullable = true),
      StructField(s"${prefix}mnemonic", StringType, nullable = true),
      StructField(s"${prefix}msg", StringType, nullable = true),
      StructField(s"${prefix}seqid", StringType, nullable = true),
      StructField(s"${prefix}invalid", BooleanType, nullable = false))

    def parse(text: UTF8String): InternalRow =
      (if (text == null) None else CiscoParser.parse(text.toString, opt)) match {
        case Some(m) =>
          val ofs = opt.recvZone.getRules.getOffset(
            java.time.Instant.ofEpochSecond(m.tsSec)).getTotalSeconds
          InternalRow(m.pri, (m.tsSec + ofs) * 1000000L + m.tsUsec,
            UTF8String.fromString(m.host), UTF8String.fromString(m.cpuModule),
            UTF8String.fromString(m.facility), UTF8String.fromString(m.severity),
            UTF8String.fromString(m.mnemonic), UTF8String.fromString(m.msg),
            UTF8String.fromString(m.seqId), false)
        case None => InternalRow(null, null, null, null, null, null, null, null, null, true)
      }
  }
}

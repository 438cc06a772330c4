package graft.parsers

import java.time.{LocalDateTime, ZoneId, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's syslog message classifier — RFC3164 ("legacy") and
  * RFC5424 ("syslog-protocol") line parsing with all of its heuristics,
  * ported from `modules/syslogformat/syslog-format.c` and
  * `lib/timeutils/scan-timestamp.c`, validated against
  * `lib/tests/test_msgparse.c`:
  *
  *  - optional `<PRI>` (missing → default-pri or user.notice + tag)
  *  - RFC6587 frame-count residue detection
  *  - Cisco sequence ids (`000123:`) and clock-sync markers (`*`/`.`)
  *  - timestamps: BSD `Mmm [d]d HH:MM:SS` (year guessed from the receive
  *    time — Dec/Jan rollover aware), Cisco PIX/ASA `Mmm dd YYYY HH:MM:SS`,
  *    LinkSys `Mmm dd HH:MM:SS YYYY`, ISO8601 with unbounded fractional
  *    digits and `Z`/±HH:MM zones; a missing timestamp falls back to the
  *    receive time with `syslog.missing_timestamp`
  *  - AIX "Message forwarded from HOST:" prefix, "last message repeated"
  *  - hostname acceptance heuristics (must be space-terminated, IPv6
  *    colon heuristic, optional strict charset via check-hostname)
  *  - `program[pid]:` legacy header; kernel-facility default program
  *  - RFC5424 header columns with `-` nil values, multi-element SDATA with
  *    `\"` `\]` `\\` unescaping, BOM-marked message part
  *  - on unparsable RFC5424 input: the reference's error form — pri 43,
  *    program `syslog-ng`, message `Error processing log message: …>@<…`
  *    with the marker at the failure offset (lib/msg-format.c:52)
  *
  * Everything is deterministic: "now" (the receive time) and the receive
  * zone are explicit [[SyslogFormat.Options]] fields, never wall clock.
  * (The reference's error path stamps getpid() as PID — deterministically
  * left empty here.)
  */
object SyslogFormat {

  object Flags {
    val ExpectHostname = "expect-hostname"
    val SyslogProtocol = "syslog-protocol"
    val NoRfc3164Fallback = "no-rfc3164-fallback"
    val CheckHostname = "check-hostname"
    val NoHeader = "no-header"
    val Local = "local"
    val StoreLegacyMsgHdr = "store-legacy-msghdr"
  }

  /** recvZone plays the role of the reference's local/recv-time-zone: the
    * zone assumed for timestamps that carry none (DST-aware), and the zone
    * in which the BSD year guess reads "now".
    */
  final case class Options(
      flags: Set[String] = Set.empty,
      defaultPri: Int = -1,
      recvZone: ZoneId = ZoneOffset.UTC,
      nowEpochUsec: Long = 0L,
      badHostname: Option[String] = None) {
    /** bad-hostname() — a candidate matching this regex is NOT a hostname
      * (affile's bad-hostname global option).
      */
    lazy val badHostnameRe: Option[java.util.regex.Pattern] =
      badHostname.map(java.util.regex.Pattern.compile)
  }

  final case class Msg(
      var pri: Int = 13,
      var tsSec: Long = 0L,
      var tsUsec: Int = 0,
      var tzOfs: Int = 0,
      var host: String = "",
      var prog: String = "",
      var pid: String = "",
      var msgid: String = "",
      var sdata: Vector[(String, String)] = Vector.empty,
      var sdataIds: Vector[String] = Vector.empty,
      var msg: String = "",
      var tags: Set[String] = Set.empty,
      var ciscoSeqId: String = "",
      var isSynced: String = "",
      var legacyMsgHdr: String = "",
      var format: String = "")

  private final class ParseError(val pos: Int) extends RuntimeException

  private[parsers] val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  // ---------------------------------------------------------------- cursor
  private final class Cur(val s: String) {
    var i = 0
    def left: Int = s.length - i
    def has: Boolean = i < s.length
    def peek: Char = s.charAt(i)
    def at(k: Int): Char = s.charAt(i + k)
    def skip(): Unit = i += 1
    def skipSpaces(): Unit = while (has && peek == ' ') i += 1
    def skipSpace(): Boolean = if (has && peek == ' ') { i += 1; true } else false
    def rest: String = s.substring(i)
    def take(n: Int): String = { val r = s.substring(i, i + n); i += n; r }
  }

  // ----------------------------------------------------------- entry point
  def parse(line: String, opt: Options): Msg = {
    val m = Msg()
    setRecvStamp(m, opt)
    try {
      if (opt.flags(Flags.SyslogProtocol)) parseSyslogProto(line, m, opt)
      else parseLegacy(line, m, opt)
      m
    } catch {
      case e: ParseError => errorMessage(line, e.pos, opt)
    }
  }

  /** lib/msg-format.c:47-64 — the unparsable-message form. */
  private def errorMessage(line: String, pos: Int, opt: Options): Msg = {
    val m = Msg()
    setRecvStamp(m, opt)
    m.pri = 5 * 8 + 3 // LOG_SYSLOG | LOG_ERR
    m.prog = "syslog-ng"
    m.msg =
      if (pos > 0)
        s"Error processing log message: ${line.substring(0, pos - 1)}>@<${line.substring(pos - 1)}"
      else s"Error processing log message: $line"
    m
  }

  private def setRecvStamp(m: Msg, opt: Options): Unit = {
    m.tsSec = Math.floorDiv(opt.nowEpochUsec, 1000000L)
    m.tsUsec = Math.floorMod(opt.nowEpochUsec, 1000000L).toInt
    m.tzOfs = opt.recvZone.getRules
      .getOffset(java.time.Instant.ofEpochSecond(m.tsSec)).getTotalSeconds
  }

  // ------------------------------------------------------------ legacy path
  private def parseLegacy(line: String, m: Msg, opt: Options): Unit = {
    val c = new Cur(line)
    checkFraming(c, m)
    parsePri(c, m, opt)
    if (!opt.flags(Flags.NoHeader)) parseLegacyHeader(c, m, opt)
    m.msg = c.rest
    m.format = "rfc3164"
  }

  /** `<PRI>` — absent PRI gets the default (user.notice) plus a tag; a
    * non-digit inside <> is a hard parse error (syslog-format.c:122-160).
    */
  private def parsePri(c: Cur, m: Msg, opt: Options): Unit =
    if (c.has && c.peek == '<') {
      c.skip()
      var pri = 0
      while (c.has && c.peek != '>') {
        if (!c.peek.isDigit) throw new ParseError(c.i)
        pri = pri * 10 + (c.peek - '0')
        c.skip()
      }
      m.pri = pri
      if (c.has) c.skip()
    } else {
      m.pri = if (opt.defaultPri >= 0) opt.defaultPri else 13
      m.tags += "syslog.missing_pri"
    }

  /** RFC6587 octet-count residue at line start (syslog-format.c:932). */
  private def checkFraming(c: Cur, m: Msg): Unit = {
    val start = c.i
    var n = 0
    while (c.has && c.peek.isDigit && n <= 10) { c.skip(); n += 1 }
    if (n == 0 || !c.has || c.peek != ' ') { c.i = start; return }
    m.tags += "syslog.unexpected_framing"
  }

  private val aixFwd = "Message forwarded from "
  private val repeated = "last message repeated"

  private def parseLegacyHeader(c: Cur, m: Msg, opt: Options): Unit = {
    parseCiscoSeqId(c, m)
    c.skipSpaces()
    // Cisco clock-sync marker before the timestamp (syslog-format.c:223)
    if (c.has && c.peek == '*') { m.isSynced = "0"; c.skip() }
    else if (c.has && c.peek == '.') { m.isSynced = "1"; c.skip() }

    val hdrStart = c.i
    if (parseDate(c, m, opt, iso5424Only = false)) {
      c.skipSpaces()
      var hostnameStart = -1
      var hostnameEnd = -1
      if (c.rest.startsWith(aixFwd)) {
        c.i += aixFwd.length
        hostnameStart = c.i
        while (c.has && c.peek != ':') c.skip()
        hostnameEnd = c.i
        while (c.has && (c.peek == ' ' || c.peek == ':')) c.skip()
      }
      if (c.rest.startsWith(repeated)) {
        () // no hostname or program on "last message repeated n times"
      } else {
        if (hostnameStart < 0 && opt.flags(Flags.ExpectHostname)) {
          val (hs, he) = parseHostname(c, m, opt)
          hostnameStart = hs; hostnameEnd = he
          c.skipSpaces()
        }
        parseLegacyProgramName(c, m, opt)
      }
      if (hostnameStart >= 0)
        m.host = c.s.substring(hostnameStart, math.min(hostnameEnd, hostnameStart + 255))
    } else {
      // no timestamp: "program[pid] message" — receive time already set
      c.i = hdrStart
      m.tags += "syslog.missing_timestamp"
      if ((m.pri & ~7) == 0 && opt.flags(Flags.Local)) m.prog = "kernel"
      else {
        m.tags += "syslog.rfc3164_missing_header"
        parseLegacyProgramName(c, m, opt)
      }
    }
  }

  /** `000123: ` sequence numbers Cisco IOS prepends (syslog-format.c:195). */
  private def parseCiscoSeqId(c: Cur, m: Msg): Unit = {
    val start = c.i
    while (c.has && c.peek != ':') {
      if (!c.peek.isDigit) { c.i = start; return }
      c.skip()
    }
    if (!c.has) { c.i = start; return }
    c.skip() // ':'
    if (!c.has || c.peek != ' ') { c.i = start; return }
    m.ciscoSeqId = c.s.substring(start, c.i - 1)
  }

  /** program[pid]: prefix of the legacy message (syslog-format.c:329). */
  private def parseLegacyProgramName(c: Cur, m: Msg, opt: Options): Unit = {
    val hdrStart = c.i
    val progStart = c.i
    while (c.has && c.peek != ' ' && c.peek != '[' && c.peek != ':') c.skip()
    m.prog = c.s.substring(progStart, c.i)
    if (c.has && c.peek == '[') {
      val pidStart = c.i + 1
      while (c.has && c.peek != ' ' && c.peek != ']' && c.peek != ':') c.skip()
      if (c.has) m.pid = c.s.substring(pidStart, c.i)
      if (c.has && c.peek == ']') c.skip()
    }
    if (c.has && c.peek == ':') c.skip()
    if (c.has && c.peek == ' ') c.skip()
    if (opt.flags(Flags.StoreLegacyMsgHdr))
      m.legacyMsgHdr = c.s.substring(hdrStart, c.i)
  }

  // --------------------------------------------------------------- hostname
  private def validHostnameChar(ch: Char): Boolean =
    ch.isLetterOrDigit && ch < 128 ||
      ch == '-' || ch == '_' || ch == '.' || ch == ':' || ch == '@' || ch == '/'

  /** Space-terminated token with the reference's IPv6-colon heuristic; a
    * rejected candidate rolls back and tags the message
    * (syslog-format.c:450-516).
    */
  private def parseHostname(c: Cur, m: Msg, opt: Options): (Int, Int) = {
    val start = c.i
    var segments = 0
    var digitsInSeg = 0
    var ipv6Ok = true
    var n = 0
    var break = false
    while (!break && c.has && c.peek != ' ' && c.peek != '[' && n < 255) {
      val ch = c.peek
      if (ipv6Ok) {
        if (ch != ':' && !isHexDigit(ch)) ipv6Ok = false
        else if (isHexDigit(ch)) { digitsInSeg += 1; if (digitsInSeg > 4) ipv6Ok = false }
        else { digitsInSeg = 0; segments += 1; if (segments >= 8) ipv6Ok = false }
      }
      if (ch == ':' && !ipv6Ok) break = true
      else if (opt.flags(Flags.CheckHostname) && !validHostnameChar(ch)) break = true
      else { c.skip(); n += 1 }
    }
    val candidate = c.s.substring(start, c.i)
    if (c.has && c.peek == ' ' &&
      !opt.badHostnameRe.exists(_.matcher(candidate).find())) (start, c.i)
    else {
      c.i = start
      m.tags += "syslog.invalid_hostname"
      (-1, -1)
    }
  }

  private def isHexDigit(ch: Char): Boolean =
    ch.isDigit || (ch >= 'a' && ch <= 'f') || (ch >= 'A' && ch <= 'F')

  // -------------------------------------------------------------- timestamp
  /** Returns false (leaving the cursor untouched) when no timestamp is
    * recognized; fills tsSec/tsUsec/tzOfs otherwise.
    */
  private def parseDate(c: Cur, m: Msg, opt: Options, iso5424Only: Boolean): Boolean = {
    val start = c.i
    val wct = scanTimestamp(c, opt, iso5424Only)
    wct match {
      case None => c.i = start; false
      case Some((ldt, usec, gmtofs)) =>
        // Cisco leaves a colon right after the timestamp; the legacy scan
        // consumes it so IPv6 hostnames stay detectable
        // (scan-timestamp.c:497-527 tail)
        if (!iso5424Only && c.has && c.peek == ':') c.skip()
        val ofs = gmtofs.getOrElse(opt.recvZone.getRules.getOffset(ldt).getTotalSeconds)
        m.tsSec = ldt.toEpochSecond(ZoneOffset.ofTotalSeconds(ofs))
        m.tsUsec = usec
        m.tzOfs = ofs
        true
    }
  }

  private def scanTimestamp(c: Cur, opt: Options,
      iso5424Only: Boolean): Option[(LocalDateTime, Int, Option[Int])] =
    // shape checks below are punctuation-only; a non-digit in a digit slot
    // ("abcd-ef-gh ij:kl:mn") must scan as NO timestamp, not kill the task
    try scanTimestamp0(c, opt, iso5424Only)
    catch { case _: NumberFormatException => None }

  private def scanTimestamp0(c: Cur, opt: Options,
      iso5424Only: Boolean): Option[(LocalDateTime, Int, Option[Int])] = {
    val r = c.rest
    def d(k: Int): Boolean = k < r.length && r(k).isDigit
    val isIso = r.length >= 19 && r(4) == '-' && r(7) == '-' &&
      (r(10) == 'T' || r(10) == ' ') && r(13) == ':' && r(16) == ':'
    if (iso5424Only && !isIso) return None

    if (isIso) {
      val year = r.substring(0, 4).toInt
      val mon = r.substring(5, 7).toInt
      val day = r.substring(8, 10).toInt
      val hh = r.substring(11, 13).toInt
      val mi = r.substring(14, 16).toInt
      val ss = r.substring(17, 19).toInt
      c.i += 19
      val usec = parseUsec(c)
      val ofs: Option[Int] =
        if (c.has && c.peek == 'Z') { c.skip(); Some(0) }
        else isoZone(c)
      mkLdt(year, mon, day, hh, mi, ss).map((_, usec, ofs))
    } else {
      // BSD family — PIX/ASA, LinkSys, plain BSD (scan-timestamp.c:455)
      val isPix = r.length >= 21 && r(3) == ' ' && r(6) == ' ' && r(11) == ' ' &&
        r(14) == ':' && r(17) == ':' && (r(20) == ':' || r(20) == ' ') &&
        d(7) && d(8) && d(9) && d(10)
      val isLinksys = r.length >= 21 && r(3) == ' ' && r(6) == ' ' && r(9) == ':' &&
        r(12) == ':' && r(15) == ' ' && d(16) && d(17) && d(18) && d(19) &&
        r(20).isWhitespace
      val isBsd = r.length >= 15 && r(3) == ' ' && r(6) == ' ' && r(9) == ':' && r(12) == ':'
      val isBsdNoPad = r.length >= 14 && r(3) == ' ' && d(4) && r(5) == ' ' &&
        r(8) == ':' && r(11) == ':'
      // month abbrevs compare case-insensitively ("NOV 22" Dell switches)
      val mon0 = months.indexWhere(_.equalsIgnoreCase(r.take(3)))
      if (mon0 < 0) return None

      def num(from: Int, len: Int): Int = r.substring(from, from + len).trim.toInt

      if (isPix) {
        val ldt = mkLdt(num(7, 4), mon0 + 1, num(4, 2), num(12, 2), num(15, 2), num(18, 2))
        c.i += 20
        if (c.has && c.peek == ':') c.skip()
        ldt.map((_, 0, None))
      } else if (isLinksys) {
        val ldt = mkLdt(num(16, 4), mon0 + 1, num(4, 2), num(7, 2), num(10, 2), num(13, 2))
        c.i += 20
        ldt.map((_, 0, None))
      } else if (isBsd || isBsdNoPad) {
        val (day, base) = if (isBsd) (num(4, 2), 7) else (num(4, 1), 6)
        val hh = num(base, 2); val mi = num(base + 3, 2); val ss = num(base + 6, 2)
        c.i += base + 8
        val usec = parseUsec(c)
        val year = guessYear(mon0, opt)
        mkLdt(year, mon0 + 1, day, hh, mi, ss).map((_, usec, None))
      } else None
    }
  }

  /** `.frac`/`,frac` → microseconds; extra digits ignored (scan-timestamp.c:337). */
  private def parseUsec(c: Cur): Int = {
    if (!c.has || (c.peek != '.' && c.peek != ',')) return 0
    c.skip()
    var frac = 0L
    var div = 1L
    while (c.has && div < 1000000L && c.peek.isDigit) {
      frac = frac * 10 + (c.peek - '0'); div *= 10; c.skip()
    }
    while (c.has && c.peek.isDigit) c.skip()
    (frac * (1000000L / div)).toInt
  }

  /** ±HH:MM zone suffix (scan-timestamp.c:385-416). */
  private def isoZone(c: Cur): Option[Int] = {
    val r = c.rest
    val ok = r.length >= 6 && (r(0) == '+' || r(0) == '-') &&
      r(1).isDigit && r(2).isDigit && r(3) == ':' && r(4).isDigit && r(5).isDigit &&
      (r.length < 7 || !r(6).isDigit)
    if (!ok) return None
    val sign = if (r(0) == '-') -1 else 1
    val tz = sign * ((r(1) - '0') * 10 + (r(2) - '0')) * 3600 +
      sign * ((r(4) - '0') * 10 + (r(5) - '0')) * 60
    c.i += 6
    Some(tz)
  }

  /** Year for a year-less BSD stamp: receive-time year, Dec/Jan rollover
    * aware (lib/timeutils/wallclocktime.c:862-883).
    */
  private[parsers] def guessYear(mon0: Int, opt: Options): Int = {
    val now = java.time.Instant.ofEpochSecond(Math.floorDiv(opt.nowEpochUsec, 1000000L))
      .atZone(opt.recvZone)
    if (mon0 == 11 && now.getMonthValue == 1) now.getYear - 1
    else if (mon0 == 0 && now.getMonthValue == 12) now.getYear + 1
    else now.getYear
  }

  private def mkLdt(y: Int, mo: Int, dd: Int, hh: Int, mi: Int, ss: Int): Option[LocalDateTime] =
    try Some(LocalDateTime.of(y, mo, dd, hh, mi, ss)) catch { case _: Exception => None }

  // --------------------------------------------------------- RFC5424 (IETF)
  private def parseSyslogProto(line: String, m: Msg, opt: Options): Unit = {
    val c = new Cur(line)
    checkFraming(c, m)

    val priStart = c.i
    val priOk =
      try { parsePri(c, m, opt); true } catch { case _: ParseError => false }
    val verOk = priOk && parseVersion(c)
    if (!priOk || !verOk) {
      if (opt.flags(Flags.NoRfc3164Fallback)) throw new ParseError(c.i)
      c.i = priStart
      val m2 = Msg(); setRecvStamp(m2, opt) // reset partial state
      parseLegacy(line, m2, opt)
      copyInto(m2, m)
      return
    }

    if (!c.skipSpace()) throw new ParseError(c.i)

    if (c.has && c.peek == '-') { // nil timestamp → receive time
      m.tags += "syslog.missing_timestamp"
      c.skip()
    } else if (!parseDate(c, m, opt, iso5424Only = true)) throw new ParseError(c.i)

    if (!c.skipSpace()) throw new ParseError(c.i)

    val (hs, he) = parseHostname(c, m, opt)
    if (!c.skipSpace()) throw new ParseError(c.i + 1)
    if (hs >= 0) {
      val h = c.s.substring(hs, he)
      if (h != "-") m.host = h
    }

    m.prog = parseColumn(c, 48); if (!c.skipSpace()) throw new ParseError(c.i)
    m.pid = parseColumn(c, 128); if (!c.skipSpace()) throw new ParseError(c.i)
    m.msgid = parseColumn(c, 32); if (!c.skipSpace()) throw new ParseError(c.i)

    parseSdColumn(c, m)
    parseMessageColumn(c, m)
    m.format = "rfc5424"
  }

  private def copyInto(src: Msg, dst: Msg): Unit = {
    dst.pri = src.pri; dst.tsSec = src.tsSec; dst.tsUsec = src.tsUsec
    dst.tzOfs = src.tzOfs; dst.host = src.host; dst.prog = src.prog
    dst.pid = src.pid; dst.msgid = src.msgid; dst.sdata = src.sdata
    dst.msg = src.msg; dst.tags = dst.tags ++ src.tags
    dst.ciscoSeqId = src.ciscoSeqId; dst.isSynced = src.isSynced
    dst.legacyMsgHdr = src.legacyMsgHdr; dst.format = src.format
  }

  private def parseVersion(c: Cur): Boolean = {
    val start = c.i
    var v = 0
    while (c.has && c.peek != ' ') {
      if (!c.peek.isDigit) { c.i = start; return false }
      v = v * 10 + (c.peek - '0'); c.skip()
    }
    if (v != 1) { c.i = start; return false }
    true
  }

  /** Space-delimited header column; `-` is nil (syslog-format.c:164). */
  private def parseColumn(c: Cur, maxLen: Int): String = {
    val start = c.i
    while (c.has && c.peek != ' ') c.skip()
    val v = c.s.substring(start, math.min(c.i, start + maxLen))
    if (v == "-") "" else v
  }

  /** Multi-element `[id p="v"…]…` SDATA (syslog-format.c:530-766): `\"` `\]`
    * `\\` unescape inside quoted values, any other backslash kept verbatim;
    * an unescaped `]` inside a quoted value is a hard error.
    */
  private def parseSdColumn(c: Cur, m: Msg): Unit = {
    if (!c.has) return
    if (c.peek != '-' && c.peek != '[') return // forgiving: no SD block
    if (c.peek == '-') { c.skip(); return }
    c.skip() // '['
    var openSd = 1
    def nameOk(ch: Char) = ch < 128 && ch != '=' && ch != ' ' && ch != ']' && ch != '"'
    while (openSd != 0) {
      if (!c.has || !nameOk(c.peek)) throw new ParseError(c.i)
      val idStart = c.i
      while (c.has && c.peek != ' ' && c.peek != ']') {
        if (!nameOk(c.peek)) throw new ParseError(c.i)
        c.skip()
      }
      if (c.i == idStart) throw new ParseError(c.i)
      val sdId = c.s.substring(idStart, c.i)
      m.sdataIds :+= sdId
      if (c.has && c.peek == ']') m.sdata :+= (s".SDATA.$sdId" -> "")
      while (c.has && c.peek != ']') {
        if (!c.skipSpace()) throw new ParseError(c.i)
        if (!c.has || !nameOk(c.peek)) throw new ParseError(c.i)
        val pStart = c.i
        while (c.has && c.peek != '=') {
          if (!nameOk(c.peek)) throw new ParseError(c.i)
          c.skip()
        }
        val pName = c.s.substring(pStart, c.i)
        if (!c.has) throw new ParseError(c.i)
        c.skip() // '='
        val value = new java.lang.StringBuilder
        if (c.has && c.peek == '"') {
          c.skip()
          var quote = false
          var closed = false
          while (!closed && c.has) {
            val ch = c.peek
            if (!quote && ch == '"') closed = true
            else {
              if (!quote && ch == '\\') quote = true
              else {
                if (quote && ch != '"' && ch != ']' && ch != '\\') value.append('\\')
                else if (!quote && ch == ']') { c.skip(); throw new ParseError(c.i) }
                value.append(ch)
                quote = false
              }
              c.skip()
            }
          }
          if (!closed) throw new ParseError(c.i)
          c.skip() // closing '"'
        } else if (c.has) {
          while (c.has && c.peek != ' ' && c.peek != ']') { value.append(c.peek); c.skip() }
        } else throw new ParseError(c.i)
        m.sdata :+= (s".SDATA.$sdId.$pName" -> value.toString)
      }
      if (c.has && c.peek == ']') { c.skip(); openSd -= 1 }
      else throw new ParseError(c.i)
      if (c.has && c.peek == '[') { c.skip(); openSd += 1 }
    }
  }

  /** Optional `[SP MSG]`; a leading BOM (U+FEFF after UTF-8 decode) is
    * stripped like the reference strips the 3 BOM bytes
    * (syslog-format.c:788-841).
    */
  private def parseMessageColumn(c: Cur, m: Msg): Unit = {
    if (c.has) {
      if (!c.skipSpace()) throw new ParseError(c.i)
      if (c.has && c.peek == '\uFEFF') c.skip()
    }
    m.msg = c.rest
  }

  /** A standalone SDATA string (the `sdata-parser()` input — quoted or
    * unquoted param values, multiple elements) → (element ids in order,
    * (id.param → value) pairs). None when `text` is not SDATA-shaped or has
    * trailing garbage (modules/sdata-parser discards those).
    */
  def parseSdata(text: String): Option[(Vector[String], Vector[(String, String)])] = {
    val m = Msg()
    val c = new Cur(text)
    try {
      if (!c.has || c.peek != '[') return None
      parseSdColumn(c, m)
      if (c.has) None
      else Some((m.sdataIds,
        m.sdata.map { case (k, v) => k.stripPrefix(".SDATA.") -> v }))
    } catch { case _: ParseError => None }
  }

  // ------------------------------------------------------------ Spark stage

  /** syslog-parser() as a parse stage (one `Generate` operator for batch
    * and streaming frames, see [[ParseStage]]). The parsed timestamp lands as
    * timestamp_ntz in the zone the stamp carried (i.e. its naive
    * wall-clock), with the resolved offset in `<prefix>tzofs`. Tags are
    * sorted so stage retries re-produce identical arrays. A stage re-run
    * overwrites its earlier output columns ([[ParseStage.dropStale]]).
    */
  def stage(df: DataFrame, textCol: String, opt: Options,
      prefix: String = "sl_"): DataFrame = {
    val parser = Parser(opt, prefix)
    ParseStage(ParseStage.dropStale(df, parser), textCol, parser)
  }

  final case class Parser(opt: Options, prefix: String) extends RowParser[UTF8String] {
    def label: String = "syslog-parser"
    def fields: Seq[StructField] = Seq(
      StructField(s"${prefix}pri", IntegerType, nullable = false),
      StructField(s"${prefix}ts", TimestampNTZType, nullable = false),
      StructField(s"${prefix}tzofs", IntegerType, nullable = false),
      StructField(s"${prefix}host", StringType, nullable = false),
      StructField(s"${prefix}prog", StringType, nullable = false),
      StructField(s"${prefix}pid", StringType, nullable = false),
      StructField(s"${prefix}msgid", StringType, nullable = false),
      StructField(s"${prefix}msg", StringType, nullable = false),
      StructField(s"${prefix}sdata", MapType(StringType, StringType), nullable = false),
      StructField(s"${prefix}tags", ArrayType(StringType), nullable = false),
      StructField(s"${prefix}format", StringType, nullable = false))

    def parse(text: UTF8String): InternalRow = {
      val m = SyslogFormat.parse(if (text == null) "" else text.toString, opt)
      // naive (ntz) micros of the parsed stamp: shift the epoch micros into
      // the stamp's own zone so the rendered wall-clock matches the input
      val ntzMicros = (m.tsSec + m.tzOfs) * 1000000L + m.tsUsec
      InternalRow(m.pri, ntzMicros, m.tzOfs,
        UTF8String.fromString(m.host), UTF8String.fromString(m.prog),
        UTF8String.fromString(m.pid), UTF8String.fromString(m.msgid),
        UTF8String.fromString(m.msg),
        ParseStage.strMap(m.sdata.map(_._1), m.sdata.map(_._2)),
        ParseStage.strArray(m.tags.toSeq.sorted),
        UTF8String.fromString(m.format))
    }
  }
}

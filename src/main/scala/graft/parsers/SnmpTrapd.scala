package graft.parsers

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** snmptrapd-parser(): parses the textual log output of the Net-SNMP
  * `snmptrapd` daemon into name-values — the reference's
  * `modules/afsnmp/snmptrapd-parser.c` (process flow, key formatting,
  * generated MESSAGE), `snmptrapd-header-parser.c` (timestamp / hostname /
  * transport-info / v1 trap-info header), and `varbindlist-scanner.c` (a
  * kv-scanner configured with `:` as a valid key char, TAB pair separator,
  * newline stop char, and a `TYPE:` annotation hook —
  * `lib/scanner/kv-scanner/kv-scanner.c` semantics).
  *
  * Input shape (header comment at snmptrapd-header-parser.c:304-307):
  * {{{
  * DATE HOST [TRANSPORT_INFO]: V1_ENTERPRISE_OID
  * <TAB> V1_TRAP_TYPE (V1_TRAP_SUBTYPE) "Uptime:" UPTIME
  * varbind = TYPE: value <TAB> varbind = TYPE: value ...
  * }}}
  * The v1 trap-info block is detected by the character after the first
  * newline being a TAB (snmptrapd-header-parser.c:281-287); otherwise the
  * varbind list starts right after the header newline (SNMPv2 shape). A
  * message whose header does not parse is DROPPED (the reference parser
  * returns FALSE and the log path discards the message).
  *
  * Spark shape: a per-row FSM cannot be a Catalyst expression, so
  * [[stage]] runs it as a partition-local InternalRow function inside the
  * scan stage (the [[Scanners]] precedent) — no shuffle, no driver state.
  */
object SnmpTrapd {

  /** One parsed message: naive wall-clock stamp (the header's
    * `YYYY-MM-DD HH:MM:SS`, out-of-range fields normalized mktime-style
    * like the reference's convert_and_normalize_wall_clock_time...),
    * name-values with their RAW keys in add order (hostname,
    * transport_info, v1 fields, then varbinds), and the generated
    * `key='value', ...` message (snmptrapd-parser.c:118-132).
    */
  final case class Parsed(
      stampMicros: Long,
      values: Vector[(String, String)],
      message: String)

  // ----------------------------------------------------------- header

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0b || c == '\f'

  /** Parse one snmptrapd message; null when the header does not parse
    * (the reference's dropped-message signal).
    */
  def parse(input: String): Parsed = {
    if (input == null) return null
    val len = input.length
    var pos = 0
    val nv = ArrayBuffer.empty[(String, String)]

    def skipSpaces(): Unit = { while (pos < len && input.charAt(pos) == ' ') pos += 1 }
    def expect(c: Char): Boolean =
      if (pos < len && input.charAt(pos) == c) { pos += 1; true } else false
    // scan_positive_int with a field width: exactly `n` digits
    def digits(n: Int): Int = {
      if (pos + n > len) return -1
      var v = 0
      var i = 0
      while (i < n) {
        val c = input.charAt(pos + i)
        if (c < '0' || c > '9') return -1
        v = v * 10 + (c - '0')
        i += 1
      }
      pos += n
      v
    }

    // --- timestamp (snmptrapd-header-parser.c:246-278) ---
    skipSpaces()
    val year = digits(4); if (year < 0 || !expect('-')) return null
    val mon = digits(2); if (mon < 0 || !expect('-')) return null
    val day = digits(2); if (day < 0 || !expect(' ')) return null
    val hh = digits(2); if (hh < 0 || !expect(':')) return null
    val mi = digits(2); if (mi < 0 || !expect(':')) return null
    val ss = digits(2); if (ss < 0) return null
    // mktime-style normalization: roll out-of-range components forward
    val stampMicros =
      try {
        val d = java.time.LocalDate.of(year, 1, 1)
          .plusMonths(mon - 1).plusDays(day - 1)
        val t = java.time.LocalDateTime.of(d, java.time.LocalTime.MIDNIGHT)
          .plusHours(hh).plusMinutes(mi).plusSeconds(ss)
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      } catch { case _: java.time.DateTimeException => return null }

    // --- hostname: non-whitespace run (:226-244) ---
    skipSpaces()
    val hStart = pos
    while (pos < len && !isAsciiSpace(input.charAt(pos))) pos += 1
    if (pos == hStart) return null
    nv += "hostname" -> input.substring(hStart, pos)

    // --- transport info: '[' ... last ']' before the newline (:196-224) ---
    skipSpaces()
    if (!expect('[')) return null
    skipSpaces()
    val tStart = pos
    val tNl = input.indexOf('\n', pos)
    if (tNl < 0) return null
    var tEnd = tNl
    while (tEnd > tStart && input.charAt(tEnd) != ']') tEnd -= 1
    if (input.charAt(tEnd) != ']' || tEnd == tStart) return null
    nv += "transport_info" -> input.substring(tStart, tEnd)
    pos = tEnd + 1

    skipSpaces()
    if (!expect(':')) return null

    // --- v1 trap info, when the char after the first newline is a TAB
    //     (:281-299); each sub-step skips leading spaces like the step
    //     runner (:56-72) ---
    skipSpaces()
    val dNl = input.indexOf('\n', pos)
    if (!(dNl >= 0 && (dNl + 1 >= len || input.charAt(dNl + 1) != '\t'))) {
      // enterprise oid (optional, :171-193)
      skipSpaces()
      val eStart = pos
      while (pos < len && !isAsciiSpace(input.charAt(pos))) pos += 1
      if (pos > eStart) nv += "enterprise_oid" -> input.substring(eStart, pos)
      skipSpaces(); if (!expect('\n')) return null
      skipSpaces(); if (!expect('\t')) return null
      // trap type up to '(' (one trailing space stripped), subtype up to
      // ')' — both must appear before the next newline (:140-169)
      skipSpaces()
      val yStart = pos
      var p = pos
      while (p < len && input.charAt(p) != '(' && input.charAt(p) != '\n') p += 1
      if (p >= len || input.charAt(p) != '(') return null
      var yEnd = p
      val sStart = p + 1
      if (yEnd > yStart && input.charAt(yEnd - 1) == ' ') yEnd -= 1
      nv += "type" -> input.substring(yStart, yEnd)
      p = sStart
      while (p < len && input.charAt(p) != ')' && input.charAt(p) != '\n') p += 1
      if (p >= len || input.charAt(p) != ')') return null
      nv += "subtype" -> input.substring(sStart, p)
      pos = p + 1
      // "Uptime:" then value until newline (not consumed) or end (:115-138)
      skipSpaces()
      if (!input.startsWith("Uptime:", pos)) return null
      pos += "Uptime:".length
      skipSpaces()
      val uNl = input.indexOf('\n', pos)
      if (uNl < 0) { nv += "uptime" -> input.substring(pos); pos = len }
      else { nv += "uptime" -> input.substring(pos, uNl); pos = uNl }
    }

    // --- newline or end of message closes the header (:87-91) ---
    skipSpaces()
    if (pos < len && !expect('\n')) return null

    // --- varbind list ---
    nv ++= scanVarBinds(input.substring(pos)).map { case (k, _, v) => (k, v) }

    val msg = nv.map { case (k, v) => s"$k='${escapeValue(v)}'" }.mkString(", ")
    Parsed(stampMicros, nv.toVector, msg)
  }

  // ----------------------------------------------------- varbind scanner

  // varbindlist-scanner.c:26-36 — kv-scanner key chars PLUS ':'
  @inline private def isKeyChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-' || c == ':'

  /** Scan a varbind list into (key, type, value) triples — a kv-scanner
    * run with value separator '=', pair separator TAB, stop char '\n',
    * and the `TYPE:` annotation extracted between the '=' and the value
    * (varbindlist-scanner.c:49-81). Types with no annotation scan as "".
    */
  def scanVarBinds(s: String): Vector[(String, String, String)] = {
    val out = Vector.newBuilder[(String, String, String)]
    val len = s.length
    var pos = 0

    def keyFollows(i0: Int): Boolean = {
      var i = i0
      while (i < len && isKeyChar(s.charAt(i))) i += 1
      if (i == i0) return false
      while (i < len && s.charAt(i) == ' ') i += 1
      i < len && s.charAt(i) == '='
    }

    // kv-scanner.c _match_delimiter with pair separator "\t" and stop '\n'
    def matchDelimiter(i: Int, valueWasQuoted: Boolean): Int = {
      if (i >= len) return -1
      val c = s.charAt(i)
      if (!valueWasQuoted && c == ' ') {
        var j = i
        while (j < len && s.charAt(j) == ' ') j += 1
        if (j >= len || keyFollows(j)) j
        else if (s.charAt(j) == '\t') j + 1
        else -1
      } else if (c == ' ') i + 1
      else if (c == '\n') i // stop char ends the value, NOT consumed
      else if (c == '\t') i + 1
      else -1
    }

    var scanning = true
    while (scanning && pos < len && s.charAt(pos) != '\n') {
      // key: walk back from the next value separator (kv-scanner.c:122-144)
      var sep = s.indexOf('=', pos)
      var key: String = null
      while (key == null && sep >= 0) {
        var endOfKey = sep
        while (endOfKey > pos && s.charAt(endOfKey - 1) == ' ') endOfKey -= 1
        var startOfKey = endOfKey
        while (startOfKey > pos && isKeyChar(s.charAt(startOfKey - 1))) startOfKey -= 1
        if (endOfKey > startOfKey) {
          key = s.substring(startOfKey, endOfKey)
          pos = sep + 1
        } else sep = s.indexOf('=', sep + 1)
      }
      if (key == null) scanning = false
      else {
        // annotation: skip spaces/tabs, scan to the first of ": \t"; only
        // a ':' hit is a type (varbindlist-scanner.c:49-69)
        var ty = ""
        var t = pos
        while (t < len && (s.charAt(t) == ' ' || s.charAt(t) == '\t')) t += 1
        var te = t
        while (te < len && s.charAt(te) != ':' && s.charAt(te) != ' ' && s.charAt(te) != '\t') te += 1
        if (te < len && s.charAt(te) == ':') { ty = s.substring(t, te); pos = te + 1 }
        // value: skip leading non-delimiter spaces, then str-repr decode
        // (the scanKv FSM, lib/str-repr/decode.c)
        while (pos < len && s.charAt(pos) == ' ' && matchDelimiter(pos, false) < 0) pos += 1
        val quoted = pos < len && (s.charAt(pos) == '\'' || s.charAt(pos) == '"')
        val sb = new java.lang.StringBuilder
        var state = 0 // 0 initial, 1 quote, 2 backslash, 3 expect-delim, 4 error, 5 unquoted
        var qc: Char = 0
        var i = pos
        var finished = 0
        while (finished == 0 && i < len) {
          val c = s.charAt(i)
          state match {
            case 0 =>
              val d = matchDelimiter(i, quoted)
              if (d >= 0) { i = d; finished = 1 }
              else if (c == '"' || c == '\'') { qc = c; state = 1; i += 1 }
              else { sb.append(c); state = 5; i += 1 }
            case 1 =>
              if (c == qc) state = 3
              else if (c == '\\') state = 2
              else sb.append(c)
              i += 1
            case 2 =>
              c match {
                case 'b' => sb.append('\b')
                case 'f' => sb.append('\f')
                case 'n' => sb.append('\n')
                case 'r' => sb.append('\r')
                case 't' => sb.append('\t')
                case '\\' => sb.append('\\')
                case _ => if (qc != c) sb.append('\\'); sb.append(c)
              }
              state = 1; i += 1
            case 3 =>
              val d = matchDelimiter(i, quoted)
              if (d >= 0) { i = d; finished = 1 } else state = 4
            case 4 =>
              val d = matchDelimiter(i, quoted)
              if (d >= 0) { i = d; finished = 2 } else i += 1
            case 5 =>
              val d = matchDelimiter(i, quoted)
              if (d >= 0) { i = d; finished = 1 }
              else { sb.append(c); i += 1 }
          }
        }
        val ok = finished == 1 ||
          (finished == 0 && (state == 0 || state == 3 || state == 5))
        if (ok) {
          out += ((key, ty, sb.toString))
          pos = i
        } else {
          // quotation error: the raw consumed text is the value
          out += ((key, ty, s.substring(pos, i)))
        }
      }
    }
    out.result()
  }

  // -------------------------------------------------------- key / value

  /** prefix + raw key, then every run of ':' collapses to ONE '_'
    * (snmptrapd-parser.c:56-101 `_normalize_key`, unwanted char = ':').
    */
  def formatKey(prefix: String, key: String): String =
    (prefix + key).replaceAll(":+", "_")

  /** append_unsafe_utf8_as_escaped_text with `'` unsafe
    * (lib/utf8utils.c:62-110): named control escapes, backslash doubled,
    * other controls as \xNN, the quote as \'.
    */
  def escapeValue(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length + 8)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      c match {
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\\' => sb.append("\\\\")
        case '\'' => sb.append("\\'")
        case _ =>
          if (c < 0x20) sb.append(f"\\x${c.toInt}%02x") else sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------- stage

  /** snmptrapd-parser() as a parse stage (one `Generate` operator for
    * batch and streaming frames, see [[ParseStage]]): parses `textCol`,
    * DROPS rows whose header does not parse (the reference's FALSE
    * return), and adds:
    *   - `snmp_fields`: formatted-key → value map, last-wins in first-seen
    *     key order (prefix applied + ':'-runs normalized,
    *     snmptrapd-parser.c:103-116)
    *   - `snmp_stamp`: the header timestamp (timestamp_ntz)
    *   - `snmp_program`: "snmptrapd" (snmptrapd-parser.c:199)
    *   - `snmp_message`: the generated `key='value', ...` message, or null
    *     with `setMessageMacro=false` (the reference then UNSETS $MESSAGE)
    */
  def stage(df: DataFrame, textCol: String,
      prefix: String = ".snmp.", setMessageMacro: Boolean = true): DataFrame =
    ParseStage(df, textCol, Parser(prefix, setMessageMacro))

  final case class Parser(prefix: String, setMessageMacro: Boolean) extends RowParser[UTF8String] {
    def label: String = "snmptrapd-parser"
    def fields: Seq[StructField] = Seq(
      StructField("snmp_fields",
        MapType(StringType, StringType, valueContainsNull = false), nullable = false),
      StructField("snmp_stamp", TimestampNTZType, nullable = false),
      StructField("snmp_program", StringType, nullable = false),
      StructField("snmp_message", StringType, nullable = true))

    def parse(text: UTF8String): InternalRow = {
      val parsed = SnmpTrapd.parse(if (text == null) null else text.toString)
      if (parsed == null) null
      else InternalRow(
        ParseStage.lastWins(parsed.values.map { case (k, v) => formatKey(prefix, k) -> v }),
        parsed.stampMicros, UTF8String.fromString("snmptrapd"),
        if (setMessageMacro) UTF8String.fromString(parsed.message) else null)
    }
  }
}

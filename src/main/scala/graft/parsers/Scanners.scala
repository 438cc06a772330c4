package graft.parsers

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's character-level field scanners, transliterated:
  *
  * - CSV dialects (reference lib/scanner/csv-scanner/csv-scanner.c):
  *   escape-none / escape-backslash / escape-backslash-with-sequences /
  *   escape-double-char, multi-char quote pairs, strip-whitespace, greedy
  *   last column, null-value translation, string delimiters. An
  *   incomplete scan marks the row invalid (the csv-parser drop-invalid
  *   contract, modules/csvparser/csvparser.c:177).
  *
  * - KV scanner (reference lib/scanner/kv-scanner/kv-scanner.c + the
  *   quoted-value decoder lib/str-repr/decode.c): keys are located
  *   *backwards* from each value separator, quoted values decode
  *   backslash escapes, unquoted values absorb words until the next
  *   `key=` (space is only a delimiter when a key follows), the `", "`
  *   pair separator splits values, and non-key text becomes stray words.
  *
  * These run as partition-local row functions inside the scan stage (an
  * FSM per row cannot be a Catalyst expression; the stage shuffles
  * nothing).
  */
object Scanners {

  // ------------------------------------------------------------------ CSV

  sealed trait CsvDialect
  case object EscapeNone extends CsvDialect
  case object EscapeBackslash extends CsvDialect
  case object EscapeBackslashWithSequences extends CsvDialect
  case object EscapeDoubleChar extends CsvDialect

  final case class CsvOptions(
      delimiters: String = ",",
      quotesStart: String = "\"'",
      quotesEnd: String = "\"'",
      dialect: CsvDialect = EscapeNone,
      stripWhitespace: Boolean = false,
      greedy: Boolean = false,
      nullValue: String = null,
      stringDelimiters: Seq[String] = Nil)

  /** Scan `input` into exactly `n` columns; returns null when the scan is
    * incomplete (missing columns, or trailing unconsumed input) — the
    * caller's drop-invalid signal.
    */
  def scanCsv(input: String, n: Int, o: CsvOptions): Array[String] = {
    val (out, ok) = scanCsvPartial(input, n, o)
    if (ok) out else null
  }

  /** Reference semantics (csvparser.c:276-309): columns fill as far as the
    * scan gets — missing trailing columns stay null and ONLY the invalid
    * flag records the incomplete scan (drop-invalid decides the fate, never
    * the fill).
    */
  def scanCsvPartial(input: String, n: Int, o: CsvOptions): (Array[String], Boolean) = {
    val out = new Array[String](n)
    var src = 0
    val len = input.length
    val sb = new java.lang.StringBuilder
    var col = 0
    def isWs(c: Char) = c == ' ' || c == '\t'

    while (col < n) {
      sb.setLength(0)
      if (col == n - 1 && o.greedy) {
        var s = src
        if (o.stripWhitespace) while (s < len && isWs(input.charAt(s))) s += 1
        sb.append(input, s, len)
        src = len
        out(col) = translate(sb, o)
        col += 1
      } else if (src >= len) {
        return (out, false) // partial input: a real column with no data left
      } else {
        // opening quote, then (flagged) left whitespace inside it
        var quote: Char = 0
        val qi = o.quotesStart.indexOf(input.charAt(src))
        if (qi >= 0) { quote = o.quotesEnd.charAt(qi); src += 1 }
        if (o.stripWhitespace) while (src < len && isWs(input.charAt(src))) src += 1
        var done = false
        while (!done && src < len) {
          if (quote != 0) {
            val c = input.charAt(src)
            if (o.dialect == EscapeBackslash && c == '\\' && src + 1 < len) {
              sb.append(input.charAt(src + 1)); src += 2
            } else if (o.dialect == EscapeBackslashWithSequences && c == '\\' && src + 1 < len) {
              var ch = input.charAt(src + 1)
              src += 2
              if (ch != quote) ch match {
                case 'a' => ch = '\u0007'
                case 'n' => ch = '\n'
                case 'r' => ch = '\r'
                case 't' => ch = '\t'
                case 'v' => ch = '\u000B'
                case 'x' if src + 1 < len =>
                  val d = java.lang.Character.digit(input.charAt(src), 16)
                  val e = java.lang.Character.digit(input.charAt(src + 1), 16)
                  if (d >= 0 && e >= 0) { ch = ((d << 4) + e).toChar; src += 2 }
                  else ch = 'x'
                case _ => ()
              }
              sb.append(ch)
            } else if (o.dialect == EscapeDoubleChar && c == quote &&
                       src + 1 < len && input.charAt(src + 1) == quote) {
              sb.append(quote); src += 2
            } else if (c == quote) {
              quote = 0; src += 1
            } else { sb.append(c); src += 1 }
          } else {
            // unquoted: delimiter ends the column
            val sd = o.stringDelimiters.find(d => input.startsWith(d, src))
            if (sd.isDefined) { src += sd.get.length; done = true }
            else if (o.delimiters.indexOf(input.charAt(src)) >= 0) { src += 1; done = true }
            else { sb.append(input.charAt(src)); src += 1 }
          }
        }
        out(col) = translate(sb, o)
        col += 1
      }
    }
    (out, src >= len) // unconsumed trailing input: invalid
  }

  private def translate(sb: java.lang.StringBuilder, o: CsvOptions): String = {
    var l = sb.length
    if (o.stripWhitespace)
      while (l > 0 && { val c = sb.charAt(l - 1); c == ' ' || c == '\t' }) l -= 1
    sb.setLength(l)
    val s = sb.toString
    if (o.nullValue != null && s == o.nullValue) "" else s
  }

  // ------------------------------------------------------------------- KV

  final case class KvOptions(
      valueSeparator: Char = '=',
      pairSeparator: String = ", ",
      extractStrayWords: Boolean = false)

  @inline private def isKeyChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '-'

  /** Scan every key=value pair; returns (pairs in scan order, stray words
    * comma-joined). Later duplicates of a key overwrite earlier ones when
    * collapsed to a map (the reference's last-wins value set).
    */
  def scanKv(input: String, o: KvOptions): (Seq[(String, String)], String) = {
    val pairs = ArrayBuffer.empty[(String, String)]
    val strays = new java.lang.StringBuilder
    val len = input.length
    var pos = 0

    def stray(from: Int, until: Int): Unit = if (o.extractStrayWords) {
      var a = from
      var b = until
      while (b > a && input.charAt(b - 1) == ' ') b -= 1
      while (b > a && input.charAt(a) == ' ') a += 1
      if (b > a) {
        if (strays.length > 0) strays.append(',')
        strays.append(input, a, b)
      }
    }

    // does a `key =` follow at i? (kv-scanner.c _key_follows)
    def keyFollows(i0: Int): Boolean = {
      var i = i0
      while (i < len && isKeyChar(input.charAt(i))) i += 1
      if (i == i0) return false
      while (i < len && input.charAt(i) == ' ') i += 1
      i < len && input.charAt(i) == o.valueSeparator
    }

    // kv-scanner.c _match_delimiter: returns new position or -1
    def matchDelimiter(i: Int, valueWasQuoted: Boolean): Int = {
      val c = if (i < len) input.charAt(i) else return -1
      if (c != ' ' && c != o.pairSeparator.charAt(0)) return -1
      if (!valueWasQuoted && c == ' ') {
        if (o.pairSeparator.charAt(0) == ' ' && input.startsWith(o.pairSeparator, i))
          return i + o.pairSeparator.length
        var j = i
        while (j < len && input.charAt(j) == ' ') j += 1
        if (j >= len || keyFollows(j)) j
        else if (input.startsWith(o.pairSeparator, j)) j + o.pairSeparator.length
        else -1
      } else if (c == ' ') i + 1
      else if (input.startsWith(o.pairSeparator, i)) i + o.pairSeparator.length
      else -1
    }

    var scanning = true
    while (scanning && pos < len) {
      // ---- key: walk back from the next value separator ----
      var sep = input.indexOf(o.valueSeparator, pos)
      var key: String = null
      while (key == null && sep >= 0) {
        var endOfKey = sep
        while (endOfKey > pos && input.charAt(endOfKey - 1) == ' ') endOfKey -= 1
        var startOfKey = endOfKey
        while (startOfKey > pos && isKeyChar(input.charAt(startOfKey - 1))) startOfKey -= 1
        if (endOfKey > startOfKey) {
          key = input.substring(startOfKey, endOfKey)
          stray(pos, startOfKey)
          pos = sep + 1
        } else sep = input.indexOf(o.valueSeparator, sep + 1)
      }
      if (key == null) { stray(pos, len); scanning = false }
      else {
        // ---- value: skip non-delimiter leading spaces, then decode ----
        while (pos < len && input.charAt(pos) == ' ' && matchDelimiter(pos, false) < 0) pos += 1
        val quoted = pos < len &&
          (input.charAt(pos) == '\'' || input.charAt(pos) == '"')
        val sb = new java.lang.StringBuilder
        // str-repr decode FSM (lib/str-repr/decode.c)
        var state = 0 // 0 initial, 1 quote-string, 2 backslash, 3 expect-delim, 4 error, 5 unquoted
        var qc: Char = 0
        var i = pos
        var finished = 0 // 0 running, 1 success, 2 failure
        while (finished == 0 && i < len) {
          val c = input.charAt(i)
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
          pairs += key -> sb.toString
          pos = i
        } else {
          // quotation error: raw consumed text is the value; position does
          // not advance past it (kv-scanner.c _decode_value failure path)
          pairs += key -> input.substring(pos, i)
        }
      }
    }
    (pairs.toSeq, strays.toString)
  }

  // --------------------------------------------------------- Spark stages

  /** csv-parser() with a full dialect: adds one string column per name
    * plus `<prefix>invalid` (drop-invalid signal; rows are kept + flagged,
    * never dropped — logmsg.h:105-124 semantics). One `Generate` operator
    * for batch and streaming frames (see [[ParseStage]]).
    */
  def csvStage(df: DataFrame, textCol: String, names: Seq[String],
      o: CsvOptions, prefix: String = "csv_",
      partialFill: Boolean = false): DataFrame =
    ParseStage(df, textCol, CsvParser(names, o, prefix, partialFill))

  final case class CsvParser(names: Seq[String], o: CsvOptions, prefix: String,
      partialFill: Boolean) extends RowParser[UTF8String] {
    def label: String = names.mkString("csv-parser[", ",", "]")
    def fields: Seq[StructField] =
      names.map(StructField(_, StringType, nullable = true)) :+
        StructField(s"${prefix}invalid", BooleanType, nullable = false)

    def parse(textU: UTF8String): InternalRow = {
      val nCols = names.length
      val (vals, ok) =
        if (textU == null) (null, false)
        else if (partialFill) scanCsvPartial(textU.toString, nCols, o)
        else { val v = scanCsv(textU.toString, nCols, o); (v, v != null) }
      val out = new GenericInternalRow(nCols + 1)
      if (vals != null) {
        var k = 0
        while (k < nCols) { out.update(k, ParseStage.utf8(vals(k))); k += 1 }
      }
      out.update(nCols, !ok)
      out
    }
  }

  /** kv-parser() with the full scanner: adds `<prefix>fields` (last-wins
    * map, first-seen key order) and `<prefix>stray` (comma-joined stray
    * words). One `Generate` operator for batch and streaming frames.
    */
  def kvStage(df: DataFrame, textCol: String, o: KvOptions,
      prefix: String = "kv_"): DataFrame =
    ParseStage(df, textCol, KvParser(o, prefix))

  final case class KvParser(o: KvOptions, prefix: String) extends RowParser[UTF8String] {
    def label: String = "kv-parser"
    def fields: Seq[StructField] = Seq(
      StructField(s"${prefix}fields",
        MapType(StringType, StringType, valueContainsNull = false), nullable = false),
      StructField(s"${prefix}stray", StringType, nullable = false))

    def parse(textU: UTF8String): InternalRow =
      if (textU == null) InternalRow(ParseStage.strMap(Nil, Nil), UTF8String.EMPTY_UTF8)
      else {
        val (pairs, stray) = scanKv(textU.toString, o)
        InternalRow(ParseStage.lastWins(pairs), UTF8String.fromString(stray))
      }
  }
}

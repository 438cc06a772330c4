package graft.parsers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One grok rule: an anchored regex with positionally-named captures.
  * Mirrors the reference's db-parser() pattern rules (radix-tree dispatch in
  * reference modules/correlation/radix.c:1550): semantics are ordered
  * first-match-wins alternation with typed captures; the radix tree is only
  * a dispatch optimization, which the JVM regex alternation replaces.
  */
final case class GrokRule(id: String, pattern: String, captures: Seq[String]) {
  def compile: CompiledGrokRule =
    CompiledGrokRule(id, java.util.regex.Pattern.compile(pattern), captures.toArray)
}

final case class CompiledGrokRule(
    id: String,
    pattern: java.util.regex.Pattern,
    captures: Array[String])

/** Zero-copy CharSequence over an ASCII UTF8String: the regex engine reads
  * the parquet bytes in place — no String materialization per row. One
  * instance is reused for a whole task.
  */
private final class AsciiSeq extends CharSequence {
  var s: UTF8String = _
  override def length(): Int = s.numBytes()
  override def charAt(i: Int): Char = (s.getByte(i) & 0xff).toChar
  override def subSequence(a: Int, b: Int): CharSequence = s.substring(a, b).toString
  override def toString: String = s.toString
}

/** The compiled parse stage (north star): precompiled `java.util.regex`
  * patterns applied to the UTF-8 text column, first-match-wins, named
  * captures emitted into a `fields` map column, matching rule id into
  * `rule_id`, and — exactly like the reference, which tags instead of
  * dropping (reference lib/logmsg/logmsg.h:105-124 LM_T_MSG_PARSE_ERROR) —
  * a `tags` array carrying `msg.parse_error` for unmatched rows.
  *
  * Patterns are compiled once per task (the analog of the reference's
  * config-time PCRE2 JIT compile, reference lib/logmatcher.c:291-345).
  * The stage is one `Generate` operator (see [[ParseStage]]) for batch and
  * streaming frames alike; the matcher runs directly over the UTF-8 bytes
  * via a reusable CharSequence view (ASCII fast path; non-ASCII rows fall
  * back to String decoding), and captures are UTF8String slices.
  */
object GrokStage {

  val FieldsType: MapType = MapType(StringType, StringType, valueContainsNull = false)
  val ParseErrorTag = "msg.parse_error"

  private val noTags = new GenericArrayData(Array.empty[Any])
  private val errTags = new GenericArrayData(Array[Any](UTF8String.fromString(ParseErrorTag)))
  private val emptyFields = new ArrayBasedMapData(noTags, noTags)

  final case class Parser(rules: Seq[GrokRule]) extends RowParser[UTF8String] {
    def label: String = rules.map(_.id).mkString("grok[", ",", "]")
    def fields: Seq[StructField] = Seq(
      StructField("fields", FieldsType, nullable = false),
      StructField("rule_id", StringType, nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false))

    @transient private lazy val compiled =
      rules.map(r => (r.compile, UTF8String.fromString(r.id))).toArray
    @transient private lazy val ascii = new AsciiSeq

    def parse(textU: UTF8String): InternalRow = {
      if (textU == null) return InternalRow(emptyFields, null, errTags)
      val isAscii = textU.numBytes() == textU.numChars()
      val cs: CharSequence = if (isAscii) { ascii.s = textU; ascii } else textU.toString
      var i = 0
      while (i < compiled.length) {
        val (r, rid) = compiled(i)
        val m = r.pattern.matcher(cs)
        if (m.matches()) {
          val n = r.captures.length
          val keys = new Array[Any](n)
          val values = new Array[Any](n)
          var g = 0
          var k = 0
          while (g < n) {
            val s = m.start(g + 1)
            if (s >= 0) {
              keys(k) = UTF8String.fromString(r.captures(g))
              values(k) =
                if (isAscii) textU.substring(s, m.end(g + 1))
                else UTF8String.fromString(m.group(g + 1))
              k += 1
            }
            g += 1
          }
          val ks = if (k == n) keys else keys.take(k)
          val vs = if (k == n) values else values.take(k)
          return InternalRow(
            new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs)), rid, noTags)
        }
        i += 1
      }
      InternalRow(emptyFields, null, errTags)
    }
  }

  def apply(df: DataFrame, textCol: String, rules: Seq[GrokRule]): DataFrame =
    ParseStage(df, textCol, Parser(rules))

  /** drop-invalid(yes) sugar (reference syslog-parser drop-invalid flag):
    * unmatched rows are DROPPED instead of tagged — the only row-dropping
    * parse mode; default stays tag-and-keep (logmsg.h:105-124).
    */
  def dropInvalid(parsed: DataFrame): DataFrame =
    parsed.filter(org.apache.spark.sql.functions.col("rule_id").isNotNull)

  /** The engine's standard ruleset for transcript `text` lines: BSD-syslog
    * (reference modules/syslogformat/syslog-format.c), kv lines
    * (reference modules/kvformat), flat JSON event lines (reference
    * modules/json), and a CSV turn record (reference modules/csvparser).
    * Ordered: first match wins.
    */
  val transcriptRules: Seq[GrokRule] = Seq(
    GrokRule(
      "syslog",
      """^<(\d{1,3})>([A-Z][a-z]{2}) ([ \d]\d) (\d\d):(\d\d):(\d\d) (\S+) ([^:\[\s]+)\[(\d+)\]: action=(\w+) status=(\w+)$""",
      Seq("pri", "mon", "dd", "hh", "mi", "ss", "host", "prog", "pid", "action", "status")),
    GrokRule(
      "kv",
      """^event=(\S+) tool=(\S+) duration_ms=(\d+) ok=(\S+)$""",
      Seq("event", "tool", "duration_ms", "ok")),
    GrokRule(
      "json",
      """^\{"event":"([^"]*)","role":"([^"]*)","tokens":(\d+),"status":"([^"]*)"\}$""",
      Seq("event", "role", "tokens", "status")),
    GrokRule(
      "csv",
      """^(conv-\d+),(\d+),([a-z]+),(\d+)$""",
      Seq("c_conv", "c_turn", "c_role", "latency_ms")))
}

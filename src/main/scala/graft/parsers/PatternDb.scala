package graft.parsers

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** patterndb — the reference's typed pattern language (db-parser()).
  *
  * A pattern is literal text interleaved with typed parser atoms
  * `@PARSER:name:param@` (`@@` is a literal `@`). Rule sets compile into a
  * radix trie of literal prefixes with parser children; matching prefers a
  * literal edge over parsers, tries parsers in insertion order, backtracks,
  * and prefers a complete match over a rule that consumes only a prefix of
  * the message (two-pass, reference modules/correlation/radix.c:1535-1548).
  *
  * Parser atom semantics are transliterated from the reference's leaf
  * matchers (radix.c:30-650) and the atom table of r_new_pnode
  * (radix.c:659-860): ESTRING/QSTRING/STRING/NLSTRING/ANYSTRING,
  * NUMBER/FLOAT (typed int64/double captures), IPv4/IPv6/IPvANY,
  * MACADDR/LLADDR, SET/OPTIONALSET, EMAIL/HOSTNAME, PCRE. The only
  * declared divergence: @PCRE@ compiles with java.util.regex, not PCRE2.
  *
  * At scale this is a scan-stage operator: the trie is built once per
  * partition (dispatch is O(message length), independent of rule count —
  * the property the reference's radix tree exists for) and rows never
  * shuffle. Unmatched rows are tagged, never dropped (logmsg.h:105-124).
  */
object PatternDb {

  // ---------------------------------------------------------------- rules

  /** One pattern rule (reference modules/correlation/patterndb.c:259-402
    * PdbRule): stable id, class (routed into the output), one or more
    * pattern strings, optional tags set on match.
    */
  final case class PdbRule(
      id: String,
      patterns: Seq[String],
      ruleClass: String = "system",
      tags: Seq[String] = Nil,
      /** action `rate="N/quantum"` token bucket (reference pdb-action.c:52-74
        * pdb_action_set_rate; gate = Correlation.actionRateLimit). None =
        * unlimited (action->rate == 0, patterndb.c:185-186). */
      actionRate: Option[(Int, Int)] = None)

  /** Parse the action rate attribute: "N" or "N/quantum" (reference
    * pdb-action.c:52-74; quantum 0 coerces to 1). */
  def parseActionRate(s: String): Option[(Int, Int)] =
    s.split("/", 2) match {
      case _ if s.isEmpty     => None
      case Array(n)           => Some((n.trim.toInt, 1))
      case Array(n, q)        =>
        Some((n.trim.toInt, math.max(1, q.trim.toInt)))
    }

  sealed trait Tok
  final case class Lit(s: String) extends Tok
  /** A parser atom: type, capture name ("" = match-only), param ("" = none). */
  final case class Prs(ptype: String, name: String, param: String) extends Tok

  /** Spark type a parser atom promotes to (radix.c value_type assignments). */
  def atomType(ptype: String): DataType = ptype match {
    case "NUMBER"           => LongType
    case "FLOAT" | "DOUBLE" => DoubleType
    case _                  => StringType
  }

  /** `@…@` tokenizer (the escape/atom scan of r_insert_node,
    * radix.c:1018-1115). Throws on an unterminated atom.
    */
  def tokenize(pattern: String): List[Tok] = {
    val toks = List.newBuilder[Tok]
    val lit = new StringBuilder
    var i = 0
    val n = pattern.length
    while (i < n) {
      val c = pattern.charAt(i)
      if (c != '@') { lit += c; i += 1 }
      else if (i + 1 < n && pattern.charAt(i + 1) == '@') { lit += '@'; i += 2 }
      else {
        val close = pattern.indexOf('@', i + 1)
        require(close > i, s"pattern contains '@' without escaping: $pattern")
        if (lit.nonEmpty) { toks += Lit(lit.result()); lit.clear() }
        val spec = pattern.substring(i + 1, close)
        val parts = spec.split(":", 3)
        toks += Prs(parts(0),
          if (parts.length > 1) parts(1) else "",
          if (parts.length > 2) parts(2) else "")
        i = close + 1
      }
    }
    if (lit.nonEmpty) toks += Lit(lit.result())
    toks.result()
  }

  /** Capture names and promoted types across a rule set; a name captured
    * with conflicting types in different rules stays a string.
    */
  def typedFields(rules: Seq[PdbRule]): Seq[(String, DataType)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    for (r <- rules; p <- r.patterns; t <- tokenize(p)) t match {
      case Prs(pt, name, _) if name.nonEmpty =>
        val dt = atomType(pt)
        seen.get(name) match {
          case None            => seen(name) = dt
          case Some(`dt`)      => ()
          case Some(_)         => seen(name) = StringType
        }
      case _ => ()
    }
    seen.toSeq
  }

  /** The engine's transcript ruleset in the pattern language — the typed
    * analog of GrokStage.transcriptRules (same four line shapes, but with
    * declared capture types instead of post-hoc casts).
    */
  val transcriptRules: Seq[PdbRule] = Seq(
    PdbRule("pdb-syslog", Seq(
      "<@NUMBER:pri@>@STRING:mon@ @PCRE:dd: ?\\d+@ @NUMBER:hh@:@NUMBER:mi@:@NUMBER:ss@" +
        " host-@NUMBER:hostnum@ prog-@NUMBER:prognum@[@NUMBER:pid@]:" +
        " action=@STRING:action@ status=@ANYSTRING:status@"), "syslog"),
    PdbRule("pdb-kv", Seq(
      "event=@ESTRING:event: @tool=@ESTRING:tool_field: @" +
        "duration_ms=@NUMBER:duration_ms@ ok=@ANYSTRING:ok@"), "kv"),
    PdbRule("pdb-json", Seq(
      "{\"event\":@QSTRING:event:\"@,\"role\":@QSTRING:role_j:\"@," +
        "\"tokens\":@NUMBER:tokens@,\"status\":@QSTRING:status:\"@}"), "json"),
    PdbRule("pdb-csv", Seq(
      "conv-@NUMBER:cnum@,@NUMBER:cturn@,@STRING:crole@,@NUMBER:clat@"), "csv"))

  /** app-parser() (reference modules/app-parser, scl application
    * auto-detection): try every application's ruleset, first match wins —
    * which is exactly one merged radix dispatch, since the trie's
    * first-match order subsumes per-app iteration. Rules get their app
    * name as ruleClass, so `pdb_class` IS the detected application
    * ($(.app.name) analog); unmatched rows keep the parse-error tag.
    */
  def appParser(df: DataFrame, textCol: String,
      appRules: Map[String, Seq[PdbRule]]): DataFrame = {
    val merged = appRules.toSeq.sortBy(_._1).flatMap { case (app, rules) =>
      rules.map(r => r.copy(ruleClass = app))
    }
    annotate(df, textCol, merged)
  }

  // ------------------------------------------------------- XML rule files

  /** Minimal patterndb XML loader (the v3-v6 schema subset the matcher
    * supports: ruleset/rules/rule/patterns/pattern + tags; reference
    * doc/xsd/patterndb-4.xsd, loader modules/correlation/patterndb.c).
    */
  def loadXml(xml: String): Seq[PdbRule] = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    val ruleNodes = doc.getElementsByTagName("rule")
    (0 until ruleNodes.getLength).map { i =>
      val e = ruleNodes.item(i).asInstanceOf[org.w3c.dom.Element]
      def texts(tag: String): Seq[String] = {
        val ns = e.getElementsByTagName(tag)
        (0 until ns.getLength).map(j => ns.item(j).getTextContent)
      }
      val actions = e.getElementsByTagName("action")
      val rate =
        if (actions.getLength == 0) None
        else parseActionRate(actions.item(0).asInstanceOf[org.w3c.dom.Element]
          .getAttribute("rate"))
      PdbRule(
        id = e.getAttribute("id"),
        patterns = texts("pattern"),
        ruleClass = Option(e.getAttribute("class")).filter(_.nonEmpty).getOrElse("system"),
        tags = texts("tag"),
        actionRate = rate)
    }
  }

  // ------------------------------------------------------------ the trie

  private[parsers] final class PNode(
      val ptype: String, val name: String, val param: String) {
    // initial-character dispatch gate (radix.c parser_node->first/last)
    // config-time validation (the reference rejects these at rule load,
    // radix.c r_new_pnode msg_error branches)
    ptype match {
      case "QSTRING" => require(param.nonEmpty, "@QSTRING@ needs a quote-character param")
      case "ESTRING" => require(param.nonEmpty, "@ESTRING@ needs a delimiter param")
      case "SET"     => require(param.nonEmpty, "@SET@ needs a character-set param")
      case "PCRE"    => require(param.nonEmpty, "@PCRE@ needs a regex param")
      case "LLADDR"  => require(param.isEmpty || param.forall(_.isDigit),
        "@LLADDR@ param must be a part count")
      case _ => ()
    }
    val (first: Char, last: Char) = ptype match {
      case "IPv4"             => ('0', '9')
      case "NUMBER" | "FLOAT" | "DOUBLE" => ('-', '9')
      case "QSTRING"          => (param.charAt(0), param.charAt(0))
      case _                  => (Char.MinValue, Char.MaxValue)
    }
    val pcre: java.util.regex.Pattern =
      if (ptype == "PCRE") java.util.regex.Pattern.compile(param) else null
    def sameAs(o: Prs): Boolean = ptype == o.ptype && name == o.name && param == o.param
  }

  private[parsers] final class RxNode(var key: String) {
    val children = new ArrayBuffer[RxNode](2)   // literal edges
    val pchildren = new ArrayBuffer[RxNode](2)  // parser edges, insertion order
    var parser: PNode = null
    var rule: PdbRule = null
  }

  /** One capture: name, value slice, atom type. */
  final case class Cap(name: String, value: String, ptype: String)

  /** Compiled, partition-local matcher. Build once per partition. */
  final class Matcher(rules: Seq[PdbRule]) {
    private val root = new RxNode("")
    rules.foreach(r => r.patterns.foreach(p => insert(root, tokenize(p), r)))

    private def insert(node: RxNode, toks: List[Tok], rule: PdbRule): Unit = toks match {
      case Nil =>
        if (node.rule == null) node.rule = rule // duplicate keys: first wins
      case Lit(s) :: rest =>
        node.children.find(_.key.charAt(0) == s.charAt(0)) match {
          case None =>
            val child = new RxNode(s)
            node.children += child
            insert(child, rest, rule)
          case Some(child) =>
            var i = 0
            val m = math.min(child.key.length, s.length)
            while (i < m && child.key.charAt(i) == s.charAt(i)) i += 1
            if (i < child.key.length) {
              // split the edge at the common prefix (radix.c:1150-1240)
              val tail = new RxNode(child.key.substring(i))
              tail.children ++= child.children
              tail.pchildren ++= child.pchildren
              tail.rule = child.rule
              child.children.clear(); child.pchildren.clear(); child.rule = null
              child.children += tail
              child.key = child.key.substring(0, i)
            }
            val remaining = if (i < s.length) Lit(s.substring(i)) :: rest else rest
            insert(child, remaining, rule)
        }
      case (p: Prs) :: rest =>
        val child = node.pchildren.find(_.parser.sameAs(p)).getOrElse {
          val c = new RxNode("")
          c.parser = new PNode(p.ptype, p.name, p.param)
          node.pchildren += c
          c
        }
        insert(child, rest, rule)
    }

    private var requireComplete = true
    private var partialFound = false

    /** Match `s`; on success returns the rule and fills `caps` in
      * left-to-right atom order. Two-pass complete/partial preference
      * (radix.c _find_node_with_state).
      */
    def find(s: String, caps: ArrayBuffer[Cap]): PdbRule = {
      requireComplete = true
      partialFound = false
      var r = findRec(root, s, 0, caps)
      if (r == null && partialFound) {
        requireComplete = false
        caps.clear()
        r = findRec(root, s, 0, caps)
      }
      if (r == null) caps.clear()
      if (r == null) null else r.rule
    }

    private def findRec(node: RxNode, s: String, pos: Int, caps: ArrayBuffer[Cap]): RxNode = {
      val n = s.length
      val klen = node.key.length
      var i = 0
      while (i < klen && pos + i < n && s.charAt(pos + i) == node.key.charAt(i)) i += 1
      if (i < klen && pos + i < n) return null // literal mismatch mid-edge
      if (pos + i >= n) {
        // input consumed: a match only if the edge is consumed too
        return if (i == klen && node.rule != null) node else null
      }
      // input remains, edge fully matched — literal child first
      var rem = pos + i
      // CRLF tolerance before a literal newline edge (radix.c:1307-1311)
      val remLit =
        if (rem + 1 < n && s.charAt(rem) == '\r' && s.charAt(rem + 1) == '\n') rem + 1 else rem
      val litChild = node.children.find(_.key.charAt(0) == s.charAt(remLit)).orNull
      var ret: RxNode =
        if (litChild != null) findRec(litChild, s, remLit, caps) else null
      // then parsers in insertion order, with capture backtracking
      var pi = 0
      while (ret == null && pi < node.pchildren.length) {
        val pc = node.pchildren(pi)
        val pn = pc.parser
        val c0 = s.charAt(rem)
        if (pn.first <= c0 && c0 <= pn.last) {
          val pm = RParse.run(pn, s, rem)
          if (pm != null) {
            val slot = caps.length
            if (pn.name.nonEmpty)
              caps += Cap(pn.name,
                s.substring(rem + pm.ofs, rem + pm.ofs + pm.consumed + pm.lenDelta),
                pn.ptype)
            ret = findRec(pc, s, rem + pm.consumed, caps)
            if (ret == null) caps.dropRightInPlace(caps.length - slot)
          }
        }
        pi += 1
      }
      if (ret == null && node.rule != null) {
        // the pattern is a strict prefix of the message
        if (!requireComplete) return node
        partialFound = true
      }
      ret
    }
  }

  // ------------------------------------------------- typed leaf matchers

  /** Result of one parser atom: consumed input length, plus the capture
    * offset/length adjustment the reference's _fixup_match_offsets applies
    * (capture = [from+ofs, from+ofs+consumed+lenDelta)).
    */
  private[parsers] final class PMatch(val consumed: Int, val ofs: Int, val lenDelta: Int)

  private[parsers] object RParse {
    private def hit(consumed: Int, ofs: Int = 0, lenDelta: Int = 0) =
      new PMatch(consumed, ofs, lenDelta)

    @inline private def ch(s: String, i: Int): Char =
      if (i < s.length) s.charAt(i) else '\u0000'
    @inline private def isDigit(c: Char) = c >= '0' && c <= '9'
    @inline private def isXDigit(c: Char) =
      isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    @inline private def isAlnum(c: Char) =
      isDigit(c) || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

    def run(p: PNode, s: String, from: Int): PMatch = p.ptype match {
      case "STRING"      => string(s, from, p.param)
      case "ESTRING"     => estring(s, from, p.param)
      case "NLSTRING"    => nlstring(s, from)
      case "QSTRING"     => qstring(s, from, p.param)
      case "ANYSTRING"   => hit(s.length - from)
      case "NUMBER"      => number(s, from)
      case "FLOAT" | "DOUBLE" => float(s, from)
      case "SET"         => set(s, from, p.param, optional = false)
      case "OPTIONALSET" => set(s, from, p.param, optional = true)
      case "IPv4"        => ipv4(s, from)
      case "IPv6"        => ipv6(s, from)
      case "IPvANY"      => { val v = ipv4(s, from); if (v != null) v else ipv6(s, from) }
      case "MACADDR"     => lladdr(s, from, 6)
      case "LLADDR"      => lladdr(s, from, if (p.param.nonEmpty) p.param.toInt else 20)
      case "EMAIL"       => email(s, from, p.param)
      case "HOSTNAME"    => hostname(s, from)
      case "PCRE"        => pcre(p, s, from)
      case other         => throw new IllegalArgumentException(s"unknown parser type @$other@")
    }

    // radix.c:38 r_parser_string
    private def string(s: String, from: Int, param: String): PMatch = {
      var i = from
      while (i < s.length &&
             (isAlnum(s.charAt(i)) || (param.nonEmpty && param.indexOf(s.charAt(i)) >= 0))) i += 1
      if (i > from) hit(i - from) else null
    }

    // radix.c:129/168 r_parser_estring_c / r_parser_estring: the delimiter
    // is consumed; the capture excludes it
    private def estring(s: String, from: Int, delim: String): PMatch = {
      if (delim.isEmpty) return null
      val idx = s.indexOf(delim, from)
      if (idx < 0) null else hit(idx - from + delim.length, 0, -delim.length)
    }

    // radix.c:148 r_parser_nlstring: up to (not including) LF, CR dropped;
    // no newline → rest of message
    private def nlstring(s: String, from: Int): PMatch = {
      var end = s.indexOf('\n', from)
      if (end < 0) end = s.length
      else if (end > from && s.charAt(end - 1) == '\r') end -= 1
      hit(end - from)
    }

    // radix.c:51-126: single-delimiter scan or nesting-aware open/close
    private def qstring(s: String, from: Int, param: String): PMatch = {
      val start = param.charAt(0)
      val stop = if (param.length > 1) param.charAt(1) else start
      if (start == stop) {
        val idx = s.indexOf(stop, from + 1)
        if (idx < 0) null else hit(idx - from + 1, 1, -2)
      } else {
        var i = from
        var nesting = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == stop) {
            nesting -= 1
            if (nesting < 0) return null
            if (nesting == 0) return hit(i - from + 1, 1, -2)
          } else if (c == start) nesting += 1
          i += 1
        }
        null
      }
    }

    // radix.c:611 r_parser_number: decimal with optional '-', or 0x hex
    private def number(s: String, from: Int): PMatch = {
      var i = from
      var minLen = 1
      if (ch(s, i) == '0' && (ch(s, i + 1) == 'x' || ch(s, i + 1) == 'X')) {
        i += 2; minLen += 2
        while (isXDigit(ch(s, i))) i += 1
      } else {
        if (ch(s, i) == '-') { i += 1; minLen += 1 }
        while (isDigit(ch(s, i))) i += 1
      }
      if (i - from >= minLen) hit(i - from) else null
    }

    // radix.c:578 r_parser_float: [-]digits[.digits][(e|E)[-]digits]
    private def float(s: String, from: Int): PMatch = {
      var i = from
      if (ch(s, i) == '-') i += 1
      while (isDigit(ch(s, i))) i += 1
      if (ch(s, i) == '.') { i += 1; while (isDigit(ch(s, i))) i += 1 }
      if (i > from && (ch(s, i) == 'e' || ch(s, i) == 'E')) {
        i += 1
        if (ch(s, i) == '-') i += 1
        while (isDigit(ch(s, i))) i += 1
      }
      if (i > from) hit(i - from) else null
    }

    // radix.c:283/300: longest run of chars from the set; OPTIONALSET
    // accepts the empty run
    private def set(s: String, from: Int, param: String, optional: Boolean): PMatch = {
      if (param.isEmpty) return if (optional) hit(0) else null
      var i = from
      while (i < s.length && param.indexOf(s.charAt(i)) >= 0) i += 1
      if (i > from || optional) hit(i - from) else null
    }

    // radix.c:455 r_parser_ipv4
    private def ipv4(s: String, from: Int): PMatch = {
      var i = from
      var dots = 0
      var octet = -1
      var done = false
      while (!done) {
        val c = ch(s, i)
        if (c == '.') {
          if (octet > 255 || octet == -1) return null
          if (dots == 3) done = true
          else { dots += 1; octet = -1; i += 1 }
        } else if (isDigit(c)) {
          octet = (if (octet == -1) 0 else octet * 10) + (c - '0')
          i += 1
        } else done = true
      }
      if (dots != 3 || octet > 255 || octet == -1) null else hit(i - from)
    }

    // radix.c:495 r_parser_ipv6 (incl. trailing ':'/'.' give-back)
    private def ipv6(s: String, from: Int): PMatch = {
      var i = from
      var colons = 0
      var dots = 0
      var octet = 0
      var digit = 16
      var shortened = false
      var done = false
      while (!done) {
        val c = ch(s, i)
        if (c == ':') {
          if (octet > 0xffff || (octet == -1 && shortened)) return null
          if (colons == 7 || dots == 3) done = true
          else if (digit == 10) return null
          else {
            if (octet == -1) shortened = true
            colons += 1; octet = -1; i += 1
          }
        } else if (isXDigit(c)) {
          octet = (if (octet == -1) 0 else octet * digit) +
            (if (isDigit(c)) c - '0' else (c | 0x20) - 'a' + 10)
          i += 1
        } else if (c == '.') {
          if (digit == 10 && octet > 255) return null
          if ((digit == 16 && octet > 597) || octet == -1 || colons == 7 || dots == 3) done = true
          else { dots += 1; octet = -1; digit = 10; i += 1 }
        } else done = true
      }
      if (i > from && s.charAt(i - 1) == '.') { i -= 1; dots -= 1 }
      else if (i - from > 1 && s.charAt(i - 1) == ':' && s.charAt(i - 2) != ':') { i -= 1; colons -= 1 }
      if (colons < 2 || colons > 7 ||
          (digit == 10 && octet > 255) || (digit == 16 && octet > 0xffff) ||
          !(dots == 0 || dots == 3) || (!shortened && colons < 7 && dots == 0)) null
      else hit(i - from)
    }

    // radix.c:389-452 _r_parser_lladdr (MACADDR = 6 parts)
    private def lladdr(s: String, from: Int, parts: Int): PMatch = {
      val count = parts * 3 - 1
      var i = from
      var part = 1
      var done = false
      while (!done && part <= parts) {
        if (!isXDigit(ch(s, i)) || !isXDigit(ch(s, i + 1))) {
          if (part > 1) { i -= 1; done = true } else return null
        } else if (part == parts) { i += 2; done = true }
        else if (ch(s, i + 2) != ':') { i += 2; done = true }
        else { i += 3; part += 1 }
      }
      if (i - from > count) null else hit(i - from)
    }

    // radix.c:306 r_parser_email: optional bracket chars from param are
    // consumed but excluded from the capture
    private def email(s: String, from: Int, param: String): PMatch = {
      val special = "!#$%&'*+-/=?^_`{|}~."
      var i = from
      if (param.nonEmpty) while (i < s.length && param.indexOf(s.charAt(i)) >= 0) i += 1
      val ofs = i - from
      if (ch(s, i) == '.') return null // local part cannot start with '.'
      while (isAlnum(ch(s, i)) || (ch(s, i) != '\u0000' && special.indexOf(ch(s, i)) >= 0)) i += 1
      if (i > from && s.charAt(i - 1) == '.') return null
      if (ch(s, i) != '@') return null
      i += 1
      var count = 0
      while (isAlnum(ch(s, i)) || ch(s, i) == '-') {
        i += 1; count += 1
        while (isAlnum(ch(s, i)) || ch(s, i) == '-') i += 1
        if (ch(s, i) == '.') i += 1
      }
      if (count < 2) return null
      val end = i
      if (param.nonEmpty) while (i < s.length && param.indexOf(s.charAt(i)) >= 0) i += 1
      if (i - from > 0) hit(i - from, ofs, (end - from) - (i - from) - ofs) else null
    }

    // radix.c:365 r_parser_hostname: ≥2 dot-separated alnum/'-' labels
    private def hostname(s: String, from: Int): PMatch = {
      var i = from
      var count = 0
      while (isAlnum(ch(s, i)) || ch(s, i) == '-') {
        i += 1; count += 1
        while (isAlnum(ch(s, i)) || ch(s, i) == '-') i += 1
        if (ch(s, i) == '.') i += 1
      }
      if (count < 2) null else hit(i - from)
    }

    // radix.c:186-273 r_parser_pcre (PCRE2_ANCHORED): anchored at the
    // current offset, capture = whole match
    private def pcre(p: PNode, s: String, from: Int): PMatch = {
      val m = p.pcre.matcher(s)
      m.region(from, s.length)
      if (m.lookingAt()) hit(m.end - from) else null
    }
  }

  // --------------------------------------------------------- Spark stage

  val ParseErrorTag = "msg.parse_error"
  private val FieldsType = MapType(StringType, StringType, valueContainsNull = false)
  private val noAny = new GenericArrayData(Array.empty[Any])
  private val errTags = new GenericArrayData(Array[Any](UTF8String.fromString(ParseErrorTag)))
  private val emptyFields = new ArrayBasedMapData(noAny, noAny)

  final case class Parser(rules: Seq[PdbRule]) extends RowParser[UTF8String] {
    def label: String = rules.map(_.id).mkString("patterndb[", ",", "]")
    def fields: Seq[StructField] = Seq(
      StructField("pdb_fields", FieldsType, nullable = false),
      StructField("pdb_rule", StringType, nullable = true),
      StructField("pdb_class", StringType, nullable = true),
      StructField("pdb_tags", ArrayType(StringType, containsNull = false), nullable = false))

    @transient private lazy val matcher = new Matcher(rules)
    @transient private lazy val caps = new ArrayBuffer[Cap](8)
    @transient private lazy val tagCache = new java.util.HashMap[String, GenericArrayData]()

    def parse(text: UTF8String): InternalRow = {
      caps.clear()
      val rule = if (text != null) matcher.find(text.toString, caps) else null
      if (rule == null) InternalRow(emptyFields, null, null, errTags)
      else {
        val tags =
          if (rule.tags.isEmpty) noAny
          else tagCache.computeIfAbsent(rule.id, _ => ParseStage.strArray(rule.tags))
        InternalRow(ParseStage.strMap(caps.map(_.name), caps.map(_.value)),
          UTF8String.fromString(rule.id), UTF8String.fromString(rule.ruleClass), tags)
      }
    }
  }

  /** Annotate `df` with the first-matching rule's captures, one
    * `Generate` operator for batch and streaming frames (see
    * [[ParseStage]]); the trie is built once per task.
    */
  def annotate(df: DataFrame, textCol: String, rules: Seq[PdbRule]): DataFrame =
    ParseStage(df, textCol, Parser(rules))

  /** Promote every named capture to a typed top-level column (NUMBER →
    * bigint incl. 0x-hex, FLOAT → double), the analog of the reference's
    * typed LogMessage values (radix.c value_type → LM_VT_*).
    */
  def promote(df: DataFrame, rules: Seq[PdbRule]): DataFrame = {
    val cols = typedFields(rules).map { case (name, dt) =>
      val raw = try_element_at(col("pdb_fields"), lit(name))
      // try_cast: FLOAT/NUMBER atoms can capture strings ANSI cast rejects
      // ('12e' with no exponent digits, '-', > Long.MaxValue digits)
      val typed = dt match {
        case LongType =>
          when(raw.rlike("^0[xX]"), conv(regexp_replace(raw, "^0[xX]", ""), 16, 10).try_cast(LongType))
            .otherwise(raw.try_cast(LongType))
        case DoubleType => raw.try_cast(DoubleType)
        case _          => raw
      }
      typed.as(name)
    }
    df.select(col("*") +: cols: _*)
  }
}

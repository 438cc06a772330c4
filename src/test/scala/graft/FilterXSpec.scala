package graft

import org.apache.spark.sql.functions._

import graft.filterx.FilterX

/** FilterX language semantics, ported from the reference's criterion
  * suites: comparison cases from lib/filterx/tests/test_expr_comparison.c,
  * conditional/drop semantics from test_expr_condition.c and
  * filterx-eval.c:189, regexp from test_expr_regexp.c, typecasts/len/istype
  * from test_builtin_functions.c and func-istype.c.
  */
class FilterXSpec extends SparkSpec {
  import spark.implicits._

  /** One-row frame with a typed column per filterx base type. */
  private lazy val one = Seq((7L, 3.14, "alma", true, "")).toDF("i", "d", "s", "b", "empty")

  /** Evaluate a single filterx expression as a boolean against `one`. */
  private def holds(expr: String): Boolean = {
    val out = FilterX(one, s"$$result = $expr ? 1 : 0;")
    out.select("result").as[Long].head() == 1L
  }

  /** true iff the row survives `program` as a filter. */
  private def passes(program: String): Boolean =
    FilterX(one, program).count() == 1L

  // ---- type-aware comparisons (test_expr_comparison.c:57-134; int lhs
  // dispatches to _evaluate_as_num like the NUM_BASED cases there)

  test("type-aware int vs int / int vs double") {
    assert(holds("$i == 7"))
    assert(!holds("$i == 6"))
    assert(holds("$i != 6"))
    assert(holds("$i > 3.5"))
    assert(!holds("$i < 3.5"))
    assert(holds("7 == 7.0"))
    assert(!holds("7 === 7.0")) // type-and-value: int vs double differs
    assert(holds("7 === 7"))
    assert(holds("7 !== 7.0"))
  }

  test("type-aware int vs string parses the string; unparseable is NaN") {
    assert(holds("3 == '3'"))          // :99
    assert(!holds("7 == '6'"))         // :101
    assert(!holds("7 == '7.1'"))       // :102
    assert(!holds("7 == 'invalid'"))   // :103  NaN → only != is true
    assert(holds("7 != 'invalid'"))    // :124
    assert(!holds("7 > 'invalid'"))    // :110
    assert(!holds("7 < 'invalid'"))
    assert(holds("8 > '7.1'"))         // :109
    assert(holds("7 < '7.1'"))         // :116
  }

  test("type-aware null operand: ==/!= compare types, </> treat null as 0 (:131-134)") {
    assert(!holds("7 == null"))
    assert(holds("7 != null"))
    assert(holds("7 > null"))
    assert(!holds("7 < null"))
    assert(holds("null == null"))
  }

  test("type-aware string lhs compares textually (expr-comparison.c:143)") {
    assert(holds("$s == 'alma'"))
    assert(!holds("$s == 'korte'"))
    assert(holds("$s < 'korte'"))
    assert(holds("'7' == 7")) // string lhs: rhs marshals to "7"
    assert(!holds("'7.0' == 7")) // textual, not numeric
  }

  test("string-based operators eq/ne/lt/le/ge/gt") {
    assert(holds("$s eq 'alma'"))
    assert(holds("$s ne 'korte'"))
    assert(holds("$s lt 'korte'"))
    assert(holds("$s le 'alma'"))
    assert(holds("$s ge 'alma'"))
    assert(holds("$i eq '7'")) // int marshals to its text
  }

  // ---- truthiness (object-string.c:81, object-primitive.c:41)

  test("truthiness: empty string / 0 / 0.0 / false / null are falsy") {
    assert(!passes("$empty;"))
    assert(!passes("0;"))
    assert(!passes("0.0;"))
    assert(!passes("false;"))
    assert(!passes("null;"))
    assert(passes("$s;"))
    assert(passes("$i;"))
    assert(passes("-1;"))
    assert(passes("true;"))
  }

  test("boolean algebra and not") {
    assert(passes("$b and $i == 7;"))
    assert(!passes("$b and $i == 6;"))
    assert(passes("$b or $i == 6;"))
    assert(passes("not ($i == 6);"))
  }

  // ---- statements, assignment, drop semantics (filterx-eval.c:159)

  test("assignment results are ignored for matching; predicates drop") {
    // a falsy assignment must NOT drop (expr-assign.c:54)
    assert(passes("$x = 0;"))
    assert(passes("$x = false; $i == 7;"))
    assert(!passes("$x = true; $i == 6;"))
  }

  test("sequential visibility: later statements see earlier writes") {
    val out = FilterX(one, "$x = 5; $y = $x == 5 ? 'yes' : 'no'; $x = 6;")
    val r = out.select("x", "y").as[(Long, String)].head()
    assert(r == ((6L, "yes")))
  }

  test("unmatched rows keep their original values (filterx-eval.c:202)") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val c = FilterX.compile(df, "$v = 99; $k == 'a';")
    // apply the updates WITHOUT the filter: row b failed the block, so its
    // write must not commit
    val updated = df.withColumn("v", c.updates.toMap.apply("v"))
    val got = updated.orderBy("k").select("v").as[Long].collect().toSeq
    assert(got == Seq(99L, 2L))
  }

  // ---- conditionals (expr-condition.c:38-75)

  test("if/elif/else guards assignments; unmatched conditional is true") {
    val df = Seq(("user", 1L), ("tool", 2L), ("system", 3L)).toDF("role", "v")
    val out = FilterX(df,
      """if ($role == 'user') { $tag = 'U'; }
        |elif ($role == 'tool') { $tag = 'T'; }
        |else { $tag = 'X'; };""".stripMargin)
    val got = out.orderBy("v").select("tag").as[String].collect().toSeq
    assert(got == Seq("U", "T", "X"))
  }

  test("a falsy predicate inside a TAKEN branch drops only branch rows") {
    val df = Seq(("user", 1L), ("tool", 2L)).toDF("role", "v")
    val out = FilterX(df, "if ($role == 'user') { $v == 99; };")
    // user row took the branch and failed; tool row never entered it
    assert(out.select("role").as[String].collect().toSeq == Seq("tool"))
  }

  test("ternary and elvis") {
    assert(FilterX(one, "$r = $i > 5 ? 'big' : 'small';")
      .select("r").as[String].head() == "big")
    assert(FilterX(one, "$r = $empty ?: 'fallback';")
      .select("r").as[String].head() == "fallback")
    assert(FilterX(one, "$r = $s ?: 'fallback';")
      .select("r").as[String].head() == "alma")
  }

  // ---- regexp (expr-regexp.c: pcre2_match is a SEARCH, not anchored)

  test("=~ is an unanchored search on strings") {
    assert(holds("$s =~ 'lm'"))
    assert(holds("$s =~ '^al'"))
    assert(!holds("$s =~ '^lm'"))
    assert(holds("$s =~ 'a.ma'"))
  }

  // ---- dict/list generators, attribute access, json

  test("dict generator marshals to JSON on message-var store; getattr reads back") {
    val out = FilterX(one,
      "$meta = {'kind': 'x', 'n': $i, 'ok': true}; $n2 = $meta.n; $k = $meta.kind;")
    val r = out.select("meta", "n2", "k").as[(String, Long, String)].head()
    assert(r._1 == """{"kind":"x","n":7,"ok":true}""")
    assert(r._2 == 7L)
    assert(r._3 == "x")
  }

  test("setattr / subscript-set / append mutate the block-local tree") {
    val out = FilterX(one,
      """$m = {'a': 1};
        |$m.b = 'two';
        |$m['c'] = false;
        |$xs = [1, 2];
        |$xs[] = $i;
        |$xs[0] = 9;""".stripMargin)
    val r = out.select("m", "xs").as[(String, String)].head()
    assert(r._1 == """{"a":1,"b":"two","c":false}""")
    assert(r._2 == "9,2,7") // LIST marshal, not JSON
  }

  test("json() parses text; getattr/subscript navigate dynamically") {
    val df = Seq(("""{"user":{"name":"bob","uid":42},"tags":["a","b"]}""", 1L))
      .toDF("raw", "v")
    val out = FilterX(df,
      """$j = json($raw);
        |$name = string($j.user.name);
        |$uid = int($j.user.uid);
        |$t0 = string($j.tags[0]);
        |$uid > 40;""".stripMargin)
    val r = out.select("name", "uid", "t0").as[(String, Long, String)].head()
    assert(r == (("bob", 42L, "a")))
  }

  test("json scalar compares numerically against numbers (dynamic typing)") {
    val df = Seq(("""{"n": 42}""", 1L)).toDF("raw", "v")
    assert(FilterX(df, "json($raw).n == 42;").count() == 1L)
    assert(FilterX(df, "json($raw).n > 41.5;").count() == 1L)
    assert(FilterX(df, "json($raw).n == '42';").count() == 1L) // textual vs string
  }

  // ---- functions

  test("typecasts: string/int/double/bool (filterx-globals.c:73-83)") {
    val out = FilterX(one,
      """$si = string($i);
        |$ii = int('42');
        |$it = int('7.9');
        |$dd = double('2.5');
        |$bi = bool($i) ? 1 : 0;
        |$b0 = bool($empty) ? 1 : 0;""".stripMargin)
    val r = out.select("si", "ii", "it", "dd", "bi", "b0")
      .as[(String, Long, Long, Double, Long, Long)].head()
    assert(r == (("7", 42L, 7L, 2.5, 1L, 0L)))
  }

  test("len on strings, dicts, lists, json arrays (func-len.c)") {
    val df = Seq(("""["x","y","z"]""", 1L)).toDF("raw", "v")
    assert(FilterX(one, "$n = len($s);").select("n").as[Long].head() == 4L)
    assert(FilterX(one, "$n = len({'a':1,'b':2});").select("n").as[Long].head() == 2L)
    assert(FilterX(one, "$n = len([1,2,3]);").select("n").as[Long].head() == 3L)
    assert(FilterX(df, "$n = len(json($raw));").select("n").as[Long].head() == 3L)
  }

  test("istype static and dynamic (func-istype.c)") {
    assert(holds("istype($i, 'integer')"))
    assert(holds("istype($s, 'string')"))
    assert(!holds("istype($i, 'string')"))
    assert(holds("istype({'a':1}, 'json_object')"))
    assert(holds("istype([1], 'json_array')"))
    val df = Seq(("""{"a":1}""", """[1]""")).toDF("o", "a")
    assert(FilterX(df, "istype(json($o), 'json_object');").count() == 1L)
    assert(FilterX(df, "istype(json($a), 'json_array');").count() == 1L)
  }

  test("isset / unset (expr-isset.c, expr-unset.c)") {
    assert(holds("isset($s)"))
    assert(holds("isset($empty)")) // empty string is set (it exists)
    assert(!holds("isset($nosuchcolumn)"))
    val out = FilterX(one, "unset($s); $after = isset($s) ? 1 : 0;")
    val r = out.select("s", "after").as[(Option[String], Long)].head()
    assert(r == ((None, 0L)))
  }

  test("regexp_search: group list, named-group dict, empty on no match (expr-regexp.c:157)") {
    val out = FilterX(one,
      """$m = regexp_search($s, '(a)(l)');
        |$g1 = string($m[1]);
        |$none = regexp_search($s, 'zz');
        |$n_none = len($none);
        |$empty_falsy = $none ? 1 : 0;""".stripMargin)
    val r = out.select("m", "g1", "none", "n_none", "empty_falsy")
      .as[(String, String, String, Long, Long)].head()
    assert(r == ((("""["al","a","l"]"""), "a", "[]", 0L, 0L)))

    val df = Seq(("hello world", 1L)).toDF("t", "v")
    val named = FilterX(df,
      """$d = regexp_search($t, '(?<w>hello) (?<x>world)');
        |$w = string($d.w);""".stripMargin)
    val s = named.select("d", "w").as[(String, String)].head()
    assert(s._1 == """{"0":"hello world","w":"hello","x":"world"}""")
    assert(s._2 == "hello")
  }

  test("+= appends generated elements to a list (generator_assignment)") {
    val out = FilterX(one,
      """$xs = [1, 2];
        |$xs += [3, $i];
        |$n = len($xs);""".stripMargin)
    val r = out.select("xs", "n").as[(String, Long)].head()
    assert(r == (("1,2,3,7", 4L)))
  }

  test("light-suite list semantics: LIST marshal, json embedding, value-copy on assign") {
    // test_list_literal_becomes_syslogng_list_as_string
    val a = FilterX(one, "$out = json_array(['foo', 'bar', 'baz']);")
      .select("out").as[String].head()
    assert(a == "foo,bar,baz")
    // test_list_literal_becomes_json_list_as_a_part_of_json (trailing comma!)
    val b = FilterX(one,
      """$list = json_array(['foo', 'bar', 'baz']);
        |$out = json({
        |  'key': 'value',
        |  'list': $list,
        |});""".stripMargin).select("out").as[String].head()
    assert(b == """{"key":"value","list":["foo","bar","baz"]}""")
    // test_list_is_cloned_upon_assignment — value semantics + quoting of
    // elements containing a space
    val c = FilterX(one,
      """$list = json_array(['foo', 'bar', 'baz']);
        |$out = $list;
        |$list[0] = 'changed foo';
        |$out[2] = 'changed baz';""".stripMargin)
      .select("out", "list").as[(String, String)].head()
    assert(c._1 == "foo,bar,\"changed baz\"")
    assert(c._2 == "\"changed foo\",bar,baz")
    // test_list_subscript_without_index_appends_an_element
    val d = FilterX(one,
      """$list = json_array();
        |$list[] = 'foo';
        |$list[] = 'bar';
        |$out = $list;""".stripMargin).select("out").as[String].head()
    assert(d == "foo,bar")
  }

  // ---- templates in double-quoted strings (construct_template_expr)

  test("double-quoted strings are templates; trivial $name stays typed") {
    val out = FilterX(one,
      """$msg = "value=$i s=$s";
        |$typed = "$i";
        |$lit = 'no $i expansion';""".stripMargin)
    val r = out.select("msg", "typed", "lit").as[(String, Long, String)].head()
    assert(r == (("value=7 s=alma", 7L, "no $i expansion")))
  }

  test("declare persists across chained blocks via inherited") {
    val c1 = FilterX.compile(one, "declare counter = $i; $tmp = 1;")
    // no arithmetic in filterx v1 grammar — read back through comparison
    val c3 = FilterX.compile(one, "$out = counter == 7 ? 'yes' : 'no';", inherited = c1.declared)
    assert(c1.declared.contains("counter"))
    val out = one.select(c3.updates.toMap.apply("out").as("out"))
    assert(out.as[String].head() == "yes")
  }

  // ---- module function library: parse_kv / format_kv / strptime /
  // cache_json_file (modules/kvformat/filterx-func-*.c,
  // lib/filterx/object-datetime.c:237, modules/json/filterx-cache-json-file.c)

  private def fx1(program: String): String =
    FilterX(one, program).select("r").as[String].head()

  test("parse_kv: defaults, first-char/empty separators, pair separator, stray words") {
    // test_filterx_func_parse_kv.c:49-71 (defaults)
    assert(fx1("$r = parse_kv('foo=bar, bar=baz');")
      === """{"foo":"bar","bar":"baz"}""")
    // :77-104 only the first character of the value separator is used
    assert(fx1("$r = parse_kv('foo@bar, bar@baz', '@#$');")
      === """{"foo":"bar","bar":"baz"}""")
    // :106-110 empty separator keeps the default
    assert(fx1("$r = parse_kv('foo=bar, bar=baz', '');")
      === """{"foo":"bar","bar":"baz"}""")
    // :124-144 null positional + custom pair separator
    assert(fx1("$r = parse_kv('foo=bar-=|=-bar=baz', null, '-=|=-');")
      === """{"foo":"bar","bar":"baz"}""")
    // :146-176 stray words captured under the given key
    assert(fx1("$r = parse_kv('foo=bar, lookslikenonKV bar=baz', null, null, 'straywords');")
      === """{"foo":"bar","bar":"baz","straywords":"lookslikenonKV"}""")
    // named-argument spelling of the same options
    assert(fx1("$r = parse_kv('foo@bar, bar@baz', value_separator='@');")
      === """{"foo":"bar","bar":"baz"}""")
  }

  test("an unconsumed named argument errors instead of silently defaulting") {
    intercept[RuntimeException] {
      fx1("$r = format_kv({'a': 'b'}, value_separator=':');")
    }
    intercept[RuntimeException] {
      fx1("$r = parse_kv('a=b', sep='@');") // unknown option name
    }
  }

  test("format_kv: defaults, null separators, custom separators, nested skip, space quoting") {
    // test_filterx_func_format_kv.c:138-158
    assert(fx1("$r = format_kv({'foo': 'bar', 'bar': 'baz'});") === "foo=bar, bar=baz")
    assert(fx1("$r = format_kv({'foo': 'bar', 'bar': 'baz'}, null, null);") === "foo=bar, bar=baz")
    // :161-170 custom separators
    assert(fx1("$r = format_kv({'foo': 'bar', 'bar': 'baz'}, '@', ' | ');") === "foo@bar | bar@baz")
    // :172-180 inner dict/list entries are skipped
    assert(fx1("$r = format_kv({'foo': 'bar', 'x': {}, 'y': [], 'bar': 'baz'});")
      === "foo=bar, bar=baz")
    // :182-190 a value containing a space is double-quoted, `"` escaped
    assert(fx1("""$r = format_kv({'foo': 'bar', 'bar': 'almafa korte"fa'});""")
      === "foo=bar, bar=\"almafa korte\\\"fa\"")
    // runtime json dict path
    assert(fx1("""$j = json('{"a":"1","b":"2"}'); $r = format_kv($j);""") === "a=1, b=2")
  }

  test("strptime: ordered format list, first parse wins, no match is unset") {
    val out = FilterX(one,
      """$t = strptime('2024-01-02 03:04:05', '%Y-%m-%dT%H:%M:%S', '%Y-%m-%d %H:%M:%S');
        |$iso = isodate($t);
        |$bad = strptime('nonsense', '%Y-%m-%d');
        |$ok = isset($bad) ? 1 : 0;""".stripMargin)
    val r = out.select("iso", "ok").as[(String, Long)].head()
    assert(r === (("2024-01-02T03:04:05", 0L)))
  }

  test("cache_json_file: config-time lookup tree folded into the plan as literals") {
    val p = java.nio.file.Files.createTempFile("fxcache", ".json")
    java.nio.file.Files.write(p,
      """{"threat": {"1.2.3.4": "bad", "level": 3}, "ids": [10, 20]}""".getBytes("UTF-8"))
    try {
      val out = FilterX(one,
        s"""$$tbl = cache_json_file('$p');
           |$$lvl = $$tbl.threat.level;
           |$$who = $$tbl.threat['1.2.3.4'];
           |$$first = $$tbl.ids[0];""".stripMargin)
      val r = out.select("lvl", "who", "first").as[(Long, String, Long)].head()
      assert(r === ((3L, "bad", 10L)))
    } finally java.nio.file.Files.delete(p)
  }

  // ---- bytes typecast (object-string.c:236-261, test_object_bytes.c) +
  //      format_json (modules/json/filterx-format-json.c)

  test("bytes(): identity on bytes, string -> utf8 bytes; hex repr; len; istype") {
    // typecast_from_string: the bytes ARE the utf8 of the string, proven
    // through the hex repr (string(bytes(x)) — _bytes_repr)
    val out = FilterX(one,
      """$h = string(bytes($s));
        |$hh = string(bytes(bytes($s)));
        |$n = len(bytes($s));
        |$t = istype(bytes($s), 'bytes') ? 1 : 0;
        |$truthy = bytes($s) ? 1 : 0;
        |$falsy = bytes($empty) ? 1 : 0;""".stripMargin)
    val r = out.select("h", "hh", "n", "t", "truthy", "falsy")
      .as[(String, String, Long, Long, Long, Long)].head()
    assert(r._1 === "616c6d61") // "alma" utf8 hex, lowercase
    assert(r._2 === r._1)       // typecast_from_bytes: identity
    assert(r._3 === 4L)         // byte length
    assert(r._4 === 1L)
    assert(r._5 === 1L && r._6 === 0L) // str_len>0 truthiness
    // int(bytes) is a compile error like the reference's unsupported cast
    assertThrows[RuntimeException](FilterX(one, "$x = int(bytes($s));"))
  }

  test("mixed bytes comparison dispatches on the left operand (expr-comparison.c)") {
    // numeric LHS: numeric comparison, the bytes RHS is unparseable (NaN)
    assert(!holds("5 < bytes('9')"))
    assert(!holds("5 == bytes('9')"))
    assert(holds("5 != bytes('9')"))
    // bytes LHS and string LHS against bytes keep the raw-byte comparison
    assert(holds("bytes('9') > 5"))
    assert(holds("'alma' == bytes($s)"))
  }

  test("protobuf(): retagged bytes — typecasts, istype, hex repr, base64 json, raw-byte cmp") {
    // object-string.c:269-293 filterx_typecast_protobuf: identity on
    // protobuf, bytes → retag; string input is an error (only bytes admits).
    val out = FilterX(one,
      """$p = protobuf(bytes($s));
        |$pp = string(protobuf(protobuf(bytes($s))));
        |$h = string($p);
        |$n = len($p);
        |$t = istype($p, 'protobuf') ? 1 : 0;
        |$tb = istype($p, 'bytes') ? 1 : 0;
        |$back = istype(bytes($p), 'bytes') ? 1 : 0;
        |$fj = format_json($p);
        |$eq = $p == bytes($s) ? 1 : 0;
        |$lt = protobuf(bytes('alma')) < protobuf(bytes('almb')) ? 1 : 0;""".stripMargin)
    val r = out.select("pp", "h", "n", "t", "tb", "back", "fj", "eq", "lt")
      .as[(String, String, Long, Long, Long, Long, String, Long, Long)].head()
    assert(r._1 === "616c6d61")  // identity cast, shared _bytes_repr hex
    assert(r._2 === "616c6d61")
    assert(r._3 === 4L)          // shared _len: byte length
    assert(r._4 === 1L)          // type identity IS protobuf...
    assert(r._5 === 0L)          // ...and NOT bytes (distinct FilterXType)
    assert(r._6 === 1L)          // bytes(protobuf) retags back (:255-260)
    val b64 = java.util.Base64.getEncoder.encodeToString("alma".getBytes("UTF-8"))
    assert(r._7 === "\"" + b64 + "\"") // shared _bytes_map_to_json base64
    assert(r._8 === 1L)          // type-aware cmp over raw payload bytes
    assert(r._9 === 1L)          // memcmp ordering (expr-comparison.c:114-124)
    // string → protobuf is NOT admitted (only bytes is, :281-286)
    assertThrows[RuntimeException](FilterX(one, "$x = protobuf($s);"))
    assertThrows[RuntimeException](FilterX(one, "$x = int(protobuf(bytes($s)));"))
  }

  test("format_json: scalars, strings escaped, bytes base64, dict/list") {
    val esc = Seq(("a\"b\\c", 7L)).toDF("s", "i")
    val out = FilterX(esc,
      """$js = format_json($s);
        |$ji = format_json($i);
        |$jb = format_json(true);
        |$jn = format_json(null);
        |$jby = format_json(bytes($s));
        |$jd = format_json({'k': $s, 'n': $i, 'b': bytes('AB')});
        |$jl = format_json(['x', 2]);""".stripMargin)
    val r = out.select("js", "ji", "jb", "jn", "jby", "jd", "jl")
      .as[(String, String, String, String, String, String, String)].head()
    assert(r._1 === "\"a\\\"b\\\\c\"") // JSON-escaped quoted string
    assert(r._2 === "7")
    assert(r._3 === "true")
    assert(r._4 === "null")
    val b64 = java.util.Base64.getEncoder.encodeToString("a\"b\\c".getBytes("UTF-8"))
    assert(r._5 === "\"" + b64 + "\"") // _append_bytes: base64 in quotes
    assert(r._6 === s"""{"k":"a\\"b\\\\c","n":7,"b":"QUI="}""")
    assert(r._7 === """["x","2"]""" || r._7 === """["x",2]""")
  }

  test("drop-rate program over the transcripts fixture") {
    val df = graft.transcripts.Transcripts.load(spark, sfUnit)
    val total = df.count()
    val kept = FilterX(df,
      """$role != 'system';
        |$quality = len($text) > 40 ? 'long' : 'short';
        |if ($role == 'tool') { $quality = 'tool'; };""".stripMargin)
    assert(kept.count() < total)
    val qs = kept.select("quality").distinct().as[String].collect().toSet
    assert(qs == Set("long", "short", "tool"))
    // no system rows survive; tool rows all tagged
    assert(kept.where(col("role") === "system").count() == 0)
    assert(kept.where(col("role") === "tool" && col("quality") =!= "tool").count() == 0)
  }
}

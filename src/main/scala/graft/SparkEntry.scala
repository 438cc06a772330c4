package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.{Dedup, Multimodal, Similarity, TextStats}
import graft.enrich.ContextualData
import graft.filters.Filters
import graft.functions.{GraftFunctions, Templates}
import graft.model.SyslogNames
import graft.operators.{Correlation, Skew}
import graft.parsers.{FieldParsers, GrokStage, PatternDb, Scanners, SnmpTrapd}
import graft.rewrite.Rewrites
import graft.transcripts.Transcripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 gets a `queries` entry (Spark plan) and,
  * where SQL-expressible, an `oracleSql` entry. Oracles are independent
  * DuckDB recomputes — mostly from the generator's ground-truth columns
  * (`transcripts_full`), so the Spark side must genuinely parse/route/compute
  * and cannot share logic with the oracle.
  */
object SparkEntry {

  /** Flagship: full parse→enrich→route→aggregate pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.run(spark, "/root/testdata/sf0.001")

  private def transcripts(s: SparkSession, dir: String): DataFrame =
    Transcripts.load(s, dir)

  private def grokked(s: SparkSession, dir: String): DataFrame =
    GrokStage(transcripts(s, dir), "text", GrokStage.transcriptRules)

  // single-file tables scan as ONE partition; the per-row work downstream
  // (shingling, hashing, dot products) is heavy, so spread it across the
  // cluster first — a 1-small-table shuffle buys a fully parallel stage
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  /** Deterministic registrable-domain edge fixture for the web-graph
    * queries: src = d(i mod 13).com, dst = d(i²+1 mod 17).com, edge kept
    * iff i² mod 7 < 3 — the gate plus the 500-doc truncation (< the
    * 7·13·17 CRT cycle) makes degrees irregular, and dst residues outside
    * the src range leave d13–d16.com dangling. */
  private def webGraphEdges(docs: DataFrame): DataFrame = {
    val i = col("doc_id").cast("long")
    docs
      .where(pmod(i * i, lit(7)) < 3)
      .select(
        concat(lit("d"), pmod(i, lit(13)).cast("string"), lit(".com")).as("src"),
        concat(lit("d"), pmod(i * i + 1, lit(17)).cast("string"),
          lit(".com")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def f(key: String): Column = col("fields")(key)

  // ---- shared oracle fragments: corpus ops (DuckDB dialect) --------------
  /** word 3-shingle sets per doc (matches Dedup.shingles(k=3)). */
  private val DOC_SHINGLES =
    """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT doc_id, text,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in generate_series(1, len(w) - 2)]) AS s
              FROM tok)"""

  private val DOC_JACCARD_05 =
    s"""$DOC_SHINGLES
       , pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.s, b.s))::double /
                  len(list_distinct(list_concat(a.s, b.s)))::double AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, jaccard FROM pr WHERE jaccard >= 0.5"""

  /** n-bit simhash from md5 nibble MSBs (matches Dedup.simhash). */
  private def simhashSql(wExpr: String, bits: Int): String = (0 until bits).map { i =>
    // bits 32..63 read the second md5 (token || '#1'), mirroring
    // Dedup.simhash's two-md5 widening
    val h = if (i < 32) s"substr(md5(t), ${i + 1}, 1)"
            else s"substr(md5(t || '#1'), ${i - 31}, 1)"
    s"(CASE WHEN list_sum([CASE WHEN $h >= '8' THEN 1 ELSE -1 END for t in $wExpr]) >= 0 THEN '1' ELSE '0' END)"
  }.mkString("concat(", ", ", ")")

  /** q_text_repetition oracle: recomputes every RepetitionStats signal from
    * first principles in DuckDB — lines/paragraphs via list comprehensions,
    * n-grams via position-indexed unnest + group-by (the relational twin of
    * the one-pass JVM hash maps), duplicated-gram coverage via a distinct
    * position union joined back to word lengths.
    */
  private def repetitionOracle: String = {
    // the same planted structure as the Spark query builds with concat()
    val t2 =
      """substr(text, 1, 40) || chr(10) || substr(text, 21, 30) || chr(10) ||
         substr(text, 21, 30) || chr(10) || chr(10) || substr(text, 1, 40) ||
         chr(10) || chr(10) || substr(text, 1, 40) || chr(10) || chr(10) || text"""
    // (units - distinct)/units and beyond-first-occurrence char fraction
    def unitFracs(l: String, prefix: String) =
      s"""(len($l) - len(list_distinct($l)))::double / len($l)::double AS ${prefix}_frac,
          CASE WHEN coalesce(list_sum([length(x) for x in $l]), 0) > 0
               THEN coalesce(list_sum([(len(list_filter($l, y -> y = x)) - 1) * length(x)
                                       for x in list_distinct($l)]), 0)::double
                    / list_sum([length(x) for x in $l])::double
               ELSE 0.0 END AS ${prefix}_char_frac"""
    // position-indexed n-gram occurrences + per-gram counts
    def gramCtes(n: Int) =
      s"""g$n AS (SELECT doc_id, unnest([{'i': i, 'g': array_to_string(w[i:i+${n - 1}], ' ')}
                                         for i in generate_series(1, len(w) - ${n - 1})]) AS og
                  FROM units),
          ge$n AS (SELECT doc_id, og.i AS i, og.g AS g FROM g$n),
          c$n AS (SELECT doc_id, g, count(*) AS c FROM ge$n GROUP BY doc_id, g)"""
    // top gram: max count, ties to the lexicographically smallest gram
    def topCte(n: Int) =
      s"""t$n AS (SELECT doc_id, first(c ORDER BY c DESC, g ASC) AS c,
                         first(g ORDER BY c DESC, g ASC) AS g
                  FROM c$n GROUP BY doc_id)"""
    // chars of word positions covered by >= 1 duplicated-gram occurrence
    def covCtes(n: Int) =
      s"""d$n AS (SELECT doc_id, g FROM c$n WHERE c >= 2),
          cp$n AS (SELECT DISTINCT doc_id, p FROM
                     (SELECT e.doc_id AS doc_id, unnest(generate_series(e.i, e.i + ${n - 1})) AS p
                      FROM ge$n e JOIN d$n d ON e.doc_id = d.doc_id AND e.g = d.g)),
          cc$n AS (SELECT c.doc_id, sum(length(u.w[c.p])) AS chars
                   FROM cp$n c JOIN units u ON c.doc_id = u.doc_id GROUP BY c.doc_id)"""
    s"""WITH base AS (SELECT doc_id, $t2 AS t FROM documents),
        units AS (SELECT doc_id, t,
                    string_split(t, chr(10)) AS ls,
                    string_split(t, chr(10) || chr(10)) AS ps,
                    regexp_split_to_array(t, '\\s+') AS w,
                    length(t)::double AS tc
                  FROM base),
        linep AS (SELECT doc_id, ${unitFracs("ls", "dup_line")}, ${unitFracs("ps", "dup_para")}
                  FROM units),
        ${gramCtes(2)}, ${topCte(2)},
        ${gramCtes(3)}, ${topCte(3)},
        ${gramCtes(4)}, ${topCte(4)},
        ${gramCtes(5)}, ${covCtes(5)},
        ${gramCtes(6)}, ${covCtes(6)},
        ${gramCtes(7)}, ${covCtes(7)},
        ${gramCtes(8)}, ${covCtes(8)},
        ${gramCtes(9)}, ${covCtes(9)},
        ${gramCtes(10)}, ${covCtes(10)}
        SELECT u.doc_id,
          l.dup_line_frac, l.dup_line_char_frac, l.dup_para_frac, l.dup_para_char_frac,
          coalesce((t2.c * length(t2.g))::double / u.tc, 0.0) AS top_2gram_char_frac,
          coalesce((t3.c * length(t3.g))::double / u.tc, 0.0) AS top_3gram_char_frac,
          coalesce((t4.c * length(t4.g))::double / u.tc, 0.0) AS top_4gram_char_frac,
          coalesce(cc5.chars::double / u.tc, 0.0) AS dup_5gram_char_frac,
          coalesce(cc10.chars::double / u.tc, 0.0) AS dup_10gram_char_frac,
          (l.dup_line_frac <= 0.30 AND l.dup_para_frac <= 0.30 AND
           l.dup_line_char_frac <= 0.20 AND l.dup_para_char_frac <= 0.20 AND
           coalesce((t2.c * length(t2.g))::double / u.tc, 0.0) <= 0.20 AND
           coalesce((t3.c * length(t3.g))::double / u.tc, 0.0) <= 0.18 AND
           coalesce((t4.c * length(t4.g))::double / u.tc, 0.0) <= 0.16 AND
           coalesce(cc5.chars::double / u.tc, 0.0) <= 0.15 AND
           coalesce(cc6.chars::double / u.tc, 0.0) <= 0.14 AND
           coalesce(cc7.chars::double / u.tc, 0.0) <= 0.13 AND
           coalesce(cc8.chars::double / u.tc, 0.0) <= 0.12 AND
           coalesce(cc9.chars::double / u.tc, 0.0) <= 0.11 AND
           coalesce(cc10.chars::double / u.tc, 0.0) <= 0.10) AS pass
        FROM units u
        JOIN linep l ON u.doc_id = l.doc_id
        LEFT JOIN t2 ON u.doc_id = t2.doc_id
        LEFT JOIN t3 ON u.doc_id = t3.doc_id
        LEFT JOIN t4 ON u.doc_id = t4.doc_id
        LEFT JOIN cc5 ON u.doc_id = cc5.doc_id
        LEFT JOIN cc6 ON u.doc_id = cc6.doc_id
        LEFT JOIN cc7 ON u.doc_id = cc7.doc_id
        LEFT JOIN cc8 ON u.doc_id = cc8.doc_id
        LEFT JOIN cc9 ON u.doc_id = cc9.doc_id
        LEFT JOIN cc10 ON u.doc_id = cc10.doc_id"""
  }

  /** DuckDB Luhn checksum over the digits of expression `c` (mirrors
    * [[graft.corpus.Pii.luhnValid]]: strip non-digits, double every second
    * digit from the right, −9 on two-digit products, total ≡ 0 mod 10,
    * 13–19 digits). Inlined because DuckDB lambdas can't bind locals. */
  private def luhnSql(c: String): String = {
    val d = s"regexp_replace($c, '[^0-9]', '', 'g')"
    s"""(CASE WHEN length($d) BETWEEN 13 AND 19 THEN
         list_sum([CASE WHEN (length($d) - i) % 2 = 1
                        THEN CASE WHEN substr($d, i, 1)::int * 2 > 9
                                  THEN substr($d, i, 1)::int * 2 - 9
                                  ELSE substr($d, i, 1)::int * 2 END
                        ELSE substr($d, i, 1)::int END
                   for i in generate_series(1, length($d))]) % 10 = 0
         ELSE false END)"""
  }

  /** sequential-fold cosine (matches Similarity.cosine). */
  private val COSINE =
    """list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS double) * CAST(x[2] AS double))) /
       (sqrt(list_sum(list_transform(qv, x -> CAST(x AS double) * CAST(x AS double)))) *
        sqrt(list_sum(list_transform(cv, x -> CAST(x AS double) * CAST(x AS double)))))"""

  /** Planted boilerplate for the span-dedup contract: EXACTLY 16 words, so
    * prepending it to a document shifts every original 16-word window by one
    * whole span and window alignment is preserved on both engines.
    */
  private val SPAN_BOILER =
    "banner subscribe to our newsletter for updates terms of service apply all rights reserved cookie policy"

  // ---- shared oracle fragments (route ground truth, DuckDB dialect) ------
  private val R_TOOL = "(variant = 1 AND tool IS NOT NULL)"
  private val R_ERR_RAW =
    "((variant IN (0,2) AND status IN ('error','fail')) OR (variant = 1 AND okflag = 'false'))"
  private val R_ERR = s"($R_ERR_RAW AND NOT $R_TOOL)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ================= data model =================
    "q_transcripts" -> ((s, dir) => transcripts(s, dir)),

    // conversation-level quality gate: one combinable aggregate per conv
    "q_conv_quality" -> ((s, dir) =>
      graft.transcripts.Sft.conversationStats(transcripts(s, dir))
        .select(col("conv_id"), col("n_turns"), col("n_assistant"), col("n_tool"),
          col("mean_turn_chars"), col("span_seconds"), col("assistant_frac"),
          col("pass"))),

    // transcript → SFT pairs: one sample per assistant turn, context = all
    // prior turns of the conversation rendered "role: text" under the
    // stable (conv_id, turn_idx) order — one bounded window per conv
    "q_sft_pairs" -> ((s, dir) =>
      graft.transcripts.Sft.pairs(transcripts(s, dir), "assistant")),

    // ================= §2.2/§2.3 parse stage =================
    "q_parse_syslog" -> ((s, dir) => {
      grokked(s, dir).filter(col("rule_id") === "syslog")
        .select(col("conv_id"), col("turn_idx"),
          f("host").as("host"), f("prog").as("prog"),
          f("pid").cast("int").as("pid"), f("pri").cast("int").as("pri"),
          f("action").as("action"), f("status").as("status"))
    }),

    "q_parse_syslog_hdr" -> ((s, dir) => {
      // full RFC3164 classifier (SyslogFormat, modules/syslogformat port)
      // roundtrip over the BSD-formatted transcript lines: the parse must
      // invert the generator's formatting, including the year-guess (the
      // deterministic receive clock is the msgparse fixture's 2019-02-08,
      // recv zone UTC so the oracle needs no DST table)
      val t = transcripts(s, dir).filter(col("text").startsWith("<"))
      val o = graft.parsers.SyslogFormat.Options(
        flags = Set(graft.parsers.SyslogFormat.Flags.ExpectHostname),
        nowEpochUsec = 1549615069123000L)
      graft.parsers.SyslogFormat.stage(t, "text", o)
        .select(col("conv_id"), col("turn_idx"),
          col("sl_pri").as("pri"), col("sl_host").as("host"),
          col("sl_prog").as("prog"), col("sl_pid").as("pid"),
          col("sl_msg").as("msg"), col("sl_ts").as("ts_parsed"))
    }),

    "q_parse_cisco" -> ((s, dir) => {
      // cisco-parser() roundtrip: IOS-shaped lines (seq, origin, '*' sync
      // marker, BSD ts with msec, %FAC-SEV-MNEMONIC triplet) built from
      // generator ground truth, then classified back
      val t = Transcripts.loadFull(s, dir)
      val line = concat(
        lit("<"), col("pri"), lit(">"),
        col("turn_idx").cast("string"), lit(": host-"), col("hostnum"), lit(": *"),
        col("mon"), lit(" "), lpad(col("dd").cast("string"), 2, " "), lit(" "),
        lpad(col("hh").cast("string"), 2, "0"), lit(":"),
        lpad(col("mi").cast("string"), 2, "0"), lit(":"),
        lpad(col("ss").cast("string"), 2, "0"), lit("."),
        format_string("%03d", pmod(col("duration_ms"), lit(1000))),
        lit(": %F"), col("prognum"), lit("-"), col("sev"), lit("-"),
        upper(col("action")), lit(": status "), col("status"))
      graft.parsers.CiscoParser.stage(
        t.select(col("conv_id"), col("turn_idx"), line.as("text")), "text",
        graft.parsers.SyslogFormat.Options(nowEpochUsec = 1549615069123000L))
        .select(col("conv_id"), col("turn_idx"),
          col("cisco_pri").as("pri"), col("cisco_host").as("host"),
          col("cisco_seqid").as("seqid"), col("cisco_facility").as("fac"),
          col("cisco_severity").as("sevp"), col("cisco_mnemonic").as("mnem"),
          col("cisco_ts").as("ts_parsed"), col("cisco_msg").as("msg"))
    }),

    "q_parse_errors" -> ((s, dir) => {
      grokked(s, dir).filter(array_contains(col("tags"), GrokStage.ParseErrorTag))
        .select(col("conv_id"), col("turn_idx"), col("text"))
    }),

    "q_parse_kv" -> ((s, dir) => {
      val t = transcripts(s, dir).filter(col("text").startsWith("event="))
      t.withColumn("m", FieldParsers.kvParser(col("text")))
        .select(col("conv_id"), col("turn_idx"),
          col("m")("event").as("event"), col("m")("tool").as("tool_field"),
          col("m")("duration_ms").cast("int").as("duration_ms"),
          col("m")("ok").as("ok"))
    }),

    "q_parse_json" -> ((s, dir) => {
      val t = transcripts(s, dir).filter(col("text").startsWith("{"))
      t.withColumn("j",
          FieldParsers.jsonParser(col("text"), "event STRING, role STRING, tokens INT, status STRING"))
        .select(col("conv_id"), col("turn_idx"),
          col("j")("event").as("event"), col("j")("role").as("role_j"),
          col("j")("tokens").as("tokens"), col("j")("status").as("status"))
    }),

    "q_parse_csv" -> ((s, dir) => {
      val t = transcripts(s, dir).filter(col("text").rlike("^conv-\\d+,"))
      FieldParsers.csvParser(t, col("text"), Seq("c_conv", "c_turn", "c_role", "latency"))
        .select(col("conv_id"), col("turn_idx"), col("c_conv"),
          col("c_turn").cast("int").as("c_turn"), col("c_role"),
          col("latency").cast("int").as("latency_ms"))
    }),

    // Quoted-dialect scanners: build dialect-shaped lines from the clean
    // columns, scan them back with the real FSMs; oracles recompute the
    // fields without any parsing.
    "q_parse_csv_quoted" -> ((s, dir) => {
      val line = concat(
        col("conv_id"), lit(",\""), col("role"), lit(", \"\"x\"\"\","),
        col("turn_idx").cast("string"), lit(",tail with, commas "), col("conv_id"))
      val t = transcripts(s, dir).withColumn("csv_line", line)
      Scanners.csvStage(t, "csv_line", Seq("c1", "c2", "c3", "c4"),
        Scanners.CsvOptions(dialect = Scanners.EscapeDoubleChar, greedy = true))
        .select(col("conv_id"), col("turn_idx"), col("c1"), col("c2"),
          col("c3").cast("int").as("c3"), col("c4"))
    }),

    "q_parse_kv_quoted" -> ((s, dir) => {
      val line = concat(
        lit("alpha msg='"), col("role"), lit(" says \"hi\"' conv="), col("conv_id"),
        lit(" idx = "), col("turn_idx").cast("string"),
        lit(" note=free text "), coalesce(col("tool"), lit("none")))
      val t = transcripts(s, dir).withColumn("kv_line", line)
      Scanners.kvStage(t, "kv_line", Scanners.KvOptions(extractStrayWords = true))
        .select(col("conv_id"), col("turn_idx"),
          col("kv_fields")("msg").as("msg"),
          col("kv_fields")("conv").as("conv"),
          col("kv_fields")("idx").cast("int").as("idx"),
          col("kv_fields")("note").as("note"),
          col("kv_stray").as("stray"))
    }),

    "q_parse_date" -> ((s, dir) => {
      grokked(s, dir).filter(col("rule_id") === "syslog")
        .select(col("conv_id"), col("turn_idx"),
          FieldParsers.syslogTimestamp(f("mon"), f("dd"), f("hh"), f("mi"), f("ss"), 2026)
            .cast("timestamp_ntz").as("event_ts"))
    }),

    // RFC5424 + SDATA round trip: construct a spec-shaped line from the
    // clean columns, parse it back with the real parser; the oracle
    // recomputes the expected fields from the base table (no parsing).
    "q_parse_rfc5424" -> ((s, dir) => {
      val t = transcripts(s, dir).withColumn("ts", col("ts").cast("timestamp"))
      val line = concat(
        lit("<"), pmod(col("turn_idx") * 7 + 11, lit(192)).cast("string"), lit(">1 "),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"), lit(" host-x "),
        col("role"), lit(" 77 ID"), col("turn_idx").cast("string"),
        lit(" [graft@1 conv=\""), col("conv_id"),
        lit("\" tool=\""), coalesce(col("tool"), lit("none")),
        lit("\"] msg for "), col("conv_id"))
      t.withColumn("r", FieldParsers.rfc5424Parser(line))
        .select(col("conv_id"), col("turn_idx"),
          col("r.pri").as("pri"), col("r.version").as("version"),
          col("r.ts").cast("timestamp_ntz").as("ts5424"),
          col("r.host").as("host"), col("r.app").as("app"),
          col("r.procid").as("procid"), col("r.msgid").as("msgid"),
          col("r.sdata_id").as("sdata_id"),
          element_at(col("r.sdata"), "graft@1.conv").as("sd_conv"),
          element_at(col("r.sdata"), "graft@1.tool").as("sd_tool"),
          col("r.msg").as("msg"))
    }),

    "q_parse_audit" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val line = concat(
        lit("type=EXEC uid="), (lit(100) + pmod(col("turn_idx"), lit(89))).cast("string"),
        lit(" cmd="), hex(encode(col("role"), "UTF-8")), lit(" res=success"))
      t.withColumn("m", FieldParsers.auditParser(line))
        .select(col("conv_id"), col("turn_idx"),
          col("m")("type").as("rec_type"), col("m")("uid").cast("int").as("uid"),
          col("m")("cmd").as("cmd"), col("m")("res").as("res"))
    }),

    // snmptrapd output round trip: build SNMPv1 (odd turns) / SNMPv2 (even
    // turns) trap logs from the clean columns, parse with the real
    // header+varbind FSM; the oracle recomputes the fields from the base
    // table. Exercises v1 trap-info detection, the `TYPE:` annotation
    // strip, MIB-name colon normalization, and the quoted-value decoder.
    "q_parse_snmptrapd" -> ((s, dir) => {
      val t = transcripts(s, dir).withColumn("ts", col("ts").cast("timestamp"))
      val common = concat(
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
        lit(" host-"), col("conv_id"),
        lit(" [UDP: [10.1.2.3]:"),
        (lit(33000) + pmod(col("turn_idx"), lit(1000))).cast("string"),
        lit("->[10.9.9.9]:162]:"))
      val v2body = concat(
        lit("\niso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67\t"),
        lit("NET-SNMP-MIB::role = STRING: \""), col("role"), lit("\"\t"),
        lit("netSnmpTool = STRING: "), coalesce(col("tool"), lit("none")),
        lit("\tiso.3.6.1.4.1.8072.2.3.2.1 = INTEGER: "), col("turn_idx").cast("string"))
      val v1body = concat(
        lit(" iso.3.6.1.4.1.8072.2.3."), col("turn_idx").cast("string"),
        lit("\n\t Enterprise Specific Trap (."), pmod(col("turn_idx"), lit(32)).cast("string"),
        lit(") Uptime: 18:41:07.83\n"),
        lit("NET-SNMP-MIB::role = STRING: \""), col("role"), lit("\"\t"),
        lit("iso.3.6.1.4.1.8072.2.1.1 = INTEGER: "), col("turn_idx").cast("string"))
      val line = concat(common,
        when(pmod(col("turn_idx"), lit(2)) === 0, v2body).otherwise(v1body))
      def fld(k: String) = try_element_at(col("snmp_fields"), lit(k))
      SnmpTrapd.stage(t.withColumn("trap_line", line), "trap_line")
        .select(col("conv_id"), col("turn_idx"),
          fld(".snmp.hostname").as("hostname"),
          fld(".snmp.transport_info").as("transport"),
          fld(".snmp.enterprise_oid").as("enterprise_oid"),
          fld(".snmp.type").as("trap_type"),
          fld(".snmp.subtype").as("subtype"),
          fld(".snmp.uptime").as("uptime"),
          fld(".snmp.NET-SNMP-MIB_role").as("role_vb"),
          fld(".snmp.netSnmpTool").as("tool_vb"),
          fld(".snmp.iso.3.6.1.4.1.8072.2.3.2.1").as("gauge_vb"),
          fld(".snmp.iso.3.6.1.4.1.8072.2.1.1").as("int_vb"),
          col("snmp_stamp"),
          col("snmp_program").as("program"))
    }),

    "q_parse_xml" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val line = concat(
        lit("<turn role=\""), col("role"), lit("\"><latency>"),
        col("turn_idx").cast("string"), lit("</latency><note>"),
        coalesce(col("tool"), lit("-")), lit("</note></turn>"))
      t.withColumn("x", FieldParsers.xmlParser(line, "_role STRING, latency INT, note STRING"))
        .select(col("conv_id"), col("turn_idx"),
          col("x")("_role").as("role_x"), col("x")("latency").as("latency"),
          col("x")("note").as("note"))
    }),

    "q_parse_tags" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val tags = FieldParsers.tagsParser(
        concat_ws(",", col("role"), coalesce(col("tool"), lit("")), lit("t0")))
      t.select(col("conv_id"), col("turn_idx"),
        concat_ws(",", array_sort(tags)).as("tag_str"))
    }),

    // ================= §2.3 db-parser / patterndb =================
    // The transcript ruleset in the typed pattern language, radix-dispatched;
    // corrupt rows keep NULL rule_id (tagged, not dropped).
    "q_parse_patterndb" -> ((s, dir) => {
      val parsed = PatternDb.annotate(transcripts(s, dir), "text", PatternDb.transcriptRules)
      def pf(k: String): Column = try_element_at(col("pdb_fields"), lit(k))
      parsed.select(col("conv_id"), col("turn_idx"),
        col("pdb_rule").as("rule_id"),
        pf("pri").cast("long").as("pri"), pf("action").as("action"),
        pf("status").as("status"), pf("event").as("event"),
        pf("tool_field").as("tool_field"),
        pf("duration_ms").cast("long").as("duration_ms"), pf("ok").as("ok"),
        pf("role_j").as("role_j"), pf("tokens").cast("long").as("tokens"),
        pf("cturn").cast("long").as("cturn"), pf("crole").as("crole"),
        pf("clat").cast("long").as("clat"))
    }),

    // Typed-atom round trip: build a line carrying IPv4/MACADDR/EMAIL/
    // HOSTNAME/OPTIONALSET/FLOAT/nested-QSTRING/ANYSTRING shapes from the
    // clean columns, parse it back, promote to typed columns; the oracle
    // recomputes every capture without parsing.
    "q_patterndb_typed" -> ((s, dir) => {
      val ti = col("turn_idx")
      val mac = concat_ws(":",
        format_string("%02x", pmod(ti, lit(256))),
        format_string("%02x", pmod(ti * 3, lit(256))),
        format_string("%02x", pmod(ti * 5, lit(256))),
        format_string("%02x", pmod(ti * 7, lit(256))),
        format_string("%02x", pmod(ti * 11, lit(256))),
        format_string("%02x", pmod(ti * 13, lit(256))))
      val line = concat(
        lit("src=10."), pmod(ti, lit(256)).cast("string"),
        lit("."), pmod(ti * 7, lit(256)).cast("string"),
        lit("."), pmod(ti * 13, lit(256)).cast("string"),
        lit(" mac="), mac,
        lit(" from=<u"), ti.cast("string"),
        lit("@ex"), pmod(ti, lit(10)).cast("string"), lit(".com>"),
        lit(" host=h"), ti.cast("string"), lit(".example.org"),
        lit(" pad="), when(pmod(ti, lit(3)) === 0, lit(" ")).otherwise(lit("")),
        lit("score="), ti.cast("string"), lit("."), pmod(ti, lit(100)).cast("string"),
        lit("e-"), pmod(ti, lit(9)).cast("string"),
        lit(" msg=(role=("), col("role"), lit(")) rest=tail-"), col("conv_id"))
      val rules = Seq(PatternDb.PdbRule("typed", Seq(
        "src=@IPv4:src_ip@ mac=@MACADDR:mac@ from=@EMAIL:from_addr:<>@" +
          " host=@HOSTNAME:hostn@ pad=@OPTIONALSET:pad: @score=@FLOAT:score@" +
          " msg=@QSTRING:qmsg:()@ rest=@ANYSTRING:rest@")))
      val t = transcripts(s, dir).withColumn("pdb_line", line)
      PatternDb.promote(PatternDb.annotate(t, "pdb_line", rules), rules)
        .select(col("conv_id"), col("turn_idx"), col("src_ip"), col("mac"),
          col("from_addr"), col("hostn"), col("pad"), col("score"),
          col("qmsg"), col("rest"))
    }),

    // ================= §2.5 filters =================
    "q_filter_pri" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
      p.filter(Filters.severityRange(col("pri"), "emerg", "warning") &&
          Filters.facility(col("pri"), "daemon", "auth", "cron", "authpriv"))
        .select(col("conv_id"), col("turn_idx"),
          SyslogNames.facilityName(col("pri")).as("facility"),
          SyslogNames.severityName(col("pri")).as("severity"))
    }),

    "q_filter_cmp" -> ((s, dir) => {
      grokked(s, dir).filter(col("rule_id") === "kv")
        .filter(Filters.cmpTypeAware(f("duration_ms"), lit("999"), ">"))
        .select(col("conv_id"), col("turn_idx"),
          f("duration_ms").cast("int").as("duration_ms"))
    }),

    "q_filter_glob_inlist" -> ((s, dir) => {
      grokked(s, dir).filter(col("rule_id") === "syslog")
        .filter(Filters.matchGlob(f("host"), "host-?") &&
          Filters.inList(f("prog"), Seq("prog-0", "prog-2", "prog-4")) &&
          Filters.matchPrefix(f("action"), "log"))
        .select(col("conv_id"), col("turn_idx"),
          f("host").as("host"), f("prog").as("prog"), f("action").as("action"))
    }),

    "q_filter_netmask" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ip", concat_ws(".", lit("10"),
          SyslogNames.facilityNum(col("pri")).cast("string"),
          SyslogNames.severityNum(col("pri")).cast("string"),
          pmod(f("pid").cast("int"), lit(256)).cast("string")))
      p.filter(Filters.netmask(col("ip"), "10.4.0.0/16"))
        .select(col("conv_id"), col("turn_idx"), col("ip"))
    }),

    // geoip2 enrichment: range-bucket broadcast join over a mixed-prefix
    // CIDR fixture (reference modules/geoip2/geoip-parser.c)
    "q_enrich_geoip" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ip", concat_ws(".", lit("10"),
          SyslogNames.facilityNum(col("pri")).cast("string"),
          SyslogNames.severityNum(col("pri")).cast("string"),
          pmod(f("pid").cast("int"), lit(256)).cast("string")))
      graft.enrich.GeoIp.enrich(p, col("ip"), graft.enrich.GeoIp.defaultRanges(s))
        .select(col("conv_id"), col("turn_idx"), col("ip"),
          col("geoip2_country_iso"), col("geoip2_city"),
          col("geoip2_latitude"), col("geoip2_longitude"))
    }),

    "q_filter_netmask6" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ip6", concat(lit("2001:db8:"),
          lower(hex(SyslogNames.facilityNum(col("pri")))), lit("::"),
          lower(hex(pmod(f("pid").cast("int"), lit(256))))))
      p.filter(Filters.netmask6(col("ip6"), "2001:db8:4::/48"))
        .select(col("conv_id"), col("turn_idx"), col("ip6"))
    }),

    // store-matches → $1..$n (reference lib/logmatcher.c:73-119) + the
    // set-matches/unset-matches rewrites (array fill / clear)
    "q_store_matches" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val matches = regexp_extract_all(col("text"), lit("(\\d+)"), lit(1))
      t.select(col("conv_id"), col("turn_idx"),
        try_element_at(matches, lit(1)).as("m1"), // ANSI-safe on no-match rows
        size(matches).as("n_matches"),
        // unset-matches ≡ empty array; set-matches ≡ literal array fill
        size(array().cast("array<string>")).as("after_unset"))
    }),

    // ================= §2.6 rewrites =================
    "q_rewrite_subst" -> ((s, dir) => {
      transcripts(s, dir).select(col("conv_id"), col("turn_idx"),
        GraftFunctions.regexp_replace_first(col("text"), "\\d+", "#").as("d_first"),
        regexp_replace(col("text"), "\\d+", "#").as("d_global"))
    }),

    "q_rewrite_tags" -> ((s, dir) => {
      var p = grokked(s, dir)
      p = Rewrites.setTag(p, "tags", lit("has_status"), Some(f("status").isNotNull))
      p = Rewrites.setTag(p, "tags", lit("kv_line"), Some(col("rule_id") === "kv"))
      p.select(col("conv_id"), col("turn_idx"),
        concat_ws(",", array_sort(col("tags"))).as("tag_str"))
    }),

    // ================= §2.3 enrichment (add-contextual-data) =================
    "q_enrich" -> ((s, dir) => {
      ContextualData.enrich(
        transcripts(s, dir), ContextualData.lookupDf(s),
        coalesce(concat(lit("tool:"), col("tool")), concat(lit("role:"), col("role"))))
        .select(col("conv_id"), col("turn_idx"),
          col("team"), col("cost_class"), col("max_severity"))
    }),

    // ================= §2.7 routing =================
    "q_route" -> ((s, dir) => {
      Pipeline.flagged(s, dir)
        .select(col("conv_id"), col("turn_idx"), explode(col("routes")).as("sink"))
    }),

    "q_sink_counts" -> ((s, dir) => Pipeline.run(s, dir)),

    // ================= §2.6 rewrites (completeness) =================
    "q_rewrite_set_unset_rename" -> ((s, dir) => {
      var p = transcripts(s, dir)
      p = Rewrites.set(p, "status_text",
        concat_ws(":", col("role"), coalesce(col("tool"), lit("-"))))
      p = Rewrites.set(p, "text", upper(col("text")), Some(col("role") === "system"))
      p = Rewrites.rename(p, "conv_id", "conversation_id")
      p = Rewrites.unset(p, "ts")
      p.select(col("conversation_id"), col("turn_idx"), col("status_text"), col("text"))
    }),

    "q_rewrite_set_pri" -> ((s, dir) => {
      var p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
      p = Rewrites.setSeverity(p, "pri", when(f("status") === "error", lit("crit")))
      p = Rewrites.setFacility(p, "pri", when(f("action") === "login", lit("auth")))
      p = Rewrites.setPri(p, "pri", when(f("action") === "exec", lit("100"))
        .otherwise(lit("999"))) // 999 is out of range 0..191 → leaves pri unchanged
      p.select(col("conv_id"), col("turn_idx"), col("pri"))
    }),

    "q_rewrite_groupset" -> ((s, dir) => {
      val p = transcripts(s, dir)
        .withColumn("meta_a", col("role"))
        .withColumn("meta_b", coalesce(col("tool"), lit("-")))
      Rewrites.groupSet(p, Seq("meta_*", "to?l"), lit("redacted"))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("tool"), col("meta_a"), col("meta_b"))
    }),

    "q_value_pairs" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .select(col("conv_id"), col("turn_idx"),
          f("host").as("host"), f("prog").as("prog"),
          f("pid").as("pid"), f("action").as("action"))
      val m = Rewrites.valuePairs(p, Seq("h*", "a*", "p*"), Seq("pid", "turn_idx"), "sd." + _)
      p.select(col("conv_id"), col("turn_idx"),
        concat_ws(",",
          array_sort(transform(map_entries(m),
            e => concat(e("key"), lit("="), e("value"))))).as("pairs"))
    }),

    // ================= §2.8 templates/macros/functions =================
    "q_template_eval" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ts", col("ts").cast("timestamp")) // ntz → session-UTC instant
      val r = Templates.standardResolver(
        p.columns.toSet, col("ts"), col("pri"), col("fields"))
      p.select(col("conv_id"), col("turn_idx"),
        Templates.compile(
          "<$PRI>$HOST $PROGRAM[$PID]: action=${action} note=${missing:-none} $FACILITY.$SEVERITY",
          r).as("line"),
        Templates.compile("$YEAR-$MONTH-$DAY $HOUR:$MIN:$SEC @$UNIXTIME", r).as("when"))
    }),

    // $(iterate f initial) — the n-th message of the iteration scope
    // (per-conversation arrival order) renders f^n(initial)
    // (tf-iterate.c); here f(x)=x+5 from 100 ≡ a window running sum
    "q_template_iterate" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("conv_id")).orderBy(col("turn_idx").asc)
      val withIdx = t.withColumn("__pos", row_number().over(w) - 1)
      val r: Templates.Resolver = name =>
        if (name == "__iter_idx") Some(col("__pos"))
        else if (withIdx.columns.contains(name)) Some(col(name)) else None
      withIdx.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$(iterate \"$(+ 5 $_)\" 100)", r).as("acc"))
    }),

    // The macro long tail: 30+ names across the date family (incl. the
    // reference's own WEEK/MONTH_WEEK formulas, BSD space-padded stamps,
    // hex TAG, BSDTAG, MSGHDR, time bases) vs a strftime/recompute oracle.
    "q_template_macros" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ts", col("ts").cast("timestamp"))
      val r = Templates.standardResolver(
        p.columns.toSet, col("ts"), col("pri"), col("fields"))
      p.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$DATE|$FULLDATE|$ISODATE", r).as("stamps"),
        Templates.compile("$YEAR_DAY $MONTH_NAME $MONTH_WEEK $WEEK $ISOWEEK $WEEK_DAY $WEEK_DAY_NAME", r).as("weeks"),
        Templates.compile("$HOUR12$AMPM $MSEC $USEC $TZOFFSET", r).as("clock"),
        Templates.compile("$TAG $BSDTAG $MSGHDR", r).as("tagging"),
        Templates.compile("$R_ISODATE|$P_UNIXTIME|$C_YEAR", r).as("bases"),
        Templates.compile("$LOGHOST/$SOURCEIP:$DESTPORT#$RAWMSG_SIZE", r).as("origin"))
    }),

    "q_template_funcs" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val r: Templates.Resolver =
        name => if (t.columns.contains(name)) Some(col(name)) else None
      t.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$(uppercase $role)|$(+ $turn_idx 1)|$(padding $turn_idx 6 0)", r).as("a"),
        Templates.compile("$(sha256 $conv_id 8)|$(if $tool T -)|$(substr $conv_id 5)", r).as("b"),
        Templates.compile("$(or $tool fallback)|$(min $turn_idx 2)|$(length $text)", r).as("c"))
    }),

    // $(geoip2) template-function form (reference modules/geoip2/tfgeoip.c:
    // TEMPLATE_FUNCTION registration at :172): the default database inlines
    // as a literal bucket map, misses render "" — vs the parser form
    // (q_enrich_geoip) whose broadcast bucket join is the scale path
    "q_template_geoip" -> ((s, dir) => {
      val p = grokked(s, dir).filter(col("rule_id") === "syslog")
        .withColumn("pri", f("pri").cast("int"))
        .withColumn("ip", concat_ws(".", lit("10"),
          SyslogNames.facilityNum(col("pri")).cast("string"),
          SyslogNames.severityNum(col("pri")).cast("string"),
          pmod(f("pid").cast("int"), lit(256)).cast("string")))
      val r: Templates.Resolver =
        name => if (p.columns.contains(name)) Some(col(name)) else None
      p.select(col("conv_id"), col("turn_idx"), col("ip"),
        Templates.compile("$(geoip2 $ip)", r).as("country"),
        Templates.compile("geo=$(geoip2 --field city.names.en $ip)", r).as("city_t"))
    }),

    "q_template_format" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val r: Templates.Resolver =
        name => if (t.columns.contains(name)) Some(col(name)) else None
      t.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$(format-json conv=$conv_id role=$role n=$turn_idx)", r).as("j"),
        Templates.compile("$(format-welf id=$conv_id role=$role tool=${tool:-na})", r).as("w"))
    }),

    "q_template_hof" -> ((s, dir) => {
      val t = transcripts(s, dir)
        .withColumn("lst", concat_ws(",", col("role"), coalesce(col("tool"), lit("x"))))
        .withColumn("lst2", concat(col("role"), lit(","), coalesce(col("tool"), lit(""))))
      val r: Templates.Resolver =
        name => if (t.columns.contains(name)) Some(col(name)) else None
      t.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$(map $(uppercase $_) $lst)", r).as("a"),
        Templates.compile("$(filter $_ $lst2)", r).as("b"),
        Templates.compile("$(format-date '%Y/%m/%d %H:%M' ${ts})", r).as("c"))
    }),

    // CEF/WELF destination formats over a value-pairs map
    // (modules/cef/format-cef-extension.c, modules/kvformat/format-welf.c)
    "q_template_cef" -> ((s, dir) => {
      val t = transcripts(s, dir)
        .withColumn("fields", map(
          lit(".cef.role"), col("role"),
          lit(".cef.note"), concat(lit("t="), col("turn_idx").cast("string"), lit(" of conv")),
          lit(".cef.bad key"), col("role"), // invalid key: skipped
          lit("other"), col("role"), // outside --subkeys: excluded
          lit("id"), col("conv_id"),
          lit("msg"), concat(lit("turn "), col("turn_idx").cast("string"))))
      val r: Templates.Resolver = name =>
        if (name == "UNIXTIME")
          Some(unix_timestamp(col("ts").cast("timestamp")).cast("string"))
        else if (t.columns.contains(name)) Some(col(name)) else None
      t.select(col("conv_id"), col("turn_idx"),
        Templates.compile("$(format-cef-extension --subkeys .cef.)", r).as("cef"),
        Templates.compile("$(format-welf --key *)", r).as("welf"),
        Templates.compile("$(stardate --digits 3 $UNIXTIME)", r).as("sdate"))
    }),

    // ================= §2.12 FilterX =================
    // Statement block: drop predicate + branch-guarded writes + dict
    // marshaling + regex — the whole block is one projection + one filter
    // (lib/filterx/filterx-eval.c:189 exec semantics).
    "q_filterx" -> ((s, dir) => {
      graft.filterx.FilterX(transcripts(s, dir),
        """$role != 'system';
          |$is_tool = isset($tool) ? 1 : 0;
          |if ($role == 'tool') { $kind = 'T'; }
          |elif (len($text) > 60) { $kind = 'long'; }
          |else { $kind = 'short'; };
          |$meta = {'role': "$role", 'kind': $kind, 'n': len($text)};
          |$flag = $text =~ 'error' ? 'err' : 'ok';
          |$bhex = string(bytes($role));
          |$blen = len(bytes($text));
          |$bjson = format_json({'r': bytes($role), 'k': $kind});""".stripMargin)
        .select("conv_id", "turn_idx", "role", "kind", "is_tool", "meta", "flag",
          "bhex", "blen", "bjson")
    }),

    // Comparison-mode semantics (expr-comparison.c): type-aware numeric
    // parse of strings with NaN→only-!=, null-as-zero ordering, null type
    // equality, string-based eq/lt, elvis.
    "q_filterx_cmp" -> ((s, dir) => {
      graft.filterx.FilterX(transcripts(s, dir),
        """$gt_str = $turn_idx > '2' ? 1 : 0;
          |$nan_eq = $turn_idx == 'xyz' ? 1 : 0;
          |$nan_ne = $turn_idx != 'xyz' ? 1 : 0;
          |$null_gt = $turn_idx > null ? 1 : 0;
          |$null_eq = $turn_idx == null ? 1 : 0;
          |$str_lt = $role < 'tool' ? 1 : 0;
          |$str_eq = $role eq 'user' ? 1 : 0;
          |$tv_ne = $turn_idx !== 'x' ? 1 : 0;
          |$fb = $tool ?: 'none';""".stripMargin)
        .select("conv_id", "turn_idx", "gt_str", "nan_eq", "nan_ne",
          "null_gt", "null_eq", "str_lt", "str_eq", "tv_ne", "fb")
    }),

    // json() + dynamic getattr + typecasts over the JSON-variant turns
    // (object-json getattr unwraps scalars; int()/string() typecasts).
    "q_filterx_json" -> ((s, dir) => {
      graft.filterx.FilterX(transcripts(s, dir),
        """$text =~ '^\\{';
          |$j = json($text);
          |$evt = string($j.event);
          |$tokens = int($j.tokens);
          |$status = string($j.status);
          |$big = $j.tokens > 200 ? 1 : 0;
          |$rs = regexp_search($text, '"status":"(\\w+)"');
          |$st2 = string($rs[1]);""".stripMargin)
        .select("conv_id", "turn_idx", "evt", "tokens", "status", "big", "st2")
    }),

    // FilterX module functions (modules/kvformat/filterx-func-parse-kv.c /
    // -format-kv.c, object-datetime.c strptime): kv dict round-trip and a
    // strptime re-parse of the event time, both oracle-recomputable.
    "q_filterx_kv" -> ((s, dir) => {
      graft.filterx.FilterX(transcripts(s, dir),
        """$kvline = "role=$role, idx=$turn_idx";
          |$d = parse_kv($kvline);
          |$fmt = format_kv($d, ':', ';');
          |$who = string($d.role);
          |$rt = strptime(isodate($ts), '%Y-%m-%dT%H:%M:%S');
          |$iso2 = isodate($rt);""".stripMargin)
        .select("conv_id", "turn_idx", "fmt", "who", "iso2")
    }),

    // ================= §2.4 stateful/correlation =================
    "q_grouping_by" -> ((s, dir) => {
      Correlation.groupingBy(
        transcripts(s, dir),
        keys = Seq(col("conv_id")),
        ts = col("ts"),
        timeout = "8 hours",
        aggs = Seq(
          count(lit(1)).as("n_turns"),
          sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool_turns")),
        having = Some(col("n_turns") >= 2))
    }),

    // grouping-by sort-key() (grouping-parser.c:37-42,146): context values
    // order by the rendered sort key (stable — arrival tiebreak), NOT by
    // arrival; the arrival-order column rides along to prove they differ
    "q_grouping_by_sorted" -> ((s, dir) => {
      val sortOrd = struct(coalesce(col("role"), lit("")).as("sk"),
        col("turn_idx").as("ao"))
      Correlation.groupingBy(
        transcripts(s, dir),
        keys = Seq(col("conv_id")),
        ts = col("ts"),
        timeout = "8 hours",
        aggs = Seq(
          concat_ws(",",
            Correlation.Context.values(col("role"), sortOrd)).as("roles_sorted"),
          concat_ws(",",
            Correlation.Context.values(col("role"), col("turn_idx"))).as("roles_arrival"),
          count(lit(1)).as("n_turns")))
    }),

    "q_rate_limit" -> ((s, dir) => {
      Correlation.rateLimit(
        transcripts(s, dir),
        keys = Seq(col("role")),
        ts = col("ts"),
        bucket = "day",
        rate = 3,
        tieBreak = Seq(col("turn_idx"), col("conv_id")))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"))
    }),

    "q_suppress" -> ((s, dir) => {
      val sy = grokked(s, dir).filter(col("rule_id") === "syslog")
        .select(col("conv_id"), col("turn_idx"), col("ts"),
          f("host").as("host"), f("action").as("action"))
      Correlation.suppress(sy,
          key = Seq(col("host")), dupKey = col("action"), ts = col("ts"),
          intervalSeconds = 7200L,
          tieBreak = Seq(col("conv_id"), col("turn_idx")))
        .select(col("host"), col("action"), col("ts"), col("repeated"))
    }),

    "q_metrics_probe" -> ((s, dir) => {
      Correlation.metricsProbe(
        grokked(s, dir),
        stage = "parse",
        labels = Map("rule_id" -> col("rule_id"), "role" -> col("role")),
        increment = coalesce(f("duration_ms").cast("long"), lit(0L)))
    }),

    "q_context_funcs" -> ((s, dir) => {
      transcripts(s, dir)
        .groupBy(col("conv_id"))
        .agg(
          Correlation.Context.length.as("ctx_len"),
          concat_ws(",", array_sort(array_distinct(
            Correlation.Context.grep(col("tool").isNotNull, col("tool"), col("turn_idx"))))).as("tools_used"),
          concat_ws("|", slice(
            Correlation.Context.values(col("role"), col("turn_idx")), 1, 5)).as("first_roles"))
    }),

    // ================= corpus: embedding near-dup =================
    "q_dedup_embed" -> ((s, dir) => {
      // random-hyperplane LSH blocking (no crossJoin); exact-cosine verify.
      // 128 bits / 4-bit bands hold recall 1 vs the exact oracle on the sf
      // fixtures at this threshold (see Similarity scaladoc for the sizing
      // formula at real scale).
      Similarity.hyperplaneNearDupPairs(
        embeddings(s, dir), col("vec_id"), col("embedding"), threshold = 0.4)
    }),

    // embedding near-dup CLUSTERS over the viral-safe edge set (identical
    // vectors collapse to a representative before banding, star edges
    // carry the members) — components must equal exact-cosine CC
    "q_dedup_embed_clusters" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Dedup.resolveClusters(
        e.select(col("vec_id").as("member_id")),
        Similarity.embedNearDupEdges(e, col("vec_id"), col("embedding"),
          threshold = 0.4),
        "vec_a", "vec_b")
        .select(col("member_id"), col("cluster_id"))
    }),

    // composed end-to-end dedup: exact + near-dup pairs -> clusters ->
    // survivors-only corpus (the operation a training pipeline runs)
    "q_dedup_pipeline" -> ((s, dir) => {
      Dedup.dedupCorpus(documents(s, dir), col("doc_id"), col("text"))
    }),

    // shard-by-shard dedup against a persisted index: index the low-id
    // half, increment the high-id shard over it (the enforced monotone-id
    // contract's split) — the survivor set must be IDENTICAL to the batch
    // run, so it shares the batch ground-truth oracle
    "q_dedup_increment" -> ((s, dir) => {
      val d = documents(s, dir)
      val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
      val idx = Dedup.buildIndex(
        d.filter(col("doc_id") <= cut), col("doc_id"), col("text"))
      val (assign, _) = Dedup.dedupIncrement(
        d.filter(col("doc_id") > cut), col("doc_id"), col("text"), idx)
      d.join(
        assign.filter(col("member_id") === col("keep_id"))
          .select(col("member_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
    }),

    // pairs -> transitive duplicate clusters -> survivor per cluster
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pairs = Dedup.minhashLsh(docs, col("doc_id"), col("text"))
      Dedup.resolveClusters(
        docs.select(col("doc_id").as("member_id")), pairs, "doc_a", "doc_b")
    }),

    // quality-priority keeper: same clusters, but each keeps its LONGEST
    // member (word count, ties -> min id) instead of the min id — one
    // combinable min(struct) agg, no window
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pairs = Dedup.minhashLsh(docs, col("doc_id"), col("text"))
      val clusters = Dedup.resolveClusters(
        docs.select(col("doc_id").as("member_id")), pairs, "doc_a", "doc_b")
      val scored = docs.select(col("doc_id").as("member_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      Dedup.keepBest(clusters.join(scored, Seq("member_id")),
        col("cluster_id"), col("member_id"), col("n_words"))
        .select(col("cluster_id"), col("keep_id"),
          col("keep_score").cast("long").as("keep_score"), col("n_members"))
    }),

    // SOFT dedup: keep every doc, weight = n_members^-beta over the same
    // transitive clusters — reweight-instead-of-remove (SoftDedup shape)
    "q_dedup_soft" -> ((s, dir) => {
      Dedup.softDedup(documents(s, dir), col("doc_id"), col("text"), beta = 0.75)
        .select(col("doc_id"), col("cluster_id"), col("n_members"), col("weight"))
    }),

    // ================= §2.4 grouping =================
    "q_group_lines" -> ((s, dir) => {
      transcripts(s, dir)
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          concat_ws("\n",
            transform(array_sort(collect_list(struct(col("turn_idx"), col("text")))),
              x => x("text"))).as("joined"))
    }),

    // ================= corpus: dedup =================
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(documents(s, dir), col("doc_id"), col("text"))
    }),

    // cross-source subtraction: the reference corpus plants exact copies
    // (doc_id%10=3, verbatim text) and near copies (doc_id%10=7, first 75%
    // of words); verdicts are exact-computation booleans on both engines —
    // content-hash membership + representative-collapsed PPJoin Jaccard
    "q_dedup_subtract" -> ((s, dir) => {
      val d = documents(s, dir)
      val w = split(col("text"), " ")
      val refs = d.where(pmod(col("doc_id"), lit(10)) === 3)
        .select(col("text").as("rt"))
        .unionByName(d.where(pmod(col("doc_id"), lit(10)) === 7)
          .select(array_join(
            slice(w, lit(1),
              greatest(floor(size(w) * lit(3) / lit(4)).cast("int"), lit(1))),
            " ").as("rt")))
      Dedup.subtract(d, col("doc_id"), col("text"), refs, col("rt"))
        .select(col("doc_id"), col("sub_exact"), col("sub_near"), col("kept"))
    }),

    // Fixture similarity floor (measured): every Jaccard-qualifying pair in
    // the sf fixtures sits at j >= 0.889, far above the 0.5 threshold. With
    // 16 hashes in 8 bands of 2, P(miss) = (1 - j^2)^8 <= (0.21)^8 ~ 4e-6
    // per pair — and the md5-derived hash family is deterministic, so the
    // equality gate against the exact-pair oracle is stable, not sampled.
    // Pairs near the 0.5 boundary would need more hashes (the scaladoc
    // formula in Dedup.minhashLsh); the oracle would then check candidate
    // supersets + precision instead of set equality.
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLsh(documents(s, dir), col("doc_id"), col("text"),
        shingleK = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
    }),

    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(documents(s, dir), col("doc_id"), col("text"),
        shingleK = 3, threshold = 0.5)
    }),

    // conversation-level near-dup (cross-tier: transcripts × dedup) — the
    // multi-turn analog of document dedup: each conversation renders to
    // its turn texts in stable (conv_id, turn_idx) order, an md5-gated 25%
    // subset gets a planted near-clone (last turn line dropped), and the
    // EXACT prefix-filter pair API returns every pair at Jaccard ≥ 0.5
    // (exact, so no LSH-recall flake at the threshold boundary)
    "q_conv_dedup" -> ((s, dir) => {
      val conv = transcripts(s, dir)
        .groupBy(col("conv_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            x => x.getField("text")), "\n").as("conv_text"))
        .where(substring(md5(concat(lit("convsel:"), col("conv_id"))), 1, 8)
          < lit("40000000"))
      val lines = split(col("conv_text"), "\n")
      val clones = conv
        .where(size(lines) >= 4)
        .select(concat(lit("c:"), col("conv_id")).as("conv_id"),
          array_join(slice(lines, lit(1), size(lines) - 1), "\n").as("conv_text"))
      Dedup.ngramJaccardPairs(conv.unionByName(clones),
        col("conv_id"), col("conv_text"), shingleK = 3, threshold = 0.5)
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhash(documents(s, dir), col("doc_id"), col("text"), bits = 16)
    }),

    "q_dedup_simhash_pairs" -> ((s, dir) => {
      // pinned at the scale-sane 64/4 default: 16-bit band buckets keep the
      // candidate join linear-ish (see Dedup.simhashPairs sizing scaladoc)
      Dedup.simhashPairs(documents(s, dir), col("doc_id"), col("text"),
        bits = 64, bands = 4, maxHamming = 3)
    }),

    // SemDeDup inner step with the ground-truth clustering (the label
    // column): within-cluster pairwise cosine at the threshold — cluster-
    // equality hash join + residual filter on both engines. The trained-
    // quantizer end-to-end path (kmeans -> assign -> pairs -> CC ->
    // survivors) is CorpusSpec-proven (k=1 ≡ brute force; planted copies)
    "q_dedup_semantic" -> ((s, dir) => {
      Similarity.semanticNearDupPairs(
        embeddings(s, dir), col("vec_id"), col("embedding"), col("label"),
        threshold = 0.3)
    }),

    // ================= corpus: similarity search =================
    "q_embed_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.cosineTopK(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 3)
    }),

    "q_embed_ivf" -> ((s, dir) => {
      // trained coarse quantizer (deterministic spherical k-means) + probe
      // join; nprobe = kClusters makes the result exactly the brute-force
      // top-k, so the oracle can verify the whole train/assign/probe path.
      // Production uses small nprobe (recall/plan properties in CorpusSpec).
      val e = embeddings(s, dir)
      Similarity.ivfTopKTrained(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 3, kClusters = 8, nprobe = 8)
    }),

    // ================= corpus: text analysis =================
    "q_grouping_by_trigger" -> ((s, dir) => {
      // trigger(context-length == 3) closes every 3rd message within the
      // 1-hour-gap session (test_grouping_by.c semantics, batch shape)
      graft.operators.Correlation.groupingByTriggered(
        transcripts(s, dir), Seq(col("conv_id")), col("ts").cast("timestamp"),
        timeoutSeconds = 3600L, triggerCount = 3,
        aggs = Seq(count(lit(1)).as("n_turns"),
          min(col("turn_idx")).cast("int").as("first_turn")),
        tieBreak = Seq(col("turn_idx")))
    }),

    // salted decomposition of the same trigger blocks — row-identical
    // (shares q_grouping_by_trigger's oracle recompute), but no window
    // ever spans a whole conversation (north-rule hot-key escape hatch)
    "q_grouping_by_trigger_salted" -> ((s, dir) => {
      graft.operators.Skew.saltedGroupingByTriggered(
        transcripts(s, dir), Seq(col("conv_id")), col("ts").cast("timestamp"),
        timeoutSeconds = 3600L, triggerCount = 3,
        aggs = Seq(count(lit(1)).as("n_turns"),
          min(col("turn_idx")).cast("int").as("first_turn")),
        tieBreak = Seq(col("turn_idx")), sliceSeconds = 7200L)
    }),

    "q_patternize" -> ((s, dir) => {
      // SLCT log-pattern mining over the transcript lines: message
      // templates with infrequent word positions wildcarded (the pid/
      // duration/token positions collapse to @, the structural words stay)
      graft.operators.Patternize.clusters(
        transcripts(s, dir),
        concat_ws(":", col("conv_id"), col("turn_idx")),
        col("text"), support = 50L)
    }),

    "q_filter_matcher" -> ((s, dir) => {
      // matcher backends (type() + flags()) as scan-stage predicates
      import graft.filters.Filters.matcher
      documents(s, dir).select(col("doc_id"),
        matcher("en", "string")(col("lang")).as("is_en"),
        matcher("src1*", "glob")(col("source")).as("src_1x"),
        matcher("THE", "string", Set("substring", "ignore-case"))(col("text")).as("has_the"),
        matcher("src1", "string", Set("prefix"))(col("source")).as("src1_prefix"))
    }),

    "q_route_stats" -> ((s, dir) => {
      // named log paths: one aggregate over the compiled frame yields the
      // per-path ingress/egress counters (syslogng_route_*_total)
      val cfg = s"""
        source s { transcripts("$dir"); };
        parser p { db-parser(); };
        filter f_err { match("^(error|fail)$$" value("status")); };
        destination d1 { file("errs"); };
        log errors { source(s); parser(p); filter(f_err); destination(d1); };
        log all { source(s); };
      """
      graft.config.ConfigText.compile(s, cfg).routeStats
    }),

    "q_corpus_sample" -> ((s, dir) => {
      // deterministic stratified down-sampling: md5-threshold per stratum,
      // a pure scan-stage filter (no rand(), no sampleBy driver round-trip)
      graft.corpus.Sampling.sampleStratified(
        documents(s, dir), col("doc_id"), col("lang"),
        Map("en" -> 0.3, "de" -> 0.7))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // deterministic training-shard export assignment: md5-mod shard (id
    // distribution never skews shards), an INDEPENDENT md5 order key for
    // the within-shard shuffle, rank = one window per shard (parallelism =
    // shard count, the export's own unit)
    "q_corpus_shards" -> ((s, dir) => {
      graft.corpus.Export.shardAssignment(documents(s, dir), col("doc_id"), 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
    }),

    // takedown propagation: erasure requests (doc_id % 101 = 3 — a handful
    // of docs) arriving after a 32-shard export; output = the minimal
    // re-export (surviving rows of ONLY the affected shards, positions
    // re-ranked). Untouched shards never appear.
    "q_corpus_retract" -> ((s, dir) => {
      val docs = documents(s, dir)
      val takedowns = docs.where(pmod(col("doc_id"), lit(101)) === 3)
        .select(col("doc_id").as("rid"))
      graft.corpus.Export.retract(docs, col("doc_id"), takedowns, col("rid"), 32)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
    }),

    // domain-blocklist URL filter: hosts planted per doc_id%4 — two blocked
    // (exact + subdomain), one a LOOK-ALIKE suffix string that must survive
    // ("nottracker.net" is not ".tracker.net"), one clean; the anti-join is
    // a broadcast hash join on the registrable domain with the
    // equals-or-dot-suffix residual — no explode, no nested loop
    "q_corpus_urlfilter" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("ads.tracker.net"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit("sub.ads.tracker.net"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit("nottracker.net"))
          .otherwise(lit("docs.good.org")),
        lit("/p/"), col("doc_id").cast("string"))
      val block = Seq("tracker.net", "bad.example").toDF("domain")
      graft.corpus.Url.filterBlockedDomains(documents(s, dir), url, block, col("domain"))
        .select(col("doc_id"), col("url_host"))
    }),

    // temperature-flattened source mixing (mT5/Pile recipe): per-lang keep
    // rates r_s = min(1, target·q_s/n_s) with q_s ∝ (n_s/N)^(1/τ), decided
    // per row by the md5 threshold — rare languages keep more than the
    // uniform 0.5, the dominant one less
    "q_corpus_mixture" -> ((s, dir) => {
      graft.corpus.Sampling.temperatureMixture(
        documents(s, dir), col("doc_id"), col("lang"),
        temperature = 2.0, targetFraction = 0.5)
        .select(col("doc_id"), col("lang"), col("mix_rate"), col("mix_keep"))
    }),

    // DoReMi exponentiated-gradient step over the source enum: synthetic
    // per-doc excess-loss signal (log-based so no source MEAN can cancel
    // to exactly zero — a zero-mean source's residual is engine noise at
    // 1e-17, which 6-sig-fig rounding cannot absorb; negatives exercise
    // the zero clip), uniform prior — one combinable aggregate + driver
    // arithmetic, weights sum to 1
    "q_corpus_doremi" -> ((s, dir) => {
      graft.corpus.Sampling.doremiStep(
        documents(s, dir), col("source"),
        log((pmod(col("doc_id"), lit(13)) + lit(1)).cast("double")) / lit(2.0) - lit(0.86),
        eta = 1.0, smoothing = 0.01)
    }),

    // token-budget epoch up-sampling (LLaMA-style mixture stated in
    // tokens): the plan computes per-lang epochs from the measured token
    // mass, every doc emits floor(e) copies + a deterministic md5-decided
    // fractional copy; the cap never binds on these fixtures (the
    // water-filling branch is spec-pinned in CorpusSpec)
    "q_corpus_upsample" -> ((s, dir) => {
      val d = documents(s, dir)
      val toks = d.groupBy(col("lang"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("tk"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plan = graft.corpus.Sampling.epochPlan(
        toks, Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.1),
        budget = 60000L, maxEpochs = 50.0)
      graft.corpus.Sampling.upsampleEpochs(d, col("doc_id"), col("lang"), plan)
        .select(col("doc_id"), col("lang"), col("copy_idx"), col("n_epochs"))
    }),

    // key-skew profiler over the transcript conv ids: hottest keys, table
    // share, recommended salt count (ceil(n/target)) — the measurement
    // step in front of the salted operators
    "q_skew_profile" -> ((s, dir) => {
      graft.operators.Skew.profile(
        transcripts(s, dir), col("conv_id"), topK = 25, targetRowsPerTask = 3L)
    }),

    "q_corpus_vocab" -> ((s, dir) => {
      graft.corpus.Sampling.vocabulary(documents(s, dir), col("text"), 50)
    }),

    "q_text_stats" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("n_ws_tokens"),
        TextStats.bpeTokenEstimate(col("text")).as("n_bpe_tokens"),
        TextStats.stopwordRatio(col("text")).as("stop_ratio"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.isEnglish(col("text")).as("is_english"))
    }),

    "q_text_fingerprint" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fingerprint"))
    }),

    // URL-keyed dedup: deterministic planted URLs (two crawl-order/tracking
    // variants per page) must canonicalize to the same form — lowercased
    // authority, default port + www + fragment stripped, tracking params
    // dropped, query sorted — and keep the minimum doc per canonical URL
    "q_corpus_url_dedup" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW.Example"), col("source"),
        lit(".com:443/Path/"), pmod(col("doc_id"), lit(7)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/?utm_source=x&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      graft.corpus.Url.urlDedup(documents(s, dir), col("doc_id"), url)
        .select(col("doc_id"), col("canonical_url"), col("is_keeper"))
    }),

    // HTML→text extraction (the raw-WARC front door): deterministic page
    // fixtures wrap each doc's text in nav/comment/script/style/entity/
    // footer boilerplate; the jusText-shaped block classifier (length,
    // link-density, stopword-density) must recover exactly the main
    // paragraph and drop the chrome
    "q_warc_html" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc</title><script type=\"text/javascript\">var x = 1 < 2; // nav</script><style>.a{color:red}</style></head><body>"),
        lit("<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/about\">About&nbsp;Us</a> | <a href=\"/contact\">Contact</a></div>"),
        lit("<!-- boilerplate comment <p>not text</p> -->"),
        lit("<h1>Title "), col("doc_id").cast("string"), lit("</h1>"),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<p>Short &amp; sweet.</p>"),
        lit("<div class=\"related\">See also <a href=\"/1\">the first related article of the day</a> and <a href=\"/2\">the second one that is linked</a></div>"),
        lit("<div class=\"footer\">&copy; 2026 <a href=\"/legal\">Legal</a></div></body></html>"))
      documents(s, dir)
        .select(col("doc_id"), graft.corpus.HtmlText.extract(html).as("__x"))
        .select(col("doc_id"),
          col("__x").getField("n_blocks").as("n_blocks"),
          col("__x").getField("n_good").as("n_good"),
          col("__x").getField("text").as("text"))
    }),

    // the composed curation pipeline (the corpus analog of the flagship
    // parse→enrich→route→aggregate): URL dedup → near-dup dedup among URL
    // keepers → Gopher quality gate → perplexity gate → PII redaction →
    // leakage-safe split, one AUDIT row per INPUT doc. URLs are planted as
    // crawl-variant PAIRS (2k and 2k+1 differ only in tracking params /
    // fragment / trailing slash), so url keepers are exactly the even ids
    // and every later stage runs over a genuine survivor subset
    "q_corpus_curate" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW.Example.com:443/Page/"),
        (col("doc_id") - pmod(col("doc_id"), lit(2))).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/?utm_source=x&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      graft.corpus.Curate.curate(documents(s, dir), col("doc_id"), col("text"),
        url, col("lang"), targetLang = "en", ceCap = 1.13)
    }),

    // leakage-safe train/valid/test split: the split key is the NEAR-DUP
    // CLUSTER id (minhash-LSH -> CC), so duplicate groups never straddle
    // splits — a near-copy of a training doc cannot leak into test
    "q_corpus_split" -> ((s, dir) => {
      val d = documents(s, dir)
      val clusters = Dedup.resolveClusters(
        d.select(col("doc_id").as("member_id")),
        Dedup.minhashLsh(d, col("doc_id"), col("text")), "doc_a", "doc_b")
      clusters.select(col("member_id"), col("cluster_id"),
        graft.corpus.Sampling.splitLabel(col("cluster_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    // DSIR importance resampling toward the English slice: hashed
    // uni+bigram bucket models for target/source, per-doc log importance
    // weight, deterministic md5-Gumbel top-k selection — model broadcasts,
    // corpus never shuffles, boundary via distributed top-k (no global rank)
    "q_corpus_dsir" -> ((s, dir) => {
      val d = documents(s, dir)
      graft.corpus.Dsir.select(d, col("doc_id"), col("text"),
        d.filter(col("lang") === "en"), col("text"), k = 100, buckets = 512)
        .select(col("doc_id"), col("log_weight"), col("n_feats"),
          col("gumbel"), col("selected"))
    }),

    // CCNet-shaped perplexity gate: char-trigram counts trained on the
    // English slice, every doc scored by add-α cross-entropy — the model
    // broadcasts to both score joins, the candidate corpus never shuffles
    "q_text_perplexity" -> ((s, dir) => {
      val d = documents(s, dir)
      val model = graft.corpus.LanguageModel.charNgramCounts(
        d.filter(col("lang") === "en"), col("text"), n = 3)
      graft.corpus.LanguageModel.crossEntropy(
        d, col("doc_id"), col("text"), model, n = 3)
        .select(col("doc_id"), col("cross_entropy"), col("n_grams"), col("perplexity"))
    }),

    // CCNet head/middle/tail buckets under CALIBRATED cutoff constants
    // (the production shape: a cutoff file computed once per language —
    // LanguageModel.perplexityCutoffs — applied corpus-wide as a
    // scan-stage CASE on the 6-sig-fig-rounded score)
    "q_text_buckets" -> ((s, dir) => {
      val d = documents(s, dir)
      val model = graft.corpus.LanguageModel.charNgramCounts(
        d.filter(col("lang") === "en"), col("text"), n = 3)
      graft.corpus.LanguageModel.perplexityBuckets(
        d, col("doc_id"), col("text"), model, n = 3, cutoffs = (1.11, 1.14))
        .select(col("doc_id"), col("cross_entropy"), col("n_grams"), col("bucket"))
    }),

    // per-language corpus datasheet: one combinable hash agg — docs,
    // tokens, Gopher-gate pass rate, exact-duplicate ratio. Every 11th doc
    // is replaced by a fixed banner so the dup columns are non-trivial
    "q_corpus_datasheet" -> ((s, dir) => {
      val t = when(pmod(col("doc_id"), lit(11)) === 0,
        lit("duplicate banner page please accept cookies")).otherwise(col("text"))
      TextStats.datasheet(documents(s, dir),
        source = col("lang"),
        words = TextStats.wsTokenCount(t),
        quality = TextStats.gopherQuality(t).getField("pass"),
        contentHash = Dedup.contentHash(t))
    }),

    // NEAR-dup paragraph removal: every doc gets a unique paragraph (its
    // own 60-char prefix) + a boilerplate banner in one of 3 VARIANTS
    // (doc_id%3 changes the trailing version word — exact dedup can't see
    // these as equal, J≈0.83 shingle overlap can); the one big cluster
    // keeps only its globally-first member (doc 0's banner), every other
    // page loses the banner and keeps its unique text
    "q_dedup_paragraphs" -> ((s, dir) => {
      val p0 = substring(col("text"), 1, 60)
      val p1 = concat(
        lit("cookie consent banner please accept our terms and privacy policy version v"),
        pmod(col("doc_id"), lit(3)).cast("string"))
      val page = concat(p0, lit("\n\n"), p1)
      graft.corpus.SpanDedup.nearDedupSpans(
        documents(s, dir).withColumn("__page", page),
        col("doc_id"), graft.corpus.SpanDedup.paragraphSpans(col("__page"), "\n\n"),
        delim = "\n\n")
        .select(col("doc_id"), col("text_clean"), col("n_spans"), col("n_dropped"))
    }),

    // linear quality classifier APPLY path (training is spec-verified —
    // iterative GD floats aren't oracle-stable): closed-form weights
    // w[j] = (j%7)/7.0 − 0.4 over the 512-bucket dsir feature space, score
    // = σ(bias + mean bucket weight) — a pure scan-stage expression
    "q_text_classifier" -> ((s, dir) => {
      val buckets = 512
      val w = Array.tabulate(buckets)(j => (j % 7) / 7.0 - 0.4)
      val model = graft.corpus.Classifier.Model(w, bias = 0.1, buckets = buckets)
      documents(s, dir).select(col("doc_id"),
        graft.corpus.Classifier.score(col("text"), model).as("score"))
    }),

    // PII scrub: every doc gets a deterministic planted email/IP/SSN/card/
    // phone tail in BOTH engines; every second card Luhn-validates, so the
    // n_cc vs n_cc_luhn split proves the checksum, and the redacted text
    // itself is hash-compared
    "q_pii_redact" -> ((s, dir) => {
      val cc = when(pmod(col("doc_id"), lit(2)) === 0,
        lit("4539 1488 0343 6467")).otherwise(lit("4539 1488 0343 6468"))
      val t2 = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0.1 ssn 123-45-6789 card "), cc,
        lit(" phone (555) 867-5309 alt 212-555-0123"))
      val d = graft.corpus.Pii.detect(t2)
      documents(s, dir).select(col("doc_id"),
        graft.corpus.Pii.redact(t2).as("redacted"),
        d.getField("n_email").as("n_email"),
        d.getField("n_ipv4").as("n_ipv4"),
        d.getField("n_ssn").as("n_ssn"),
        d.getField("n_phone").as("n_phone"),
        d.getField("n_cc").as("n_cc"),
        d.getField("n_cc_luhn").as("n_cc_luhn"))
    }),

    // consistent pseudonymization: the same address/IP (emails
    // case-insensitive) maps to the same md5-derived stand-in within and
    // across documents — coreference preserved where redaction erases it;
    // fixture plants a per-doc email + shared email + per-doc IP + shared IP
    "q_pii_pseudonym" -> ((s, dir) => {
      val t2 = concat(col("text"),
        lit(" from User"), col("doc_id").cast("string"),
        lit("@Example.COM and ops@shared.org at 192.168."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7 or 8.8.8.8"))
      documents(s, dir).select(col("doc_id"),
        graft.corpus.Pii.pseudonymize(t2).as("pseudo"))
    }),

    // composite Gopher quality rules (non-repetition subset): planted
    // variants exercise the short-doc / bullet-line / ellipsis-line gates
    // in BOTH engines; all signals are scan-stage builtins
    "q_text_gopher" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val t2 = when(m === 1, lit("too short"))
        .when(m === 2, concat(lit("- bullet one\n- bullet two\n"), col("text")))
        .when(m === 3, concat(col("text"), lit(" trailing dots...\nanother line...")))
        .otherwise(col("text"))
      documents(s, dir)
        .select(col("doc_id"), explode(array(TextStats.gopherQuality(t2))).as("g"))
        .select(col("doc_id"),
          col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_line_frac").as("bullet_line_frac"),
          col("g.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("g.alpha_word_frac").as("alpha_word_frac"),
          col("g.stopword_hits").as("stopword_hits"),
          col("g.pass").as("pass"))
    }),

    // C4 line+page cleaning rules over a deterministically PLANTED page
    // (documents carry no line structure): line 1 always survives and
    // carries 5 sentence marks, line 2 lacks terminal punctuation, line 3
    // is under 3 words, line 4 is the javascript boilerplate on doc_id%5=0,
    // line 5 plants brace + lorem ipsum on doc_id%7=0; 'vector' in the
    // word salad exercises the bad-word page gate on natural data
    "q_text_c4" -> ((s, dir) => {
      val page = concat_ws("\n",
        concat(substring(col("text"), 1, 80), lit(". Yes. It is. Good. Fine.")),
        lit("no terminal punctuation here"),
        lit("Ok."),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("Please enable JavaScript to view the comments."))
          .otherwise(lit("another good sentence right here!")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("config { lorem ipsum }"))
          .otherwise(lit("is this the final word?")))
      documents(s, dir)
        .select(col("doc_id"),
          explode(array(TextStats.c4(page, badWords = Seq("vector", "quartz")))).as("c"))
        .select(col("doc_id"),
          col("c.clean_text").as("clean_text"),
          col("c.n_lines").as("n_lines"),
          col("c.n_lines_kept").as("n_lines_kept"),
          col("c.n_sentences").as("n_sentences"),
          col("c.has_lorem_ipsum").as("has_lorem_ipsum"),
          col("c.has_brace").as("has_brace"),
          col("c.has_bad_word").as("has_bad_word"),
          col("c.pass").as("pass"))
    }),

    // repetition signals (Gopher rule family): the documents carry no line
    // structure, so the query PLANTS it deterministically in both engines
    // (duplicate lines — q twice; duplicate single-line paragraphs — p
    // twice) on top of the naturally repetitive word stream. The
    // explode(array(..)) wrap is a Generate barrier: without it
    // CollapseProject would inline the struct expression into one copy per
    // extracted field and the one-pass expression would run 9×
    "q_text_repetition" -> ((s, dir) => {
      val p = substring(col("text"), 1, 40)
      val q = substring(col("text"), 21, 30)
      val nl = lit("\n")
      val t2 = concat(p, nl, q, nl, q, nl, nl, p, nl, nl, p, nl, nl, col("text"))
      documents(s, dir)
        .select(col("doc_id"), explode(array(TextStats.repetition(t2))).as("r"))
        .select(col("doc_id"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.dup_line_char_frac").as("dup_line_char_frac"),
          col("r.dup_para_frac").as("dup_para_frac"),
          col("r.dup_para_char_frac").as("dup_para_char_frac"),
          col("r.top_2gram_char_frac").as("top_2gram_char_frac"),
          col("r.top_3gram_char_frac").as("top_3gram_char_frac"),
          col("r.top_4gram_char_frac").as("top_4gram_char_frac"),
          col("r.dup_5gram_char_frac").as("dup_5gram_char_frac"),
          col("r.dup_10gram_char_frac").as("dup_10gram_char_frac"),
          TextStats.repetitionPass(col("r")).as("pass"))
    }),

    // benchmark decontamination: the "benchmark" is every 17th doc's text,
    // so contamination hits are guaranteed and both engines derive the
    // same eval set; posting join on shingle md5s, text never shuffles
    "q_contamination" -> ((s, dir) => {
      val d = documents(s, dir)
      val bench = d.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("bid"), col("text").as("btext"))
      graft.corpus.Sampling.contamination(
        d, col("doc_id"), col("text"),
        bench, col("bid"), col("btext"), shingleK = 8, minHits = 2)
    }),

    // memorization audit (contamination in reverse, per eval doc): a
    // planted eval set where every 50th doc is a verbatim 40-word slice of
    // a corpus doc (novelty -> 0) and the rest are synthetic questions no
    // corpus 8-gram can match (novelty = 1.0); corpus side never shuffles
    // (scan-stage shingle hashes map-side-joined against the broadcast
    // bench postings)
    "q_corpus_novelty" -> ((s, dir) => {
      val d = documents(s, dir)
      val bench = d.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id").as("bid"),
          when(pmod(col("doc_id"), lit(50)) === 0,
            array_join(slice(split(col("text"), " "), 1, 40), " "))
            .otherwise(concat(
              lit("wholly novel benchmark question number "),
              col("doc_id").cast("string"),
              lit(" with answer choices alpha bravo charlie delta echo " +
                "foxtrot golf hotel india juliet"))).as("btext"))
      graft.corpus.Sampling.noveltyAudit(
        d, col("doc_id"), col("text"), bench, col("bid"), col("btext"),
        shingleK = 8)
    }),

    // span-level dedup: every 5th doc gets a 16-word boilerplate span
    // prepended in BOTH engines; dedupSpans must strip any 16-word window
    // shared by >= 2 distinct docs (the plant AND any organic repeats) from
    // every document and reassemble the rest in order — only span-hash
    // postings ever shuffle, the corpus text never does
    "q_dedup_spans" -> ((s, dir) => {
      val d = documents(s, dir).withColumn("text2",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(SPAN_BOILER + " "), col("text"))).otherwise(col("text")))
      graft.corpus.SpanDedup.dedupSpans(
        d, col("doc_id"),
        graft.corpus.SpanDedup.windowSpans(col("text2"), 16),
        delim = " ", minDocs = 2)
        .select(col("doc_id"), col("text_clean"), col("n_spans"), col("n_dropped"))
    }),

    // exact-substring dedup (Lee et al. ExactSubstr, word-window grain):
    // the same boilerplate plant as q_dedup_spans, but SLIDING 8-word
    // windows with keep-globally-first semantics — the first planted doc
    // keeps the boilerplate, every later one loses exactly those words,
    // and any organic cross/within-doc 8-word repeat is handled identically
    // in both engines
    "q_dedup_exact_substr" -> ((s, dir) => {
      val d = documents(s, dir).withColumn("text2",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(SPAN_BOILER + " "), col("text"))).otherwise(col("text")))
      graft.corpus.SpanDedup.exactSubstrDedup(
        d, col("doc_id"), col("text2"), windowWords = 8, minCount = 2)
        .select(col("doc_id"), col("text_clean"), col("n_words"), col("n_removed"))
    }),

    // token-budget document packing: per-shard window cumsum packing with
    // deterministic shard/order keys — the sequence-packing step of a
    // tokenized-shard writer
    "q_corpus_pack" -> ((s, dir) => {
      graft.corpus.Sampling.packByBudget(
        documents(s, dir).select(col("doc_id"),
          TextStats.wsTokenCount(col("text")).as("n_tokens")),
        shard = pmod(col("doc_id"), lit(4)),
        size = col("n_tokens"), order = col("doc_id"), budget = 512L)
        .select(col("doc_id"), col("shard").cast("int").as("shard"),
          col("pack_id").cast("int").as("pack_id"), col("pack_pos"))
    }),

    // pack ASSEMBLY: assignments -> one row per training sequence with the
    // ordered member ids and the cross-doc attention boundary offsets
    // [0, l1, l1+l2, ...]; arrays are comma-joined for the parity compare
    // (the operator itself returns real arrays)
    "q_corpus_pack_asm" -> ((s, dir) => {
      val packed = graft.corpus.Sampling.packByBudget(
        documents(s, dir).select(col("doc_id"),
          TextStats.wsTokenCount(col("text")).as("n_tokens")),
        shard = pmod(col("doc_id"), lit(4)),
        size = col("n_tokens"), order = col("doc_id"), budget = 512L)
      graft.corpus.Sampling.assemblePacks(packed,
        col("shard"), col("pack_id"), col("pack_pos"),
        col("doc_id"), col("n_tokens"), budget = 512L)
        .select(col("shard").cast("int").as("shard"),
          col("pack_id").cast("int").as("pack_id"), col("n_docs"),
          array_join(transform(col("doc_ids"), x => x.cast("string")), ",")
            .as("doc_ids"),
          array_join(transform(col("boundaries"), x => x.cast("string")), ",")
            .as("boundaries"),
          col("total_tokens"), col("utilization"))
    }),

    // context-length chunking with overlap: chunk i covers words
    // [i*20, i*20+24) — pure index arithmetic, scan-stage explode, no
    // shuffle; short docs emit themselves whole
    "q_corpus_chunks" -> ((s, dir) => {
      graft.corpus.Sampling.chunkByWords(
        documents(s, dir).select(col("doc_id"), col("text")),
        col("text"), chunkWords = 24, overlapWords = 4)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("chunk_words"))
    }),

    // best-fit-decreasing packing: strict-capacity packs (never overrun,
    // unlike the cumsum next-fit above); sequential per shard, parallel
    // across shards — the oracle replays the same largest-first best-fit
    // rules as a recursive CTE
    "q_corpus_pack_bfd" -> ((s, dir) => {
      graft.corpus.Sampling.packByBudgetBfd(
        documents(s, dir).select(col("doc_id"),
          TextStats.wsTokenCount(col("text")).as("n_tokens")),
        shard = pmod(col("doc_id"), lit(4)),
        size = col("n_tokens"), order = col("doc_id"), budget = 512L)
        .select(col("doc_id"), col("shard").cast("int").as("shard"),
          col("pack_id").cast("int").as("pack_id"), col("pack_pos"))
    }),

    // multi-class language ID over planted per-language rows: doc_id % 8
    // deterministically rewrites the text to a known-language snippet in
    // BOTH engines (0 keeps the original English-like docs), and langId
    // must recover the plant — marker argmax for Latin scripts, script-
    // range ratios for cyrillic/CJK/kana
    "q_text_lang" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(8))
      val planted =
        when(m === 1, lit("der Mann ist nicht mit dem Auto und ich das für"))
          .when(m === 2, lit("le monde est dans la vie et les gens que je vous"))
          .when(m === 3, lit("el mundo es para los que no se con una por"))
          .when(m === 4, lit("il mondo che di per non sono della anche come"))
          .when(m === 5, lit("русский текст для проверки языка"))
          .when(m === 6, lit("这是一个中文测试文本"))
          .when(m === 7, lit("これはにほんごのテストです"))
          .otherwise(col("text"))
      documents(s, dir).select(col("doc_id"),
        TextStats.langId(planted).as("lang"))
    }),

    // ================= corpus: multimodal =================
    // real image roundtrip: a genuine PNG/JPEG/GIF payload is encoded from
    // the ground-truth geometry, then the header-only decode must recover
    // it (n_bytes is encoder-dependent, so the oracle checks the geometry)
    "q_multimodal_meta" -> ((s, dir) => {
      Multimodal.decode(Multimodal.withPayload(documents(s, dir), "text"))
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
    }),

    // real WAV/AIFF payloads (RIFF/FORM containers, PCM-16, 80-bit
    // extended-float AIFF rate): the header-only chunk walk must recover
    // the geometry the oracle re-derives from the text
    "q_multimodal_audio" -> ((s, dir) => {
      Multimodal.decodeAudio(Multimodal.withAudioPayload(documents(s, dir), "text"))
        .select(col("doc_id"),
          col("audio_meta.container").as("container"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.n_frames").as("n_frames"),
          col("audio_meta.duration_ms").as("duration_ms"),
          col("audio_meta.n_bytes").as("n_bytes"))
    }),

    // MP4 box-tree header decode: deterministic ISO-BMFF payloads (real
    // ftyp/moov/mvhd/tkhd boxes the walk must actually parse), geometry
    // derived from text in both engines; mdat is never read
    "q_multimodal_video" -> ((s, dir) => {
      Multimodal.decodeVideo(Multimodal.withVideoPayload(documents(s, dir), "text"))
        .select(col("doc_id"),
          col("video_meta.container").as("container"),
          col("video_meta.timescale").as("timescale"),
          col("video_meta.duration_ticks").as("duration_ticks"),
          col("video_meta.duration_ms").as("duration_ms"),
          col("video_meta.width").as("width"),
          col("video_meta.height").as("height"),
          col("video_meta.n_bytes").as("n_bytes"))
    }),

    // real raster resize: decode → bilinear scale to an integer-exact
    // bounded geometry → re-encode; a SECOND header decode of the re-encoded
    // payload must report the target geometry the oracle recomputes
    "q_multimodal_resize" -> ((s, dir) => {
      val decoded = Multimodal.decode(Multimodal.withPayload(documents(s, dir), "text"))
      Multimodal.decode(Multimodal.resize(decoded, maxSide = 24).drop("meta"))
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
    }),

    // salted two-phase variant — row-identical to q_group_lines but the
    // hot-conversation work spreads over many reducers (north-rule skew)
    "q_group_lines_salted" -> ((s, dir) => {
      graft.operators.Skew.saltedGroupLines(
        transcripts(s, dir), col("conv_id"), col("turn_idx"), col("text"),
        sliceSize = 16)
    }),

    // multi-line reassembly: each user turn starts a new exchange block,
    // assistant/system/tool turns are its continuation lines
    "q_multiline" -> ((s, dir) => {
      Correlation.multiLine(
        transcripts(s, dir),
        key = col("conv_id"), order = col("turn_idx"), text = col("text"),
        isStart = col("role") === "user")
    }),

    // group-lines FSM: indented mode over synthesized indentation (every
    // 3rd turn starts a message; others indent as continuations)
    "q_multiline_indented" -> ((s, dir) => {
      val t = transcripts(s, dir).withColumn("line",
        when(pmod(col("turn_idx"), lit(3)) === 0, col("text"))
          .otherwise(concat(lit("    "), col("text"))))
      Correlation.groupLines(t, key = col("conv_id"), order = col("turn_idx"),
        text = col("line"), mode = Correlation.Indented)
    }),

    // patterndb rule actions: synthetic message per closed context with
    // context-mode inheritance (last non-null value per inherited column)
    "q_synthetic_close" -> ((s, dir) => {
      Correlation.syntheticMessages(
        transcripts(s, dir), Seq(col("conv_id")), col("ts"), "8 hours",
        col("turn_idx"), inheritMode = "context",
        inheritCols = Seq("role", "tool"),
        values = Seq(count(lit(1)).as("n_turns")))
    }),

    // patterndb action rate(N/quantum): the reference's token bucket
    // (patterndb.c _is_action_within_rate_limit) gating action firings per
    // correlation key — rate 2 per day over each conversation's turns;
    // exact fixed-point refill arithmetic on both engines
    "q_patterndb_rate" -> ((s, dir) => {
      Correlation.actionRateLimit(
        transcripts(s, dir).select("conv_id", "turn_idx", "ts", "role"),
        keys = Seq(col("conv_id")),
        ts = col("ts").cast("timestamp"),
        rate = 2, quantumSeconds = 86400,
        tieBreak = Seq(col("turn_idx")))
    }),

    // salted variants of the hot-key windowed operators: row-identical to
    // their unsalted counterparts (checked against the SAME oracles), but
    // no task ever owns a whole hot conversation (Skew order-aligned
    // slicing; VERDICT r1 item 7)
    "q_grouping_by_salted" -> ((s, dir) => {
      Skew.saltedSessionize(
        transcripts(s, dir), Seq(col("conv_id")), col("ts"),
        timeoutSeconds = 8L * 3600L,
        aggs = Seq(
          count(lit(1)).as("n_turns"),
          sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool_turns")),
        having = Some(col("n_turns") >= 2),
        sliceSeconds = 86400L)
    }),

    "q_suppress_salted" -> ((s, dir) => {
      val sy = grokked(s, dir).filter(col("rule_id") === "syslog")
        .select(col("conv_id"), col("turn_idx"), col("ts"),
          f("host").as("host"), f("action").as("action"))
      Skew.saltedSuppress(sy,
          key = Seq(col("host")), dupKey = col("action"), ts = col("ts"),
          intervalSeconds = 7200L,
          tieBreak = Seq(col("conv_id"), col("turn_idx")),
          sliceSeconds = 14400L)
        .select(col("host"), col("action"), col("ts"), col("repeated"))
    }),

    "q_multiline_salted" -> ((s, dir) => {
      Skew.saltedMultiLine(
        transcripts(s, dir),
        key = col("conv_id"), order = col("turn_idx"), text = col("text"),
        isStart = col("role") === "user", sliceSize = 16)
    }),

    // BPE first-iteration merge candidates: corpus-wide adjacent
    // character-pair frequencies (the distributed counting step behind
    // Bpe.train, whose merge LOOP is spec-verified); deterministic top-20
    // via TakeOrdered with a lexicographic tiebreak
    "q_corpus_bpe_pairs" -> ((s, dir) => {
      val words = documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .where(length(col("w")) >= 2)
      words
        .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => substring(col("w"), i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(20)
    }),

    // fill-in-the-middle objective prep: md5-gated ~50% of docs reorder to
    // the PSM layout with content-derived char cut points; the rest pass
    // through — pure scan-stage string arithmetic
    "q_corpus_fim" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        graft.corpus.Objectives.fim(col("text"), col("doc_id"), rate = 0.5)
          .as("fim_text"))
    }),

    // T5 span corruption: aligned 3-word blocks mask at 15% with
    // sequential <extra_id_k> sentinels; input/target/n_masked from ONE
    // aggregate fold per row
    "q_corpus_spancorrupt" -> ((s, dir) => {
      val sc = graft.corpus.Objectives.spanCorrupt(
        col("text"), col("doc_id"), blockWords = 3, maskRate = 0.15)
      documents(s, dir).select(col("doc_id"),
        sc.getField("input").as("t5_input"),
        sc.getField("target").as("t5_target"),
        sc.getField("n_masked").as("n_masked"))
    }),

    // WordPiece trainer scoring (first iteration over the full corpus):
    // likelihood score freq/(count(l)·count(r)) per adjacent symbol pair,
    // ##-prefixed continuations — ranking DIFFERS from raw pair frequency
    // (the q_corpus_bpe_pairs criterion); the score is one IEEE division
    // of exact ints, so the top-k order is engine-stable without rounding
    "q_corpus_wordpiece" -> ((s, dir) => {
      val words = documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      graft.corpus.WordPiece.pairScores(words, col("w"))
        .orderBy(col("score").desc, col("left_sym").asc, col("right_sym").asc)
        .limit(20)
    }),

    // per-source curation funnel: the attrition table a dataset report
    // publishes — docs surviving each gate of the composed pipeline,
    // grouped by language; one combinable aggregate over the audit frame
    "q_corpus_funnel" -> ((s, dir) => {
      val d = documents(s, dir)
      val url = concat(lit("HTTPS://WWW.Example.com:443/Page/"),
        (col("doc_id") - pmod(col("doc_id"), lit(2))).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/?utm_source=x&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      val audit = graft.corpus.Curate.curate(d, col("doc_id"), col("text"),
        url, col("lang"), targetLang = "en", ceCap = 1.13)
      audit.join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("url_keeper").cast("long")).as("n_url"),
          sum((col("url_keeper") && col("dedup_keeper")).cast("long")).as("n_dedup"),
          sum((col("url_keeper") && col("dedup_keeper") && col("quality_pass"))
            .cast("long")).as("n_quality"),
          sum(col("kept").cast("long")).as("n_kept"))
    }),

    // the composed web ACQUISITION policy — what a crawler-side pipeline
    // decides per fetched page: canonical-URL dedup (crawl-variant pairs)
    // -> per-domain cap among URL keepers -> robots fetch policy ->
    // meta-robots opt-out; kept = the conjunction. The Spark side runs
    // the REAL operators (canonicalize/domainCap/Robots/HtmlText); the
    // oracle is the planted GROUND TRUTH they must recover (each
    // extraction path separately has its full relational oracle)
    "q_corpus_webpolicy" -> ((s, dir) => {
      val d = documents(s, dir)
      val pageId = col("doc_id") - pmod(col("doc_id"), lit(2))
      val k2 = pmod(pageId, lit(5))
      val pr = pmod((pageId / lit(2)).cast("long"), lit(4))
      val domain = concat(lit("d"), k2.cast("string"), lit(".com"))
      // page-unique path suffix keeps canonical URLs unique per PAGE, so
      // the url keepers are exactly the even ids of each crawl pair
      val path = concat(
        when(pr === 0, "/private/x").when(pr === 1, "/private/ok/y")
          .when(pr === 2, "/public/z").otherwise(lit("/other")),
        lit("/p"), pageId.cast("string"))
      val url = concat(lit("HTTPS://WWW.D"), k2.cast("string"), lit(".com:443"),
        path,
        when(pmod(col("doc_id"), lit(2)) === 0, lit("?utm_source=x&b=2&a=1#frag"))
          .otherwise(lit("?a=1&b=2")))
      val meta = when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<meta name=\"robots\" content=\"index, noai\">"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          lit("<meta content=\"noindex\" name=\"robots\">"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit("<meta name=\"robots\" content=\"all\">"))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), meta, lit("</head><body><p>"),
        col("text"), lit("</p></body></html>"))

      val base = d.select(col("doc_id"), col("text"), url.as("__url"),
        domain.as("__dom"), path.as("__path"), html.as("__html"))
      // stage 1: canonical-URL keeper
      val withUrl = graft.corpus.Url
        .urlDedup(base, col("doc_id"), col("__url"))
        .withColumnRenamed("is_keeper", "url_keeper")
      // stage 2: per-domain cap among URL keepers only
      val capped = graft.corpus.Url.domainCap(
        withUrl.where(col("url_keeper")), col("doc_id"), col("__url"),
        length(col("text")).cast("double"), cap = 30)
        .select(col("doc_id"), col("cap_keeper"))
      // stage 3: robots fetch policy for graftbot (the q_corpus_robots rules)
      val doms = d.select(pmod(col("doc_id"), lit(5)).cast("int").as("k")).distinct()
      val robotsTxt = concat(
        lit("# graft robots fixture\nUser-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow:\n"),
        when(pmod(col("k"), lit(2)) === 0,
          lit("\nUser-agent: graftbot\nUser-agent: otherbot\nDisallow: /\nAllow: /public\n"))
          .otherwise(lit("")))
      val rules = graft.corpus.Robots.parse(
        doms.select(concat(lit("d"), col("k").cast("string"), lit(".com")).as("domain"),
          robotsTxt.as("txt")), col("domain"), col("txt"))
      val allowed = graft.corpus.Robots.allowed(
        withUrl, col("doc_id"), col("__dom"), col("__path"), rules, "graftbot")
        .select(col("id").as("doc_id"), col("allowed").as("robots_allowed"))
      // stage 4: meta-robots opt-out + the final conjunction
      withUrl
        .join(capped, Seq("doc_id"), "left")
        .join(allowed, Seq("doc_id"))
        .withColumn("cap_keeper", coalesce(col("cap_keeper"), lit(false)))
        .withColumn("opted_out", graft.corpus.HtmlText.optedOut(col("__html")))
        .withColumn("kept",
          col("url_keeper") && col("cap_keeper") && col("robots_allowed") &&
            !col("opted_out"))
        .select(col("doc_id"), col("url_keeper"), col("cap_keeper"),
          col("robots_allowed"), col("opted_out"), col("kept"))
    }),

    // sentence segmentation + Flesch-Kincaid readability (the edu-quality
    // band): lookaround-free sentence regex, vowel-group syllable
    // estimate, grade formula over single exact-integer divisions
    "q_text_readability" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextStats.readability(col("text")).as("__r"))
        .select(col("doc_id"), col("__r.n_sentences"), col("__r.n_words"),
          col("__r.n_syllables"), col("__r.fk_grade"))
    }),

    // contrastive training triplets: near-dup positives (both directions)
    // + deterministic md5-bucket negatives — the embedding-model training
    // set, no cross join anywhere
    "q_corpus_contrastive" -> ((s, dir) => {
      Similarity.contrastivePairs(documents(s, dir), col("doc_id"), col("text"),
        buckets = 64)
    }),

    // dedup threshold calibration: candidate pairs at a low floor (0.3),
    // bucketed by exact jaccard decile — the table an engineer reads to
    // pick the production threshold; bucket compares are on the same
    // single-division doubles in both engines
    "q_dedup_sweep" -> ((s, dir) => {
      // graded-overlap plants: every %4 doc gets a variant holding its
      // first 30..90% of words, spreading exact jaccard across buckets
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val nw = size(split(col("text"), " "))
      val keep = (nw * (lit(3) + pmod(col("doc_id"), lit(7))) / 10).cast("int")
      val variants = d.where(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + lit(200000L)).as("doc_id"),
          array_join(slice(split(col("text"), " "), lit(1), greatest(keep, lit(3))), " ")
            .as("text"))
      val pairs = Dedup.ngramJaccardPairs(d.unionByName(variants),
        col("doc_id"), col("text"), shingleK = 3, threshold = 0.3)
      val bucket = when(col("jaccard") >= 0.9, "0.9")
        .when(col("jaccard") >= 0.8, "0.8").when(col("jaccard") >= 0.7, "0.7")
        .when(col("jaccard") >= 0.6, "0.6").when(col("jaccard") >= 0.5, "0.5")
        .when(col("jaccard") >= 0.4, "0.4").otherwise(lit("0.3"))
      pairs.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_pairs"))
    }),

    // language-ID confusion matrix: the evaluation table for the
    // classifier — planted ground-truth labels vs langId predictions,
    // one combinable (actual, predicted) count
    "q_text_lang_confusion" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(8))
      val planted =
        when(m === 1, lit("der Mann ist nicht mit dem Auto und ich das für"))
          .when(m === 2, lit("le monde est dans la vie et les gens que je vous"))
          .when(m === 3, lit("el mundo es para los que no se con una por"))
          .when(m === 4, lit("il mondo che di per non sono della anche come"))
          .when(m === 5, lit("русский текст для проверки языка"))
          .when(m === 6, lit("这是一个中文测试文本"))
          .when(m === 7, lit("これはにほんごのテストです"))
          .otherwise(col("text"))
      val actual =
        when(m === 1, "de").when(m === 2, "fr").when(m === 3, "es")
          .when(m === 4, "it").when(m === 5, "ru").when(m === 6, "zh")
          .when(m === 7, "ja").otherwise(lit("en"))
      documents(s, dir)
        .select(actual.as("actual"), TextStats.langId(planted).as("predicted"))
        .groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }),

    // perceptual audio hash: REAL PCM sample-body decode (RIFF LE / AIFF
    // BE), 33 integer-exact envelope windows, 32 comparison bits — the
    // oracle recomputes every window mean from the fixture's sample
    // formula
    "q_multimodal_audiohash" -> ((s, dir) => {
      Multimodal.audioEnvelopeHash(
        Multimodal.withAudioPayload(documents(s, dir), "text"))
        .select(col("doc_id"), col("ahash"))
    }),

    // perceptual image hash (dHash 9x8) over REAL decoded PNGs: gradient
    // fixtures whose pixel formula the oracle recomputes arithmetically;
    // %3 docs carry a local top-left-corner edit (wrap-add 40)
    "q_multimodal_dhash" -> ((s, dir) => {
      val d = documents(s, dir)
        .withColumn("__pert", pmod(col("doc_id"), lit(3)) === 0)
      Multimodal.dHash(Multimodal.withGradientPng(d, "text", "__pert"))
        .select(col("doc_id"), col("dhash"))
    }),

    // near-dup image pairs: banded hamming join over the dHashes — docs
    // sharing a geometry class have identical gradients (hamming 0 to the
    // unperturbed ones); the corner-edited variants land a small positive
    // distance away and must still be caught
    "q_multimodal_dhash_pairs" -> ((s, dir) => {
      val d = documents(s, dir)
        .where(col("doc_id") < 60) // bound the identical-hash pair blowup
        .withColumn("__pert", pmod(col("doc_id"), lit(3)) === 0)
      val hashes = Multimodal.dHash(Multimodal.withGradientPng(d, "text", "__pert"))
      // 8 bands: pigeonhole guarantees a shared band for hamming <= 7, so
      // banded recall is EXACT at maxHamming 6 and the oracle's full
      // pairwise recompute is the correct reference
      Multimodal.dhashPairs(hashes, col("doc_id"), col("dhash"),
        maxHamming = 6, bands = 8)
    }),

    // robots.txt fetch policy: parse per-domain robots bodies (comments,
    // consecutive user-agent groups, empty-value no-ops) and evaluate
    // every URL for agent "graftbot" — agent groups shadow '*', longest
    // matching path wins, allow beats disallow on ties
    "q_corpus_robots" -> ((s, dir) => {
      val doms = documents(s, dir)
        .select(pmod(col("doc_id"), lit(5)).cast("int").as("k")).distinct()
      val txt = concat(
        lit("# graft robots fixture\nUser-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow:\n"),
        when(pmod(col("k"), lit(2)) === 0,
          lit("\nUser-agent: graftbot\nUser-agent: otherbot\nDisallow: /\nAllow: /public\n"))
          .otherwise(lit("")))
      val robots = doms.select(
        concat(lit("d"), col("k").cast("string"), lit(".com")).as("domain"),
        txt.as("txt"))
      val rules = graft.corpus.Robots.parse(robots, col("domain"), col("txt"))
      val urls = documents(s, dir).select(col("doc_id"),
        concat(lit("d"), pmod(col("doc_id"), lit(5)).cast("string"), lit(".com")).as("domain"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("/private/x"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit("/private/ok/y"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit("/public/z"))
          .otherwise(lit("/other")).as("path"))
      graft.corpus.Robots.allowed(urls, col("doc_id"), col("domain"),
        col("path"), rules, "graftbot")
    }),

    // markdown/code structure stats: headings, fence pairs, list items,
    // links, the code-likeness vote — planted structure varies by doc_id
    // residue; one scan pass of portable regex counts
    "q_text_markdown" -> ((s, dir) => {
      val md = concat(
        lit("# Title\n"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("## Sub\n")).otherwise(lit("")),
        lit("- item one\n- item two\n"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("```\nint x = f(a);\ny = g(b);\nz = h(c);\nif (x) { y(); }\n```\n"))
          .otherwise(lit("")),
        lit("[link](https://x.example)\n"), col("text"))
      documents(s, dir)
        .select(col("doc_id"), TextStats.markdownStats(md).as("__m"))
        .select(col("doc_id"), col("__m.n_lines"), col("__m.n_headings"),
          col("__m.n_code_fences"), col("__m.n_list_items"), col("__m.n_links"),
          col("__m.code_like"), col("__m.heading_ratio"))
    }),

    // directed containment pairs (the asymmetric overlap Jaccard misses):
    // planted quote pages (first 12 words of every %10 doc, offset ids)
    // must be flagged as contained in their source at C >= 0.8 while the
    // long side stays unflagged; containment is a single exact-integer
    // division, so the gate is engine-bit-identical
    "q_dedup_containment" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val quotes = d.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
      Dedup.containmentPairs(d.unionByName(quotes), col("doc_id"), col("text"),
        shingleK = 3, threshold = 0.8)
    }),

    // TF-IDF keyword extraction: top-5 distinctive terms per doc against
    // corpus document frequencies; scores 6-sig-fig-rounded BEFORE the
    // rank so a 1-ulp ln() difference cannot flip neighbors
    "q_text_keywords" -> ((s, dir) => {
      TextStats.tfidfKeywords(documents(s, dir), col("doc_id"), col("text"), k = 5)
    }),

    // training JSONL rendering (the interchange line format): fixed key
    // order, standard escapes proven by planted quotes/backslash/newline —
    // both engines must produce byte-identical lines
    "q_corpus_jsonl" -> ((s, dir) => {
      val spiced = concat(col("text"), lit(" \"quoted\\path\"\nline2"))
      documents(s, dir).select(col("doc_id"),
        graft.corpus.Export.jsonlLine(
          "id" -> col("doc_id"), "source" -> col("source"),
          "text" -> spiced).as("line"))
    }),

    // near-dup cluster-size histogram (the release report's dedup
    // section): power-of-two buckets over the resolved clusters, integer
    // comparisons only — two combinable aggregates, viral-group safe
    "q_dedup_histogram" -> ((s, dir) => {
      val d = documents(s, dir)
      val clusters = Dedup.resolveClusters(
        d.select(col("doc_id").as("member_id")),
        Dedup.minhashLsh(d, col("doc_id"), col("text")), "doc_a", "doc_b")
      Dedup.clusterStats(clusters)
    }),

    // compliance signals on the HTML front door: robots meta directives
    // (both attribute orders), the noai/noindex opt-out decision, and
    // CC-license link extraction — planted per doc_id residue; all
    // scan-stage expressions
    "q_corpus_optout" -> ((s, dir) => {
      val meta = when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<meta name=\"robots\" content=\"index, noai\">"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          lit("<meta content=\"noindex\" name=\"robots\">"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit("<meta name=\"robots\" content=\"all\">"))
        .otherwise(lit(""))
      val lic = when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<a href=\"https://creativecommons.org/licenses/by-sa/4.0/\">CC</a>"))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          lit("<a href=\"https://creativecommons.org/licenses/by/3.0/\">CC</a>"))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), meta, lit("</head><body><p>"),
        col("text"), lit("</p>"), lic, lit("</body></html>"))
      documents(s, dir).select(col("doc_id"),
        graft.corpus.HtmlText.robotsDirectives(html).as("robots"),
        graft.corpus.HtmlText.optedOut(html).as("opted_out"),
        graft.corpus.HtmlText.ccLicense(html).as("license"))
    }),

    // corpus snapshot diff: the release-to-release change report —
    // old = docs except the %5==4 slice, new = docs except %5==0 with a
    // planted edit on %7==0; statuses must land removed/added/changed/
    // unchanged exactly; only (id, hash) pairs ever shuffle
    "q_corpus_diff" -> ((s, dir) => {
      val d = documents(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(5)) =!= 4)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("__t",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.corpus.Export.snapshotDiff(
        old, col("doc_id"), col("text"), cur, col("doc_id"), col("__t"))
    }),

    // per-source exemplar rows (the datasheet's "examples" column):
    // k docs per source whose seeded md5 sorts first — deterministic,
    // position-unbiased, one streaming window per stratum
    "q_corpus_exemplars" -> ((s, dir) => {
      graft.corpus.Sampling.exemplars(
        documents(s, dir).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), k = 5)
    }),

    // SFT sequence assembly with loss-mask spans: one row per
    // conversation — rendered `role: text` sequence + the [start:end)
    // char spans of assistant TEXT (prefix masked out), the masking rule
    // an SFT trainer consumes; one window + one group-by on the same key
    "q_sft_masked" -> ((s, dir) => {
      graft.transcripts.Sft.lossMaskedSequence(transcripts(s, dir))
    }),

    // ================= web-graph tier =================
    // href extraction + per-link destination-host resolution over fixture
    // pages: one absolute link, one protocol-relative, one path-relative,
    // one fragment-only — the resolved registrable domains must land on
    // other{k}.org / example.net / the page's own example{source}.com
    "q_web_links" -> ((s, dir) => {
      val page = concat(lit("https://www.example"), col("source"),
        lit(".com/p/"), col("doc_id").cast("string"))
      val html = concat(
        lit("<p>Intro</p><a href=\"https://www.Other"),
        pmod(col("doc_id"), lit(5)).cast("string"), lit(".org/x\">abs</a>"),
        lit("<a href=\"//cdn"), pmod(col("doc_id"), lit(3)).cast("string"),
        lit(".Example.net/y\">proto</a>"),
        lit("<a href=\"/relative/path\">rel</a>"),
        lit("<a href=\"#frag\">frag</a>"))
      val hrefs = graft.corpus.WebGraph.links(html)
      documents(s, dir).select(col("doc_id"),
        size(hrefs).as("n_links"),
        array_join(array_sort(array_distinct(transform(hrefs, h =>
          graft.corpus.WebGraph.registrableDomain(
            graft.corpus.WebGraph.linkHost(page, h))))), ",").as("dst_domains"))
    }),

    // PageRank over a deterministic 17-node registrable-domain graph
    // (edge existence gated on doc_id arithmetic so degrees are irregular
    // and d13-d16.com are dangling): 3 power iterations with uniform
    // dangling-mass redistribution, oracle unrolled as 3 SQL CTE rounds
    "q_web_pagerank" -> ((s, dir) => {
      graft.corpus.WebGraph.pagerank(
        webGraphEdges(documents(s, dir)), iterations = 3, damping = 0.85)
    }),

    // domain rank joined back onto every document as a curation signal —
    // the ranks frame is graph-sized, so the join broadcasts and the
    // corpus side never shuffles
    "q_web_importance" -> ((s, dir) => {
      val d = documents(s, dir)
      val ranks = graft.corpus.WebGraph.pagerank(
        webGraphEdges(d), iterations = 3, damping = 0.85)
      graft.corpus.WebGraph.importance(d, col("doc_id"),
        concat(lit("https://www.d"), pmod(col("doc_id"), lit(13)).cast("string"),
          lit(".com/p/"), col("doc_id").cast("string")),
        ranks)
    }),

    // aggregated anchor text: what the web calls each target domain — the
    // top-k anchor phrasings per destination by frequency (inner tags
    // stripped, whitespace collapsed; relative/self links dropped); count
    // keyed (dst, anchor), window only over the counted vocabulary
    "q_web_anchors" -> ((s, dir) => {
      val k4 = pmod(col("doc_id"), lit(4)).cast("string")
      val html = concat(
        lit("<a href=\"https://www.target"), k4,
        lit(".org/x\">Read <b>the</b> article</a>"),
        lit("<a href=\"https://www.target"), k4,
        lit(".org/y\">visit site "), pmod(col("doc_id"), lit(2)).cast("string"),
        lit("</a>"),
        lit("<a href=\"https://www.target"), k4,
        lit(".org/z\">"), col("source"), lit(" news</a>"),
        lit("<a href=\"/nav\">Home</a>"))
      val anchors = graft.corpus.WebGraph.anchorTexts(documents(s, dir),
        lit("https://www.example.com/p"), html)
      graft.corpus.WebGraph.topAnchors(anchors, k = 3)
    }),

    // per-domain quota cap (RefinedWeb/FineWeb shape): planted domains are
    // skewed (one mega-domain holding half the corpus, a mid tier, a long
    // tail) and at most 10 docs per domain survive, best-first by length
    "q_corpus_domcap" -> ((s, dir) => {
      val dom = when(pmod(col("doc_id"), lit(4)) < 2, lit("mega.com"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("mid"), pmod(col("doc_id"), lit(3)).cast("string"), lit(".org")))
        .otherwise(
          concat(lit("tail"), pmod(col("doc_id"), lit(50)).cast("string"), lit(".net")))
      val url = concat(lit("https://www."), dom, lit("/p/"), col("doc_id").cast("string"))
      graft.corpus.Url.domainCap(documents(s, dir), col("doc_id"), url,
          length(col("text")).cast("double"), cap = 10)
        .select(col("doc_id"), col("domain"), col("domain_rank"), col("cap_keeper"))
    }),

    // ================= relational baseline =================
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    })
  )

  def oracleSql: Map[String, String] = {
    val base = oracleBase
    // salted variants must match the exact same recompute as their
    // unsalted counterparts — same oracle, different Spark plan
    base ++ Seq("q_grouping_by", "q_suppress", "q_multiline")
      .map(q => s"${q}_salted" -> base(q))
  }

  private def oracleBase: Map[String, String] = Map(
    "q_transcripts" -> Transcripts.oracle(
      "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts"),

    "q_conv_quality" -> Transcripts.oracle(
      """SELECT conv_id,
           count(*)::bigint AS n_turns,
           sum((role = 'assistant')::int)::bigint AS n_assistant,
           sum((role = 'tool')::int)::bigint AS n_tool,
           avg(length(text)) AS mean_turn_chars,
           date_diff('second', min(ts), max(ts))::bigint AS span_seconds,
           sum((role = 'assistant')::int)::double / count(*)::double AS assistant_frac,
           (count(*) >= 4 AND
            sum((role = 'assistant')::int)::double / count(*)::double >= 0.2 AND
            avg(length(text)) >= 10.0) AS pass
         FROM transcripts GROUP BY conv_id"""),

    "q_sft_pairs" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           coalesce(string_agg(role || ': ' || text, chr(10))
             OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '') AS context,
           text AS target,
           count(*) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)::bigint
             AS n_context_turns
         FROM transcripts
         QUALIFY role = 'assistant'"""),

    "q_parse_syslog" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('host-', cast(hostnum AS varchar)) AS host,
           concat('prog-', cast(prognum AS varchar)) AS prog,
           pid, pri, action, status
         FROM transcripts_full WHERE variant = 0"""),

    "q_parse_errors" -> Transcripts.oracle(
      "SELECT conv_id, turn_idx, text FROM transcripts_full WHERE variant = 4"),

    "q_parse_cisco" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, pri,
           concat('host-', cast(hostnum AS varchar)) AS host,
           cast(turn_idx AS varchar) AS seqid,
           concat('F', cast(prognum AS varchar)) AS fac,
           cast(sev AS varchar) AS sevp,
           upper(action) AS mnem,
           make_timestamp(2019, mon_num, dd, hh, mi,
                          cast(ss AS double) + (duration_ms % 1000) / 1000.0) AS ts_parsed,
           concat('%F', cast(prognum AS varchar), '-', cast(sev AS varchar), '-',
                  upper(action), ': status ', status) AS msg
         FROM transcripts_full"""),

    "q_parse_syslog_hdr" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, pri,
           concat('host-', cast(hostnum AS varchar)) AS host,
           concat('prog-', cast(prognum AS varchar)) AS prog,
           cast(pid AS varchar) AS pid,
           concat('action=', action, ' status=', status) AS msg,
           make_timestamp(2019, mon_num, dd, hh, mi, cast(ss AS double)) AS ts_parsed
         FROM transcripts_full WHERE variant = 0"""),

    "q_template_cef" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('note=t\=', cast(turn_idx AS varchar), ' of conv role=', role) AS cef,
           concat('id=', conv_id,
                  ' .cef.bad key=', role,
                  ' .cef.note="t=', cast(turn_idx AS varchar), ' of conv"',
                  ' .cef.role=', role,
                  ' msg="turn ', cast(turn_idx AS varchar), '"',
                  ' other=', role) AS welf,
           printf('%.3f', CAST(year(ts) AS double) + floor(
             CAST(floor(epoch(ts)) - epoch(date_trunc('year', ts)) AS double)
             / (CASE WHEN (year(ts)%4=0 AND year(ts)%100<>0) OR year(ts)%400=0
                     THEN 31622400 ELSE 31536000 END) * 1000) / 1000) AS sdate
         FROM transcripts"""),

    "q_filterx" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, role,
           CASE WHEN role = 'tool' THEN 'T'
                WHEN length(text) > 60 THEN 'long' ELSE 'short' END AS kind,
           CAST(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS bigint) AS is_tool,
           concat('{"role":"', role, '","kind":"',
             CASE WHEN role = 'tool' THEN 'T'
                  WHEN length(text) > 60 THEN 'long' ELSE 'short' END,
             '","n":', cast(length(text) AS varchar), '}') AS meta,
           CASE WHEN regexp_matches(text, 'error') THEN 'err' ELSE 'ok' END AS flag,
           lower(hex(role)) AS bhex,
           cast(octet_length(encode(text)) AS bigint) AS blen,
           concat('{"r":"', to_base64(encode(role)), '","k":"',
             CASE WHEN role = 'tool' THEN 'T'
                  WHEN length(text) > 60 THEN 'long' ELSE 'short' END,
             '"}') AS bjson
         FROM transcripts WHERE role <> 'system'"""),

    "q_filterx_cmp" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           CAST(CASE WHEN turn_idx > 2 THEN 1 ELSE 0 END AS bigint) AS gt_str,
           CAST(0 AS bigint) AS nan_eq,
           CAST(1 AS bigint) AS nan_ne,
           CAST(CASE WHEN turn_idx > 0 THEN 1 ELSE 0 END AS bigint) AS null_gt,
           CAST(0 AS bigint) AS null_eq,
           CAST(CASE WHEN role < 'tool' THEN 1 ELSE 0 END AS bigint) AS str_lt,
           CAST(CASE WHEN role = 'user' THEN 1 ELSE 0 END AS bigint) AS str_eq,
           CAST(1 AS bigint) AS tv_ne,
           CASE WHEN tool IS NOT NULL AND length(tool) > 0 THEN tool ELSE 'none' END AS fb
         FROM transcripts"""),

    "q_filterx_json" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.event') AS evt,
           CAST(json_extract_string(text, '$.tokens') AS bigint) AS tokens,
           json_extract_string(text, '$.status') AS status,
           CAST(CASE WHEN CAST(json_extract_string(text, '$.tokens') AS bigint) > 200
                THEN 1 ELSE 0 END AS bigint) AS big,
           regexp_extract(text, '"status":"(\w+)"', 1) AS st2
         FROM transcripts WHERE text LIKE '{%'"""),

    "q_filterx_kv" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('role:', role, ';idx:', turn_idx) AS fmt,
           role AS who,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso2
         FROM transcripts"""),

    "q_parse_kv" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, 'tool_call' AS event,
           coalesce(tool, 'none') AS tool_field, duration_ms, okflag AS ok
         FROM transcripts_full WHERE variant = 1"""),

    "q_parse_json" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, 'turn' AS event, role AS role_j, tokens, status
         FROM transcripts_full WHERE variant = 2"""),

    "q_parse_csv" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, conv_id AS c_conv, turn_idx AS c_turn,
           role AS c_role, latency_ms
         FROM transcripts_full WHERE variant = 3"""),

    "q_parse_csv_quoted" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, conv_id AS c1,
           concat(role, ', "x"') AS c2, turn_idx AS c3,
           concat('tail with, commas ', conv_id) AS c4
         FROM transcripts"""),

    "q_parse_kv_quoted" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat(role, ' says "hi"') AS msg,
           conv_id AS conv, turn_idx AS idx,
           concat('free text ', coalesce(tool, 'none')) AS note,
           'alpha' AS stray
         FROM transcripts"""),

    "q_parse_date" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           make_timestamp(2026, mon_num, dd, hh, mi, ss) AS event_ts
         FROM transcripts_full WHERE variant = 0"""),

    "q_parse_rfc5424" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           cast((turn_idx * 7 + 11) % 192 AS int) AS pri, 1 AS version,
           date_trunc('milliseconds', ts) AS ts5424,
           'host-x' AS host, role AS app, '77' AS procid,
           concat('ID', cast(turn_idx AS varchar)) AS msgid,
           'graft@1' AS sdata_id, conv_id AS sd_conv,
           coalesce(tool, 'none') AS sd_tool,
           concat('msg for ', conv_id) AS msg
         FROM transcripts"""),

    "q_parse_audit" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, 'EXEC' AS rec_type,
           cast(100 + turn_idx % 89 AS int) AS uid, role AS cmd, 'success' AS res
         FROM transcripts"""),

    "q_parse_snmptrapd" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('host-', conv_id) AS hostname,
           concat('UDP: [10.1.2.3]:', cast(33000 + turn_idx % 1000 AS varchar),
                  '->[10.9.9.9]:162') AS transport,
           CASE WHEN turn_idx % 2 = 1
                THEN concat('iso.3.6.1.4.1.8072.2.3.', cast(turn_idx AS varchar)) END
             AS enterprise_oid,
           CASE WHEN turn_idx % 2 = 1 THEN 'Enterprise Specific Trap' END AS trap_type,
           CASE WHEN turn_idx % 2 = 1 THEN concat('.', cast(turn_idx % 32 AS varchar)) END
             AS subtype,
           CASE WHEN turn_idx % 2 = 1 THEN '18:41:07.83' END AS uptime,
           role AS role_vb,
           CASE WHEN turn_idx % 2 = 0 THEN coalesce(tool, 'none') END AS tool_vb,
           CASE WHEN turn_idx % 2 = 0 THEN cast(turn_idx AS varchar) END AS gauge_vb,
           CASE WHEN turn_idx % 2 = 1 THEN cast(turn_idx AS varchar) END AS int_vb,
           date_trunc('second', ts) AS snmp_stamp,
           'snmptrapd' AS program
         FROM transcripts"""),

    "q_parse_xml" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, role AS role_x, turn_idx AS latency,
           coalesce(tool, '-') AS note
         FROM transcripts"""),

    "q_parse_tags" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           array_to_string(list_sort(list_concat([role, 't0'],
             CASE WHEN tool IS NULL THEN [] ELSE [tool] END)), ',') AS tag_str
         FROM transcripts"""),

    "q_parse_patterndb" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           CASE variant WHEN 0 THEN 'pdb-syslog' WHEN 1 THEN 'pdb-kv'
                        WHEN 2 THEN 'pdb-json' WHEN 3 THEN 'pdb-csv' END AS rule_id,
           CASE WHEN variant = 0 THEN cast(pri AS bigint) END AS pri,
           CASE WHEN variant = 0 THEN action END AS action,
           CASE WHEN variant IN (0,2) THEN status END AS status,
           CASE WHEN variant = 1 THEN 'tool_call' WHEN variant = 2 THEN 'turn' END AS event,
           CASE WHEN variant = 1 THEN coalesce(tool, 'none') END AS tool_field,
           CASE WHEN variant = 1 THEN cast(duration_ms AS bigint) END AS duration_ms,
           CASE WHEN variant = 1 THEN okflag END AS ok,
           CASE WHEN variant = 2 THEN role END AS role_j,
           CASE WHEN variant = 2 THEN cast(tokens AS bigint) END AS tokens,
           CASE WHEN variant = 3 THEN cast(turn_idx AS bigint) END AS cturn,
           CASE WHEN variant = 3 THEN role END AS crole,
           CASE WHEN variant = 3 THEN cast(latency_ms AS bigint) END AS clat
         FROM transcripts_full"""),

    "q_patterndb_typed" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('10.', cast(turn_idx % 256 AS varchar), '.',
                  cast((turn_idx * 7) % 256 AS varchar), '.',
                  cast((turn_idx * 13) % 256 AS varchar)) AS src_ip,
           concat(printf('%02x', turn_idx % 256), ':', printf('%02x', (turn_idx * 3) % 256), ':',
                  printf('%02x', (turn_idx * 5) % 256), ':', printf('%02x', (turn_idx * 7) % 256), ':',
                  printf('%02x', (turn_idx * 11) % 256), ':', printf('%02x', (turn_idx * 13) % 256)) AS mac,
           concat('u', cast(turn_idx AS varchar), '@ex',
                  cast(turn_idx % 10 AS varchar), '.com') AS from_addr,
           concat('h', cast(turn_idx AS varchar), '.example.org') AS hostn,
           CASE WHEN turn_idx % 3 = 0 THEN ' ' ELSE '' END AS pad,
           cast(concat(cast(turn_idx AS varchar), '.', cast(turn_idx % 100 AS varchar),
                       'e-', cast(turn_idx % 9 AS varchar)) AS double) AS score,
           concat('role=(', role, ')') AS qmsg,
           concat('tail-', conv_id) AS rest
         FROM transcripts"""),

    "q_filter_pri" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           CASE fac WHEN 3 THEN 'daemon' WHEN 4 THEN 'auth' WHEN 9 THEN 'cron' WHEN 10 THEN 'authpriv' END AS facility,
           CASE sev WHEN 0 THEN 'emerg' WHEN 1 THEN 'alert' WHEN 2 THEN 'crit' WHEN 3 THEN 'err' WHEN 4 THEN 'warning' END AS severity
         FROM transcripts_full WHERE variant = 0 AND sev <= 4 AND fac IN (3,4,9,10)"""),

    "q_filter_cmp" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, duration_ms
         FROM transcripts_full WHERE variant = 1 AND duration_ms > 999"""),

    "q_filter_glob_inlist" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('host-', cast(hostnum AS varchar)) AS host,
           concat('prog-', cast(prognum AS varchar)) AS prog, action
         FROM transcripts_full
         WHERE variant = 0 AND prognum IN (0,2,4) AND action IN ('login','logout')"""),

    "q_enrich_geoip" -> Transcripts.oracle(
      s"""SELECT conv_id, turn_idx,
           concat('10.', cast(fac AS varchar), '.', cast(sev AS varchar), '.',
                  cast(pid % 256 AS varchar)) AS ip,
           g.country_iso AS geoip2_country_iso, g.city AS geoip2_city,
           g.latitude AS geoip2_latitude, g.longitude AS geoip2_longitude
         FROM transcripts_full
         LEFT JOIN (${graft.enrich.GeoIp.rangesSql}) g
           ON (167772160 + fac*65536 + sev*256 + (pid % 256)) // 65536
                = g.net_start // 65536
          AND 167772160 + fac*65536 + sev*256 + (pid % 256)
              BETWEEN g.net_start AND g.net_end
         WHERE variant = 0"""),
    // ^ the /16-bucket equality mirrors the Spark-side bucket join AND
    // keeps DuckDB on a hash join — its IE_JOIN can spin unboundedly on
    // this pattern after memory-heavy recursive-CTE queries in the same
    // connection (observed with the dedup oracles preceding this one)

    "q_filter_netmask" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('10.', cast(fac AS varchar), '.', cast(sev AS varchar), '.', cast(pid % 256 AS varchar)) AS ip
         FROM transcripts_full WHERE variant = 0 AND fac = 4"""),

    "q_filter_netmask6" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('2001:db8:', lower(printf('%x', fac)), '::',
                  lower(printf('%x', pid % 256))) AS ip6
         FROM transcripts_full WHERE variant = 0 AND fac = 4"""),

    "q_store_matches" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           regexp_extract_all(text, '(\d+)', 1)[1] AS m1,
           cast(len(regexp_extract_all(text, '(\d+)', 1)) AS int) AS n_matches,
           0 AS after_unset
         FROM transcripts"""),

    "q_rewrite_subst" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           regexp_replace(text, '\d+', '#') AS d_first,
           regexp_replace(text, '\d+', '#', 'g') AS d_global
         FROM transcripts"""),

    "q_rewrite_tags" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           CASE WHEN variant = 4 THEN 'msg.parse_error'
                WHEN variant IN (0,2) THEN 'has_status'
                WHEN variant = 1 THEN 'kv_line'
                ELSE '' END AS tag_str
         FROM transcripts_full"""),

    "q_enrich" -> Transcripts.oracle(
      s""", lk AS (SELECT * FROM ${ContextualData.lookupSqlValues})
         , dflt AS (SELECT team AS d_team, cost_class AS d_cost, max_severity AS d_max
                    FROM lk WHERE selector = 'default')
         SELECT t.conv_id, t.turn_idx,
           coalesce(h.team, d.d_team) AS team,
           coalesce(h.cost_class, d.d_cost) AS cost_class,
           coalesce(h.max_severity, d.d_max) AS max_severity
         FROM transcripts t
         LEFT JOIN lk h ON h.selector = coalesce('tool:' || t.tool, 'role:' || t.role)
         CROSS JOIN dflt d"""),

    "q_route" -> Transcripts.oracle(
      s"""SELECT conv_id, turn_idx, 'all' AS sink FROM transcripts_full
         UNION ALL SELECT conv_id, turn_idx, 'tool_calls' FROM transcripts_full WHERE $R_TOOL
         UNION ALL SELECT conv_id, turn_idx, 'errors' FROM transcripts_full WHERE $R_ERR
         UNION ALL SELECT conv_id, turn_idx, 'fallback' FROM transcripts_full WHERE NOT ($R_TOOL OR $R_ERR)"""),

    "q_sink_counts" -> Transcripts.oracle(
      s""", routed AS (
           SELECT 'all' AS sink, role, tool, ts FROM transcripts_full
           UNION ALL SELECT 'tool_calls', role, tool, ts FROM transcripts_full WHERE $R_TOOL
           UNION ALL SELECT 'errors', role, tool, ts FROM transcripts_full WHERE $R_ERR
           UNION ALL SELECT 'fallback', role, tool, ts FROM transcripts_full WHERE NOT ($R_TOOL OR $R_ERR)
         )
         SELECT sink, role, coalesce(tool, 'none') AS tool,
                date_trunc('hour', ts) AS bucket, count(*) AS n
         FROM routed GROUP BY 1, 2, 3, 4"""),

    "q_rewrite_set_unset_rename" -> Transcripts.oracle(
      """SELECT conv_id AS conversation_id, turn_idx,
           concat(role, ':', coalesce(tool, '-')) AS status_text,
           CASE WHEN role = 'system' THEN upper(text) ELSE text END AS text
         FROM transcripts"""),

    "q_rewrite_set_pri" -> Transcripts.oracle(
      """, p0 AS (SELECT conv_id, turn_idx, status, action, fac * 8 + sev AS pri
                  FROM transcripts_full WHERE variant = 0)
         , p1 AS (SELECT conv_id, turn_idx, action,
                    CASE WHEN status = 'error' THEN (pri // 8) * 8 + 2 ELSE pri END AS pri FROM p0)
         , p2 AS (SELECT conv_id, turn_idx, action,
                    CASE WHEN action = 'login' THEN 32 + pri % 8 ELSE pri END AS pri FROM p1)
         SELECT conv_id, turn_idx,
           cast(CASE WHEN action = 'exec' THEN 100 ELSE pri END AS int) AS pri FROM p2"""),

    "q_rewrite_groupset" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx, role, 'redacted' AS tool,
           'redacted' AS meta_a, 'redacted' AS meta_b
         FROM transcripts"""),

    "q_value_pairs" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('sd.action=', action,
                  ',sd.host=host-', cast(hostnum AS varchar),
                  ',sd.prog=prog-', cast(prognum AS varchar)) AS pairs
         FROM transcripts_full WHERE variant = 0"""),

    "q_template_eval" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('<', cast(fac * 8 + sev AS varchar), '>host-', cast(hostnum AS varchar),
                  ' prog-', cast(prognum AS varchar), '[', cast(pid AS varchar), ']: action=',
                  action, ' note=none ',
                  (['kern','user','mail','daemon','auth','syslog','lpr','news',
                    'uucp','cron','authpriv','ftp','ntp','security','console',
                    'solaris-cron','local0','local1','local2','local3','local4',
                    'local5','local6','local7'])[fac + 1], '.',
                  (['emerg','alert','crit','err','warning','notice','info','debug'])[sev + 1]) AS line,
           concat(strftime(ts, '%Y-%m-%d %H:%M:%S'), ' @',
                  cast(floor(epoch(ts)) AS bigint)) AS "when"
         FROM transcripts_full WHERE variant = 0"""),

    "q_template_iterate" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           cast(100 + 5 * (row_number() OVER (PARTITION BY conv_id
                                              ORDER BY turn_idx) - 1)
                AS varchar) AS acc
         FROM transcripts"""),

    "q_template_macros" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat(strftime(ts, '%b'), ' ', lpad(cast(day(ts) AS varchar), 2, ' '), ' ',
                  strftime(ts, '%H:%M:%S'), '|',
                  strftime(ts, '%Y'), ' ', strftime(ts, '%b'), ' ',
                  lpad(cast(day(ts) AS varchar), 2, ' '), ' ', strftime(ts, '%H:%M:%S'), '|',
                  strftime(ts, '%Y-%m-%dT%H:%M:%S'), '+00:00') AS stamps,
           concat(strftime(ts, '%j'), ' ', strftime(ts, '%B'), ' ',
                  cast(day(ts) // 7 + (CASE WHEN dayofweek(ts) > 0
                                            AND day(ts) % 7 >= dayofweek(ts)
                                       THEN 1 ELSE 0 END) AS varchar), ' ',
                  lpad(cast((dayofyear(ts) - 1 - (dayofweek(ts) - 1 + 7) % 7 + 7) // 7
                       AS varchar), 2, '0'), ' ',
                  lpad(cast(weekofyear(ts) AS varchar), 2, '0'), ' ',
                  cast(dayofweek(ts) + 1 AS varchar), ' ', strftime(ts, '%A')) AS weeks,
           concat(strftime(ts, '%I%p'), ' ',
                  lpad(cast((epoch_us(ts) % 1000000) // 1000 AS varchar), 3, '0'), ' ',
                  lpad(cast(epoch_us(ts) % 1000000 AS varchar), 6, '0'), ' +00:00') AS clock,
           concat(lpad(printf('%x', pri), 2, '0'), ' ',
                  cast(sev AS varchar), chr(65 + fac), ' ',
                  'prog-', cast(prognum AS varchar), '[', cast(pid AS varchar), ']: ') AS tagging,
           concat(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '+00:00|',
                  cast(floor(epoch(ts)) AS bigint), '|', strftime(ts, '%Y')) AS bases,
           concat('localhost/127.0.0.1:0#', cast(length(text) AS varchar)) AS origin
         FROM transcripts_full WHERE variant = 0"""),

    "q_template_funcs" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat(upper(role), '|', cast(turn_idx + 1 AS varchar), '|',
                  lpad(cast(turn_idx AS varchar), 6, '0')) AS a,
           concat(substr(sha256(conv_id), 1, 8), '|',
                  CASE WHEN tool IS NOT NULL THEN 'T' ELSE '-' END, '|',
                  substr(conv_id, 6)) AS b,
           concat(coalesce(tool, 'fallback'), '|',
                  cast(least(turn_idx, 2) AS varchar), '|',
                  cast(length(text) AS varchar)) AS c
         FROM transcripts"""),

    "q_template_geoip" -> Transcripts.oracle(
      s"""SELECT conv_id, turn_idx,
           concat('10.', cast(fac AS varchar), '.', cast(sev AS varchar), '.',
                  cast(pid % 256 AS varchar)) AS ip,
           coalesce(g.country_iso, '') AS country,
           concat('geo=', coalesce(g.city, '')) AS city_t
         FROM transcripts_full
         LEFT JOIN (${graft.enrich.GeoIp.rangesSql}) g
           ON (167772160 + fac*65536 + sev*256 + (pid % 256)) // 65536
                = g.net_start // 65536
          AND 167772160 + fac*65536 + sev*256 + (pid % 256)
              BETWEEN g.net_start AND g.net_end
         WHERE variant = 0"""),
    // ^ same bucket-equality trick as q_enrich_geoip (keeps DuckDB off
    // IE_JOIN); template-form misses render '' not NULL

    "q_template_format" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat('{"conv":"', conv_id, '","role":"', role, '","n":"',
                  cast(turn_idx AS varchar), '"}') AS j,
           concat('id=', conv_id, ' role=', role, ' tool=', coalesce(tool, 'na')) AS w
         FROM transcripts"""),

    "q_template_hof" -> Transcripts.oracle(
      """SELECT conv_id, turn_idx,
           concat(upper(role), ',', upper(coalesce(tool, 'x'))) AS a,
           CASE WHEN tool IS NULL THEN role ELSE concat(role, ',', tool) END AS b,
           strftime(ts, '%Y/%m/%d %H:%M') AS c
         FROM transcripts"""),

    "q_synthetic_close" -> Transcripts.oracle(
      """, y0 AS (SELECT conv_id, ts, turn_idx, role, tool,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 8 HOUR THEN 1 ELSE 0 END AS ns
                  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
         , y1 AS (SELECT *, sum(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                          ROWS UNBOUNDED PRECEDING) AS sid FROM y0)
         SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
           first(role ORDER BY ts DESC, turn_idx DESC) AS role,
           first(tool ORDER BY (tool IS NOT NULL) DESC, ts DESC, turn_idx DESC) AS tool,
           min(ts) AS session_start, max(ts) + INTERVAL 8 HOUR AS session_end
         FROM y1 GROUP BY conv_id, sid"""),

    "q_patterndb_rate" -> {
      // token bucket recomputed as a per-key sequential recursion (one
      // level per turn ordinal; equality joins only). DuckDB 1.0's
      // list_reduce silently drops fold state under grouped execution, so
      // the fold is spelled as WITH RECURSIVE instead.
      // DEN = (86400<<8)/2 = 11059200; rate = 2. The bucket starts FULL,
      // so the anchor (first turn per key) always passes with b = rate-1.
      val refill = """CASE WHEN (e.t - r.last) * 256 // 11059200 > 0
                        THEN least(r.b + (e.t - r.last) * 256 // 11059200, 2)
                        ELSE r.b END"""
      Transcripts.oracle(
        s""", ev AS (
             SELECT conv_id, cast(floor(epoch(ts)) AS bigint) AS t, turn_idx,
                    row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
             FROM transcripts)
           , rec AS (
             SELECT * FROM (
               WITH RECURSIVE r AS (
                 SELECT conv_id, rn, t AS last, cast(1 AS bigint) AS b,
                        turn_idx, true AS pass
                 FROM ev WHERE rn = 1
                 UNION ALL
                 SELECT e.conv_id, e.rn,
                   CASE WHEN (e.t - r.last) * 256 // 11059200 > 0
                        THEN e.t ELSE r.last END,
                   ($refill) - (CASE WHEN ($refill) > 0 THEN 1 ELSE 0 END),
                   e.turn_idx,
                   ($refill) > 0
                 FROM r JOIN ev e ON e.conv_id = r.conv_id AND e.rn = r.rn + 1)
               SELECT conv_id, turn_idx FROM r WHERE pass))
           SELECT t.conv_id, t.turn_idx, t.ts, t.role
           FROM transcripts t JOIN rec
             ON t.conv_id = rec.conv_id AND t.turn_idx = rec.turn_idx""")
    },

    "q_grouping_by" -> Transcripts.oracle(
      """, s0 AS (SELECT conv_id, ts, turn_idx, tool,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 8 HOUR THEN 1 ELSE 0 END AS ns
                  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
         , s1 AS (SELECT *, sum(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                          ROWS UNBOUNDED PRECEDING) AS sid FROM s0)
         SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
           cast(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_tool_turns,
           min(ts) AS session_start, max(ts) + INTERVAL 8 HOUR AS session_end
         FROM s1 GROUP BY conv_id, sid HAVING count(*) >= 2"""),

    "q_grouping_by_sorted" -> Transcripts.oracle(
      """, s0 AS (SELECT conv_id, ts, turn_idx, role,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 8 HOUR THEN 1 ELSE 0 END AS ns
                  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
         , s1 AS (SELECT *, sum(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                          ROWS UNBOUNDED PRECEDING) AS sid FROM s0)
         SELECT conv_id,
           string_agg(role, ',' ORDER BY coalesce(role, ''), turn_idx) AS roles_sorted,
           string_agg(role, ',' ORDER BY turn_idx) AS roles_arrival,
           cast(count(*) AS bigint) AS n_turns,
           min(ts) AS session_start, max(ts) + INTERVAL 8 HOUR AS session_end
         FROM s1 GROUP BY conv_id, sid"""),

    "q_rate_limit" -> Transcripts.oracle(
      """, rl AS (SELECT conv_id, turn_idx, role, ts,
                   row_number() OVER (PARTITION BY date_trunc('day', ts), role
                                      ORDER BY ts, turn_idx, conv_id) AS rn
                  FROM transcripts)
         SELECT conv_id, turn_idx, role, ts FROM rl WHERE rn <= 3"""),

    "q_suppress" -> Transcripts.oracle(
      """, sy AS (SELECT concat('host-', cast(hostnum AS varchar)) AS host, action, ts,
                    conv_id, turn_idx
                  FROM transcripts_full WHERE variant = 0)
         , m AS (SELECT *, CASE WHEN lag(action) OVER w IS NULL
                                  OR lag(action) OVER w <> action
                                  OR cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(lag(ts) OVER w)) AS bigint) > 7200
                                THEN 1 ELSE 0 END AS keep
                 FROM sy WINDOW w AS (PARTITION BY host ORDER BY ts, conv_id, turn_idx))
         , r AS (SELECT *, sum(keep) OVER (PARTITION BY host ORDER BY ts, conv_id, turn_idx
                                           ROWS UNBOUNDED PRECEDING) AS run FROM m)
         SELECT host, action, ts, repeated FROM (
           SELECT host, action, ts, keep,
                  cast(count(*) OVER (PARTITION BY host, run) AS bigint) - 1 AS repeated
           FROM r) WHERE keep = 1"""),

    "q_metrics_probe" -> Transcripts.oracle(
      """SELECT CASE variant WHEN 0 THEN 'syslog' WHEN 1 THEN 'kv'
                             WHEN 2 THEN 'json' WHEN 3 THEN 'csv' END AS rule_id,
           role, cast(count(*) AS bigint) AS n_msgs,
           cast(sum(CASE WHEN variant = 1 THEN duration_ms ELSE 0 END) AS bigint) AS value,
           'parse' AS stage
         FROM transcripts_full GROUP BY 1, 2"""),

    "q_context_funcs" -> Transcripts.oracle(
      """SELECT conv_id, cast(count(*) AS bigint) AS ctx_len,
           coalesce(array_to_string(list_sort(list_distinct(list(tool) FILTER (tool IS NOT NULL))), ','), '')
             AS tools_used,
           array_to_string(list_slice(list(role ORDER BY turn_idx), 1, 5), '|') AS first_roles
         FROM transcripts GROUP BY conv_id"""),

    "q_dedup_embed" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS qv FROM embeddings)
         , b AS (SELECT vec_id AS vec_b, embedding AS cv FROM embeddings)
         , p AS (SELECT vec_a, vec_b, $COSINE AS cos
                 FROM a, b WHERE vec_a < vec_b)
         SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.4""",

    "q_dedup_embed_clusters" ->
      s"""WITH RECURSIVE a AS (SELECT vec_id AS vec_a, embedding AS qv FROM embeddings)
         , b AS (SELECT vec_id AS vec_b, embedding AS cv FROM embeddings)
         , pr AS (SELECT vec_a, vec_b FROM a, b
                  WHERE vec_a < vec_b AND $COSINE >= 0.4)
         , ed AS (SELECT vec_a AS x, vec_b AS y FROM pr
                  UNION SELECT vec_b, vec_a FROM pr)
         , walk(id, lab) AS (
             SELECT vec_id, vec_id FROM embeddings
             UNION
             SELECT ed.y, w.lab FROM walk w JOIN ed ON ed.x = w.id)
         SELECT id AS member_id, min(lab) AS cluster_id FROM walk GROUP BY id""",

    "q_dedup_pipeline" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         near AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::double /
                        len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         ex AS (SELECT l.kid AS doc_a, d.doc_id AS doc_b
                FROM documents d
                JOIN (SELECT lower(trim(text)) AS t0, min(doc_id) AS kid
                      FROM documents GROUP BY 1) l
                  ON lower(trim(d.text)) = l.t0
                WHERE l.kid < d.doc_id),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM near
                   UNION SELECT doc_b, doc_a FROM near
                   UNION SELECT doc_a, doc_b FROM ex
                   UNION SELECT doc_b, doc_a FROM ex),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         keep AS (SELECT id FROM walk GROUP BY id HAVING id = min(lab))
         SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.id""",

    "q_dedup_increment" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         near AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::double /
                        len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         ex AS (SELECT l.kid AS doc_a, d.doc_id AS doc_b
                FROM documents d
                JOIN (SELECT lower(trim(text)) AS t0, min(doc_id) AS kid
                      FROM documents GROUP BY 1) l
                  ON lower(trim(d.text)) = l.t0
                WHERE l.kid < d.doc_id),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM near
                   UNION SELECT doc_b, doc_a FROM near
                   UNION SELECT doc_a, doc_b FROM ex
                   UNION SELECT doc_b, doc_a FROM ex),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         keep AS (SELECT id FROM walk GROUP BY id HAVING id = min(lab))
         SELECT d.* FROM documents d JOIN keep k ON d.doc_id = k.id""",

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s))::double /
                      len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id)
         SELECT id AS member_id, min(lab) AS cluster_id, min(lab) AS keep_id
         FROM walk GROUP BY id""",

    // same transitive clusters, quality-priority keeper: longest member
    // (word count), ties -> min id (DuckDB first(ORDER BY) — arg_max
    // can't take a struct ordering)
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s))::double /
                      len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         mem AS (SELECT id AS member_id, min(lab) AS cluster_id
                 FROM walk GROUP BY id),
         sc AS (SELECT doc_id, len(string_split(text, ' '))::bigint AS s
                FROM documents)
         SELECT cluster_id,
           first(member_id ORDER BY s DESC, member_id) AS keep_id,
           first(s ORDER BY s DESC, member_id) AS keep_score,
           count(*)::bigint AS n_members
         FROM mem JOIN sc ON mem.member_id = sc.doc_id
         GROUP BY cluster_id""",

    // same transitive clusters, soft keeper: every member kept with
    // weight = n_members^-0.75 (parity's 6-sig-fig rounding absorbs the
    // cross-engine pow ulp — the weight gates no boolean)
    "q_dedup_soft" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s))::double /
                      len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         mem AS (SELECT id AS member_id, min(lab) AS cluster_id
                 FROM walk GROUP BY id),
         sz AS (SELECT cluster_id, count(*)::bigint AS n_members
                FROM mem GROUP BY cluster_id)
         SELECT m.member_id AS doc_id, m.cluster_id, s.n_members,
           pow(s.n_members::double, -0.75) AS weight
         FROM mem m JOIN sz s USING (cluster_id)""",

    "q_group_lines" -> Transcripts.oracle(
      """SELECT conv_id, count(*) AS n_turns,
           string_agg(text, chr(10) ORDER BY turn_idx) AS joined
         FROM transcripts GROUP BY conv_id"""),

    "q_multiline" -> Transcripts.oracle(
      """, m0 AS (SELECT conv_id, turn_idx, text,
                   sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                     OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS block
                  FROM transcripts)
         SELECT conv_id AS key, cast(block AS bigint) AS block,
           cast(count(*) AS bigint) AS n_lines,
           min(turn_idx) AS start_idx,
           string_agg(text, chr(10) ORDER BY turn_idx) AS joined
         FROM m0 GROUP BY conv_id, block"""),

    "q_multiline_indented" -> Transcripts.oracle(
      """, i0 AS (SELECT conv_id, turn_idx,
                   CASE WHEN turn_idx % 3 = 0 THEN text
                        ELSE concat('    ', text) END AS line
                  FROM transcripts)
         , i1 AS (SELECT conv_id, turn_idx, line,
                   sum(CASE WHEN turn_idx % 3 = 0 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS block
                  FROM i0)
         SELECT conv_id AS key, cast(block AS bigint) AS block,
           cast(count(*) AS bigint) AS n_lines,
           min(turn_idx) AS start_idx,
           string_agg(line, chr(10) ORDER BY turn_idx) AS joined
         FROM i1 GROUP BY conv_id, block"""),

    "q_group_lines_salted" -> Transcripts.oracle(
      """SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
           string_agg(text, chr(10) ORDER BY turn_idx) AS joined
         FROM transcripts GROUP BY conv_id"""),

    "q_dedup_exact" ->
      """SELECT sha256(lower(trim(text))) AS content_hash, min(doc_id) AS keep_id,
           cast(count(*) AS bigint) AS n_copies
         FROM documents GROUP BY 1""",

    "q_dedup_subtract" ->
      """WITH w0 AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         ref0 AS (SELECT text AS rt FROM documents WHERE doc_id % 10 = 3
                  UNION ALL
                  SELECT array_to_string(w[1:greatest((len(w) * 3) // 4, 1)], ' ') AS rt
                  FROM w0 WHERE doc_id % 10 = 7),
         refh AS (SELECT DISTINCT sha256(lower(trim(rt))) AS ch FROM ref0),
         crep AS (SELECT sha256(lower(trim(text))) AS ch, min(text) AS t
                  FROM documents GROUP BY 1),
         rrep AS (SELECT sha256(lower(trim(rt))) AS ch, min(rt) AS t
                  FROM ref0 GROUP BY 1),
         csh AS (SELECT ch, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in generate_series(1, len(w) - 2)]) AS s
                 FROM (SELECT ch, string_split(t, ' ') AS w FROM crep)),
         rsh AS (SELECT ch, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in generate_series(1, len(w) - 2)]) AS s
                 FROM (SELECT ch, string_split(t, ' ') AS w FROM rrep)),
         nearch AS (SELECT DISTINCT c.ch FROM csh c, rsh r
                    WHERE len(c.s) > 0 AND len(r.s) > 0
                      AND len(list_intersect(c.s, r.s))::double /
                          len(list_distinct(list_concat(c.s, r.s)))::double >= 0.5)
         SELECT d.doc_id,
           (h.ch IS NOT NULL) AS sub_exact,
           (n.ch IS NOT NULL) AS sub_near,
           (h.ch IS NULL AND n.ch IS NULL) AS kept
         FROM (SELECT doc_id, sha256(lower(trim(text))) AS ch FROM documents) d
         LEFT JOIN refh h ON d.ch = h.ch
         LEFT JOIN nearch n ON d.ch = n.ch""",

    // LSH is candidate generation; semantics = the Jaccard threshold, so the
    // oracle is the exact pairwise recompute (recall must be — and is — 1).
    "q_dedup_minhash" -> DOC_JACCARD_05,
    "q_dedup_ngram" -> DOC_JACCARD_05,

    "q_conv_dedup" -> Transcripts.oracle(
      """, conv AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS t
                    FROM transcripts GROUP BY conv_id),
         sel AS (SELECT conv_id, t FROM conv
                 WHERE substr(md5('convsel:' || conv_id), 1, 8) < '40000000'),
         cl AS (SELECT 'c:' || conv_id AS conv_id,
                  array_to_string(
                    (string_split(t, chr(10)))[1:len(string_split(t, chr(10))) - 1],
                    chr(10)) AS t
                FROM sel WHERE len(string_split(t, chr(10))) >= 4),
         allc AS (SELECT conv_id, t FROM sel UNION ALL SELECT conv_id, t FROM cl),
         tok AS (SELECT conv_id, string_split(t, ' ') AS w FROM allc),
         sh AS (SELECT conv_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.conv_id AS doc_a, b.conv_id AS doc_b,
                  len(list_intersect(a.s, b.s))::double /
                  len(list_distinct(list_concat(a.s, b.s)))::double AS jaccard
                FROM sh a JOIN sh b ON a.conv_id < b.conv_id
                WHERE len(a.s) > 0 AND len(b.s) > 0)
         SELECT doc_a, doc_b, jaccard FROM pr WHERE jaccard >= 0.5"""),

    "q_corpus_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                     FROM documents),
         w2 AS (SELECT w FROM w0 WHERE length(w) >= 2),
         p AS (SELECT unnest([substr(w, i, 2)
                              for i in generate_series(1, length(w) - 1)]) AS pair
               FROM w2),
         c AS (SELECT pair, count(*)::bigint AS freq FROM p GROUP BY 1)
         SELECT pair, freq FROM c ORDER BY freq DESC, pair LIMIT 20""",

    "q_corpus_fim" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n,
             ('0x' || substr(md5('fima:' || doc_id), 1, 8))::BIGINT % (length(text) + 1) AS a,
             ('0x' || substr(md5('fimb:' || doc_id), 1, 8))::BIGINT % (length(text) + 1) AS bb,
             substr(md5('fim:' || doc_id), 1, 8) < '80000000' AS g
           FROM documents)
         SELECT doc_id,
           CASE WHEN g AND n >= 2 THEN
             '<fim_prefix>' || substr(text, 1, least(a, bb)::int) ||
             '<fim_suffix>' || substr(text, greatest(a, bb)::int + 1,
                                      n - greatest(a, bb)::int) ||
             '<fim_middle>' || substr(text, least(a, bb)::int + 1,
                                      (greatest(a, bb) - least(a, bb))::int)
           ELSE text END AS fim_text
         FROM b""",

    "q_corpus_spancorrupt" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
             greatest(cast(ceil(len(string_split(text, ' ')) / 3.0) AS int), 1) AS nb
           FROM documents),
         f AS (SELECT doc_id, w, nb,
             [substr(md5('span:' || doc_id || ':' || j), 1, 8) < '26666666'
              for j in generate_series(0, nb - 1)] AS flags
           FROM b),
         k AS (SELECT doc_id, w, nb, flags,
             [coalesce(list_sum([flags[m + 1]::int for m in generate_series(0, j - 1)]), 0)
              for j in generate_series(0, nb - 1)] AS ks,
             coalesce(list_sum([fl::int for fl in flags]), 0) AS kk
           FROM f)
         SELECT doc_id,
           array_to_string([CASE WHEN flags[j + 1]
               THEN '<extra_id_' || ks[j + 1] || '>'
               ELSE array_to_string(w[j * 3 + 1 : j * 3 + 3], ' ') END
             for j in generate_series(0, nb - 1)], ' ') AS t5_input,
           CASE WHEN kk > 0
             THEN array_to_string(['<extra_id_' || ks[j + 1] || '> ' ||
                    array_to_string(w[j * 3 + 1 : j * 3 + 3], ' ')
                  for j in generate_series(0, nb - 1) if flags[j + 1]], ' ') ||
                  ' <extra_id_' || kk || '>'
             ELSE '' END AS t5_target,
           kk::bigint AS n_masked
         FROM k""",

    "q_corpus_wordpiece" ->
      """WITH w0 AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                     FROM documents),
         w2 AS (SELECT w FROM w0 WHERE length(w) >= 2),
         sy AS (SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
                            ELSE '##' || substr(w, i, 1) END AS sym
                FROM (SELECT w, unnest(generate_series(1, length(w))) AS i FROM w2)),
         sc AS (SELECT sym, count(*)::bigint AS c FROM sy GROUP BY 1),
         p AS (SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
                           ELSE '##' || substr(w, i, 1) END AS left_sym,
                      '##' || substr(w, i + 1, 1) AS right_sym
               FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM w2)),
         pc AS (SELECT left_sym, right_sym, count(*)::bigint AS freq
                FROM p GROUP BY 1, 2)
         SELECT pc.left_sym, pc.right_sym, pc.freq,
           pc.freq / (ca.c * cb.c * 1.0) AS score
         FROM pc
         JOIN sc ca ON ca.sym = pc.left_sym
         JOIN sc cb ON cb.sym = pc.right_sym
         ORDER BY score DESC, pc.left_sym, pc.right_sym LIMIT 20""",

    "q_corpus_funnel" ->
      s"""SELECT d.lang,
           count(*)::bigint AS n_docs,
           sum(c.url_keeper::int)::bigint AS n_url,
           sum((c.url_keeper AND c.dedup_keeper)::int)::bigint AS n_dedup,
           sum((c.url_keeper AND c.dedup_keeper AND c.quality_pass)::int)::bigint AS n_quality,
           sum(c.kept::int)::bigint AS n_kept
         FROM ($curateOracleSql) c JOIN documents d USING (doc_id)
         GROUP BY 1""",

    "q_corpus_webpolicy" ->
      // the planted GROUND TRUTH the composed operators must recover:
      // url keepers = even crawl-pair ids (canonical unique per page),
      // cap = rank among keepers within the domain residue class, robots
      // decision per the fixture rule groups, opt-out per the meta
      // residues; each extraction path is separately oracle-proven by
      // q_corpus_url_dedup / q_corpus_domcap / q_corpus_robots /
      // q_corpus_optout
      """WITH b AS (SELECT doc_id, text,
             (doc_id - doc_id % 2) % 5 AS k2,
             ((doc_id - doc_id % 2) // 2) % 4 AS pr,
             doc_id % 4 AS m4,
             (doc_id % 2 = 0) AS url_keeper
           FROM documents),
         cap AS (SELECT doc_id,
             (row_number() OVER (PARTITION BY k2
                ORDER BY length(text) DESC, doc_id)) <= 30 AS cap_keeper
           FROM b WHERE url_keeper),
         fin AS (SELECT b.doc_id, b.url_keeper,
             coalesce(cap.cap_keeper, false) AS cap_keeper,
             CASE WHEN b.k2 % 2 = 0 THEN b.pr = 2 ELSE b.pr <> 0 END AS robots_allowed,
             b.m4 IN (0, 1) AS opted_out
           FROM b LEFT JOIN cap USING (doc_id))
         SELECT doc_id, url_keeper, cap_keeper, robots_allowed, opted_out,
           url_keeper AND cap_keeper AND robots_allowed AND NOT opted_out AS kept
         FROM fin""",

    "q_text_readability" ->
      """WITH r0 AS (SELECT doc_id, text,
             regexp_extract_all(text, '[^.!?]+[.!?]+', 0) AS term,
             trim(regexp_extract(text, '([^.!?]+)$', 1)) AS tl
           FROM documents),
         r1 AS (SELECT doc_id, text,
             [x for x in [trim(s) for s in
               (CASE WHEN tl = '' THEN term ELSE list_append(term, tl) END)]
              if x <> ''] AS sents,
             [w for w in string_split_regex(text, '[^A-Za-z'']+') if w <> ''] AS ws
           FROM r0),
         r2 AS (SELECT doc_id,
             len(sents)::bigint AS n_sentences,
             len(ws)::bigint AS n_words,
             coalesce(list_sum([greatest(len(regexp_extract_all(lower(w), '[aeiouy]+', 0)), 1)
                                for w in ws]), 0)::bigint AS n_syllables,
             greatest(len(sents), 1)::bigint AS ns1
           FROM r1)
         SELECT doc_id, n_sentences, n_words, n_syllables,
           CASE WHEN n_words > 0 THEN
             0.39::double * (n_words::double / ns1::double)
             + 11.8::double * (n_syllables::double / n_words::double)
             - 15.59::double
           END AS fk_grade
         FROM r2""",

    "q_corpus_contrastive" ->
      s"""$DOC_SHINGLES
         , pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::double /
                        len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         an AS (SELECT doc_a AS anchor_id, doc_b AS positive_id FROM pr
                UNION ALL SELECT doc_b, doc_a FROM pr),
         wb AS (SELECT doc_id AS anchor_id,
                  ('0x' || substr(md5('nb:' || doc_id), 1, 8))::bigint % 64 AS b
                FROM documents),
         reps AS (SELECT b AS nb,
                    first(anchor_id ORDER BY
                      ('0x' || substr(md5('nr:' || anchor_id), 1, 8))::bigint,
                      anchor_id) AS negative_id
                  FROM wb GROUP BY 1)
         SELECT a.anchor_id, a.positive_id, r.negative_id
         FROM an a
         JOIN wb ON wb.anchor_id = a.anchor_id
         JOIN reps r ON r.nb =
           (wb.b + 1 + (('0x' || substr(md5('ns:' || a.anchor_id), 1, 8))::bigint % 63)) % 64""",

    "q_dedup_sweep" ->
      s"""WITH swbase AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000,
             array_to_string(string_split(text, ' ')[1:greatest(
               (len(string_split(text, ' ')) * (3 + doc_id % 7)) // 10, 3)], ' ')
           FROM documents WHERE doc_id % 4 = 0),
         tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM swbase),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok WHERE len(w) >= 3)
         , pr AS (SELECT len(list_intersect(a.s, b.s))::double /
                    len(list_distinct(list_concat(a.s, b.s)))::double AS jaccard
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         f AS (SELECT CASE WHEN jaccard >= 0.9 THEN '0.9'
                           WHEN jaccard >= 0.8 THEN '0.8'
                           WHEN jaccard >= 0.7 THEN '0.7'
                           WHEN jaccard >= 0.6 THEN '0.6'
                           WHEN jaccard >= 0.5 THEN '0.5'
                           WHEN jaccard >= 0.4 THEN '0.4'
                           ELSE '0.3' END AS bucket
               FROM pr WHERE jaccard >= 0.3)
         SELECT bucket, count(*)::bigint AS n_pairs FROM f GROUP BY 1""",

    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id, ${simhashSql("w", 16)} AS simhash FROM tok""",

    // 4 bands over 32 bits: any pair within Hamming 3 shares an intact band
    // (pigeonhole), so banding has exact recall and the oracle is pairwise.
    "q_dedup_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         , sig AS (SELECT doc_id, ${simhashSql("w", 64)} AS sh FROM tok)
         , pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    cast(list_sum([CASE WHEN substr(a.sh, i, 1) <> substr(b.sh, i, 1)
                                        THEN 1 ELSE 0 END
                                   for i in generate_series(1, 64)]) AS int) AS hamming
                  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 3""",

    "q_embed_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
         , c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
         , s AS (SELECT query_id, neighbor_id, $COSINE AS score
                 FROM q, c WHERE query_id <> neighbor_id)
         , r AS (SELECT query_id, neighbor_id, score,
                   cast(row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS int) AS rank
                 FROM s)
         SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 3""",

    "q_dedup_semantic" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS qv, label FROM embeddings)
         , b AS (SELECT vec_id AS vec_b, embedding AS cv, label FROM embeddings)
         , s AS (SELECT vec_a, vec_b, $COSINE AS cos
                 FROM a JOIN b USING (label) WHERE vec_a < vec_b)
         SELECT vec_a, vec_b, cos FROM s WHERE cos >= 0.3""",

    "q_embed_ivf" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
         , c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)
         , s AS (SELECT query_id, neighbor_id, $COSINE AS score
                 FROM q, c WHERE query_id <> neighbor_id)
         , r AS (SELECT query_id, neighbor_id, score,
                   cast(row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS int) AS rank
                 FROM s)
         SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 3""",

    "q_grouping_by_trigger" -> Transcripts.oracle(
      """, g AS (
           SELECT conv_id, ts, turn_idx,
             CASE WHEN epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) IS NULL
                   OR epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) > 3600
                  THEN 1 ELSE 0 END AS brk
           FROM transcripts),
         s2 AS (
           SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         b AS (
           SELECT *, (row_number() OVER (PARTITION BY conv_id, sess
                                         ORDER BY ts, turn_idx) - 1) // 3 AS ctx
           FROM s2)
         SELECT conv_id, count(*)::bigint AS n_turns,
                min(turn_idx) AS first_turn
         FROM b GROUP BY conv_id, sess, ctx"""),

    // row-identity contract: the salted plan answers the SAME recompute
    "q_grouping_by_trigger_salted" -> Transcripts.oracle(
      """, g AS (
           SELECT conv_id, ts, turn_idx,
             CASE WHEN epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) IS NULL
                   OR epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) > 3600
                  THEN 1 ELSE 0 END AS brk
           FROM transcripts),
         s2 AS (
           SELECT *, sum(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         b AS (
           SELECT *, (row_number() OVER (PARTITION BY conv_id, sess
                                         ORDER BY ts, turn_idx) - 1) // 3 AS ctx
           FROM s2)
         SELECT conv_id, count(*)::bigint AS n_turns,
                min(turn_idx) AS first_turn
         FROM b GROUP BY conv_id, sess, ctx"""),

    "q_patternize" -> Transcripts.oracle(
      """, w AS (
           SELECT conv_id || ':' || cast(turn_idx AS varchar) AS mid,
                  i - 1 AS pos, ws[i] AS word
           FROM (SELECT conv_id, turn_idx, string_split(text, ' ') AS ws
                 FROM transcripts) d,
                unnest(generate_series(1, len(ws))) AS t(i)
         ),
         f AS (SELECT pos, word FROM w GROUP BY 1, 2 HAVING count(*) >= 50),
         p AS (
           SELECT w.mid,
             string_agg(CASE WHEN f.word IS NOT NULL THEN w.word ELSE '@' END,
                        ' ' ORDER BY w.pos) AS pattern,
             bool_or(f.word IS NOT NULL) AS cand
           FROM w LEFT JOIN f ON w.pos = f.pos AND w.word = f.word
           GROUP BY 1)
         SELECT pattern, count(*)::bigint AS n_msgs
         FROM p WHERE cand GROUP BY 1 HAVING count(*) >= 50"""),

    "q_filter_matcher" ->
      """SELECT doc_id,
           lang = 'en' AS is_en,
           source LIKE 'src1%' AS src_1x,
           contains(lower(text), 'the') AS has_the,
           starts_with(source, 'src1') AS src1_prefix
         FROM documents""",

    "q_route_stats" -> Transcripts.oracle(
      """SELECT 'errors' AS id, count(*)::bigint AS ingress,
              sum(CASE WHEN variant IN (0, 2) AND status IN ('error', 'fail')
                       THEN 1 ELSE 0 END)::bigint AS egress
         FROM transcripts_full
         UNION ALL
         SELECT 'all', count(*)::bigint, count(*)::bigint FROM transcripts_full"""),

    "q_corpus_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5(cast(doc_id AS varchar)), 1, 8) <
           CASE lang WHEN 'en' THEN '4ccccccc'
                     WHEN 'de' THEN 'b3333333'
                     ELSE 'g' END""",

    "q_corpus_shards" ->
      """WITH a AS (SELECT doc_id,
             (('0x' || substr(md5('shard:' || doc_id), 1, 8))::BIGINT % 8)::int AS shard,
             ('0x' || substr(md5('order:' || doc_id), 1, 8))::BIGINT AS ok
           FROM documents)
         SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)::bigint AS shard_pos
         FROM a""",

    "q_corpus_retract" ->
      """WITH a AS (SELECT doc_id,
             (('0x' || substr(md5('shard:' || doc_id), 1, 8))::BIGINT % 32)::int AS shard,
             ('0x' || substr(md5('order:' || doc_id), 1, 8))::BIGINT AS ok
           FROM documents),
         r AS (SELECT doc_id, shard FROM a WHERE doc_id % 101 = 3)
         SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)::bigint AS shard_pos
         FROM a
         WHERE shard IN (SELECT shard FROM r)
           AND doc_id NOT IN (SELECT doc_id FROM r)""",

    "q_corpus_urlfilter" ->
      """WITH u AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 'ads.tracker.net'
                  WHEN doc_id % 4 = 1 THEN 'sub.ads.tracker.net'
                  WHEN doc_id % 4 = 2 THEN 'nottracker.net'
                  ELSE 'docs.good.org' END AS h
           FROM documents)
         SELECT doc_id, h AS url_host FROM u
         WHERE NOT (h = 'tracker.net' OR h LIKE '%.tracker.net'
                 OR h = 'bad.example' OR h LIKE '%.bad.example')""",

    "q_corpus_doremi" ->
      """WITH s AS (SELECT source, count(*)::bigint AS n_docs,
             avg(ln((doc_id % 13) + 1.0) / 2 - 0.86) AS mean_excess
           FROM documents GROUP BY source),
         e AS (SELECT source, n_docs, mean_excess,
             (1.0 / (SELECT count(*) FROM s)) * exp(1.0 * greatest(mean_excess, 0.0)) AS un
           FROM s)
         SELECT source, n_docs, mean_excess,
           0.99 * un / (SELECT sum(un) FROM e) + 0.01 / (SELECT count(*) FROM e) AS weight
         FROM e""",

    "q_corpus_mixture" ->
      // replicate temperatureMixture's arithmetic: q_s ∝ (n_s/N)^(1/τ),
      // r_s = min(1, 0.5·N·q_s/n_s); the Spark side compares fixed-width
      // hex against thresholdHex(r) = floor(r·2^32) formatted — numerically
      // identical to comparing the hex value against floor(r·2^32).
      // Rates are rounded to 6 significant figures with the identical
      // double formula as the Scala side BEFORE the floor, so a ulp of
      // pow/sum divergence cannot flip the mix_keep boolean
      """WITH n AS (SELECT lang, count(*)::double AS ns FROM documents GROUP BY lang),
         t AS (SELECT sum(ns) AS nn FROM n),
         w AS (SELECT lang, ns, pow(ns / t.nn, 0.5) AS ws FROM n CROSS JOIN t),
         r AS (SELECT lang,
                 least(1.0, 0.5 * (SELECT nn FROM t) * (ws / (SELECT sum(ws) FROM w)) / ns) AS r0
               FROM w),
         r6 AS (SELECT lang,
                 CASE WHEN r0 = 0 THEN 0.0
                      ELSE round(r0 / pow(10.0, floor(log10(abs(r0))) - 5))
                           * pow(10.0, floor(log10(abs(r0))) - 5) END AS mix_rate
                FROM r)
         SELECT d.doc_id, d.lang, r6.mix_rate,
           (('0x' || substr(md5('mix:' || d.doc_id), 1, 8))::BIGINT <
            floor(r6.mix_rate * 4294967296.0)::BIGINT) AS mix_keep
         FROM documents d JOIN r6 USING (lang)""",

    // replicate epochPlan (nothing caps at 50 on these fixtures, so
    // e = roundSig6(B·w/Σw/tok)) + upsampleEpochs's copy rule: floor(e)
    // full copies, one more iff the md5 draw on (id, copy) clears the
    // fractional part — the identical fixed-width-hex threshold compare
    "q_corpus_upsample" ->
      """WITH tok AS (SELECT lang, sum(len(string_split(text, ' ')))::double AS tk
                      FROM documents GROUP BY lang),
         w(lang, wt) AS (VALUES ('en', 0.3), ('de', 0.2), ('es', 0.2),
                                ('fr', 0.2), ('zh', 0.1)),
         act AS (SELECT t.lang, t.tk, w.wt FROM tok t JOIN w USING (lang)
                 WHERE w.wt > 0 AND t.tk > 0),
         e0 AS (SELECT lang,
                  60000.0 * (wt / (SELECT sum(wt) FROM act)) / tk AS e
                FROM act),
         e6 AS (SELECT lang,
                  CASE WHEN e = 0 THEN 0.0
                       ELSE round(e / pow(10.0, floor(log10(abs(e))) - 5))
                            * pow(10.0, floor(log10(abs(e))) - 5) END AS e
                FROM e0),
         x AS (SELECT d.doc_id, d.lang, e6.e, g.copy_idx
               FROM documents d JOIN e6 USING (lang),
                 LATERAL (SELECT unnest(generate_series(0,
                   greatest(0, ceil(e6.e)::int - 1))) AS copy_idx) g)
         SELECT doc_id, lang, copy_idx::int AS copy_idx, e AS n_epochs
         FROM x
         WHERE copy_idx < floor(e)::int
            OR ('0x' || substr(md5('epoch:' || doc_id || ':' || copy_idx), 1, 8))::BIGINT
               < floor((e - floor(e)) * 4294967296.0)::BIGINT""",

    // hottest conv ids: count, share of the table (exact ints, single
    // division), integral-DIV salt recommendation; ties at the top-k
    // boundary break by key ascending on both engines
    "q_skew_profile" -> Transcripts.oracle(
      """SELECT conv_id AS key, count(*)::bigint AS n_rows,
           count(*)::double / (SELECT count(*) FROM transcripts)::double AS share,
           ((count(*) + 2) // 3)::int AS salts_recommended
         FROM transcripts GROUP BY conv_id
         ORDER BY n_rows DESC, key ASC LIMIT 25"""),

    "q_corpus_vocab" ->
      """SELECT token, count(*)::bigint AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         WHERE token <> ''
         GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 50""",

    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         , m AS (SELECT doc_id, text, w,
             len(list_filter(w, x -> x IN ('the','a','an','of','and','to','in','is','it','that')))::double
               / len(w)::double AS stop_ratio,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::double AS punct,
             len(list_distinct(w))::double / len(w)::double AS diversity
           FROM t)
         SELECT doc_id,
           cast(len(w) AS int) AS n_ws_tokens,
           cast(list_sum([cast(ceil(length(p) / 4.0) AS int)
                          for p in regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')]) AS int)
             AS n_bpe_tokens,
           stop_ratio,
           (least(len(w)::double / 50.0, 1.0)
            + greatest(0.0, 1.0 - punct * 5.0 / length(text)::double)
            + least(diversity * 2.0, 1.0)) / 3.0 AS quality,
           (stop_ratio >= 0.05 AND
            length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::double
              / length(text)::double >= 0.9) AS is_english
         FROM m""",

    "q_text_fingerprint" ->
      s"""$DOC_SHINGLES
         SELECT doc_id,
           CASE WHEN len(s) > 0 THEN list_min([md5('fp:' || g) for g in s])
                ELSE md5('fp:' || text) END AS fingerprint
         FROM sh""",

    "q_corpus_url_dedup" ->
      """WITH raw AS (SELECT doc_id,
             'HTTPS://WWW.Example' || source || '.com:443/Path/' || (doc_id % 7) ||
             CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=x&b=2&a=1#frag'
                  ELSE '?a=1&b=2' END AS u
           FROM documents),
         c0 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS nf FROM raw),
         c1 AS (SELECT doc_id,
             lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS head,
             regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
           FROM c0),
         c2 AS (SELECT doc_id,
             regexp_replace(CASE WHEN head LIKE 'https://%' THEN regexp_replace(head, ':443$', '')
                                 WHEN head LIKE 'http://%' THEN regexp_replace(head, ':80$', '')
                                 ELSE head END, '://www\.', '://') AS h3,
             regexp_replace(regexp_replace(rest, '\?.*$', ''), '/+$', '') AS path,
             regexp_extract(rest, '\?(.*)$', 1) AS qs
           FROM c1),
         c3 AS (SELECT doc_id,
             h3 || path || CASE WHEN len(ps) > 0
                                THEN '?' || array_to_string(ps, '&') ELSE '' END AS canonical_url
           FROM (SELECT doc_id, h3, path,
                   list_sort(list_filter(string_split(qs, '&'),
                     p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z]+|fbclid|gclid|ref)(=|$)'))) AS ps
                 FROM c2)),
         k AS (SELECT canonical_url, min(doc_id) AS keep FROM c3 GROUP BY 1)
         SELECT c3.doc_id, c3.canonical_url, (c3.doc_id = k.keep) AS is_keeper
         FROM c3 JOIN k USING (canonical_url)""",

    "q_warc_html" ->
      // relational recomputation of HtmlText.extract: the same regex
      // stages (comments/script/style, anchor sentinels via chr(1)/chr(2),
      // block tags -> chr(3), residual tags -> space, entity decode with
      // &amp; last), then per-block length / link-chars / stopword metrics
      // and the multiplied-out jusText-shaped gate
      """WITH h0 AS (SELECT doc_id,
             '<html><head><title>Doc</title><script type="text/javascript">var x = 1 < 2; // nav</script><style>.a{color:red}</style></head><body>'
             || '<div class="nav"><a href="/">Home</a> | <a href="/about">About&nbsp;Us</a> | <a href="/contact">Contact</a></div>'
             || '<!-- boilerplate comment <p>not text</p> -->'
             || '<h1>Title ' || doc_id || '</h1>'
             || '<p>' || text || '</p>'
             || '<p>Short &amp; sweet.</p>'
             || '<div class="related">See also <a href="/1">the first related article of the day</a> and <a href="/2">the second one that is linked</a></div>'
             || '<div class="footer">&copy; 2026 <a href="/legal">Legal</a></div></body></html>' AS h
           FROM documents),
         h1 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(
               regexp_replace(h,
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                 '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                 '(?i)<a\b[^>]*>', chr(1), 'g'),
                 '(?i)</a\s*>', chr(2), 'g'),
                 '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table|br|hr|section|article|aside|header|footer|nav|main|blockquote|pre|form|fieldset)\b[^>]*>', chr(3), 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS c
           FROM h0),
         b0 AS (SELECT doc_id,
             [trim(regexp_replace(b, '\s+', ' ', 'g')) for b in string_split(c, chr(3))] AS nb
           FROM h1),
         b1 AS (SELECT doc_id,
             [trim(regexp_replace(translate(b, chr(1) || chr(2), ''), ' +', ' ', 'g')) for b in nb] AS vb0,
             [coalesce(list_sum([length(m) - 2 for m in
                 regexp_extract_all(b, chr(1) || '[^' || chr(1) || chr(2) || ']*' || chr(2))]), 0)
              for b in nb] AS lc0
           FROM b0),
         b2 AS (SELECT doc_id, vb0, lc0,
             [i for i in generate_series(1, len(vb0)) if length(vb0[i]) > 0] AS ne
           FROM b1),
         b3 AS (SELECT doc_id,
             [vb0[i] for i in ne] AS bt,
             [lc0[i] for i in ne] AS bl
           FROM b2),
         b4 AS (SELECT doc_id, bt, bl,
             [len(list_filter(string_split(lower(t), ' '), x -> x <> '')) for t in bt] AS nw,
             [len(list_filter(string_split(lower(t), ' '),
                x -> x IN ('the','a','an','of','and','to','in','is','it','that'))) for t in bt] AS ns
           FROM b3),
         b5 AS (SELECT doc_id, bt,
             [i for i in generate_series(1, len(bt))
                if length(bt[i]) >= 25
                   AND bl[i]::double <= 0.35 * length(bt[i])::double
                   AND ns[i]::double >= 0.05 * nw[i]::double] AS gi
           FROM b4)
         SELECT doc_id,
           cast(len(bt) AS int) AS n_blocks,
           cast(len(gi) AS int) AS n_good,
           coalesce(array_to_string([bt[i] for i in gi], chr(10)), '') AS text
         FROM b5""",

    "q_corpus_curate" -> curateOracleSql,

    "q_corpus_split" -> {
      // replicate splitLabel's normalization bit-for-bit so the hex
      // thresholds cannot diverge by a ulp at the 8-hex-digit truncation
      import graft.corpus.Sampling.thresholdHex
      val ws = Seq(0.8, 0.1, 0.1)
      val total = ws.sum
      val cum = ws.map(_ / total).scanLeft(0.0)(_ + _).tail
      val (t1, t2) = (thresholdHex(cum(0)), thresholdHex(cum(1)))
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s))::double /
                      len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         cl AS (SELECT id AS member_id, min(lab) AS cluster_id FROM walk GROUP BY id)
         SELECT member_id, cluster_id,
           CASE WHEN substr(md5('split:' || cluster_id), 1, 8) < '$t1' THEN 'train'
                WHEN substr(md5('split:' || cluster_id), 1, 8) < '$t2' THEN 'valid'
                ELSE 'test' END AS split
         FROM cl"""
    },

    "q_corpus_dsir" ->
      """WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         feats AS (SELECT doc_id, lang, unnest(list_concat(
             [w[i] for i in generate_series(1, len(w))],
             [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)])) AS g
           FROM words),
         fb AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS bucket FROM feats),
         tgt AS (SELECT bucket, count(*)::bigint AS tc FROM fb WHERE lang = 'en' GROUP BY bucket),
         src AS (SELECT bucket, count(*)::bigint AS sc FROM fb GROUP BY bucket),
         tot AS (SELECT (SELECT sum(tc)::double FROM tgt) AS tt,
                        (SELECT sum(sc)::double FROM src) AS ts),
         lw AS (SELECT doc_id,
                  sum(ln((coalesce(tc, 0) + 0.1) / (tt + 0.1 * 512))
                      - ln((coalesce(sc, 0) + 0.1) / (ts + 0.1 * 512))) AS log_weight,
                  count(*)::bigint AS n_feats
                FROM fb LEFT JOIN tgt USING (bucket) LEFT JOIN src USING (bucket)
                        CROSS JOIN tot
                GROUP BY doc_id),
         gk AS (SELECT doc_id, log_weight, n_feats,
                  -ln(-ln((('0x' || substr(md5('gum:' || doc_id), 1, 13))::BIGINT + 0.5)
                          / 4503599627370496.0)) AS gumbel
                FROM lw),
         rk AS (SELECT *, row_number() OVER (ORDER BY log_weight + gumbel DESC, doc_id ASC) AS r
                FROM gk)
         SELECT doc_id, log_weight, n_feats, gumbel, (r <= 100) AS selected FROM rk""",

    "q_text_perplexity" ->
      """WITH tg AS (SELECT unnest([substr(text, i, 3)
                                    for i in generate_series(1, length(text) - 2)]) AS gram
                     FROM documents WHERE lang = 'en' AND length(text) >= 3),
         m3 AS (SELECT gram, count(*)::bigint AS cg FROM tg GROUP BY gram),
         m2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(cg)::bigint AS cc FROM m3 GROUP BY 1),
         v AS (SELECT count(DISTINCT substr(gram, 3, 1))::double AS vs FROM m3),
         sg AS (SELECT doc_id, unnest([substr(text, i, 3)
                                       for i in generate_series(1, length(text) - 2)]) AS gram
                FROM documents WHERE length(text) >= 3),
         j AS (SELECT doc_id,
                 ln((coalesce(m3.cg, 0) + 0.1) / (coalesce(m2.cc, 0) + 0.1 * v.vs)) AS lp
               FROM sg LEFT JOIN m3 USING (gram)
                       LEFT JOIN m2 ON substr(sg.gram, 1, 2) = m2.ctx
                       CROSS JOIN v),
         a AS (SELECT doc_id, -sum(lp) / ln(2.0) / count(*) AS cross_entropy,
                      count(*)::bigint AS n_grams
               FROM j GROUP BY doc_id)
         SELECT doc_id, cross_entropy, n_grams,
                power(2.0, cross_entropy) AS perplexity
         FROM a""",

    // head/middle/tail under calibrated cutoffs: the bucket CASE compares
    // the 6-sig-fig-rounded score on BOTH sides (a raw cross-row double
    // sum diverges between engines by ulps, and a flipped LABEL can't be
    // absorbed by output rounding)
    "q_text_buckets" ->
      """WITH tg AS (SELECT unnest([substr(text, i, 3)
                                    for i in generate_series(1, length(text) - 2)]) AS gram
                     FROM documents WHERE lang = 'en' AND length(text) >= 3),
         m3 AS (SELECT gram, count(*)::bigint AS cg FROM tg GROUP BY gram),
         m2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(cg)::bigint AS cc FROM m3 GROUP BY 1),
         v AS (SELECT count(DISTINCT substr(gram, 3, 1))::double AS vs FROM m3),
         sg AS (SELECT doc_id, unnest([substr(text, i, 3)
                                       for i in generate_series(1, length(text) - 2)]) AS gram
                FROM documents WHERE length(text) >= 3),
         j AS (SELECT doc_id,
                 ln((coalesce(m3.cg, 0) + 0.1) / (coalesce(m2.cc, 0) + 0.1 * v.vs)) AS lp
               FROM sg LEFT JOIN m3 USING (gram)
                       LEFT JOIN m2 ON substr(sg.gram, 1, 2) = m2.ctx
                       CROSS JOIN v),
         a AS (SELECT doc_id, -sum(lp) / ln(2.0) / count(*) AS cross_entropy,
                      count(*)::bigint AS n_grams
               FROM j GROUP BY doc_id),
         u AS (SELECT d.doc_id, a.cross_entropy, a.n_grams
               FROM documents d LEFT JOIN a USING (doc_id)),
         r AS (SELECT doc_id, cross_entropy, n_grams,
                 CASE WHEN cross_entropy IS NULL OR cross_entropy = 0 THEN cross_entropy
                      ELSE round(cross_entropy / pow(10.0, floor(log10(abs(cross_entropy))) - 5))
                           * pow(10.0, floor(log10(abs(cross_entropy))) - 5) END AS cer
               FROM u)
         SELECT doc_id, cross_entropy, n_grams,
           CASE WHEN cer <= 1.11 THEN 'head'
                WHEN cer <= 1.14 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM r""",

    "q_dedup_paragraphs" ->
      // recompute the span clusters from ground truth: exact word-shingle
      // Jaccard pairs over the planted paragraph units + recursive-CTE
      // connected components, keep-first by the zero-padded (doc, idx) key
      """WITH RECURSIVE base AS (SELECT doc_id,
             substr(text, 1, 60) AS p0,
             'cookie consent banner please accept our terms and privacy policy version v'
               || (doc_id % 3) AS p1
           FROM documents),
         u AS (SELECT doc_id, 0 AS span_idx, p0 AS s FROM base
               UNION ALL SELECT doc_id, 1, p1 FROM base),
         uk AS (SELECT doc_id, span_idx, s,
                  lpad(doc_id::varchar, 19, '0') || ':' ||
                  lpad(span_idx::varchar, 9, '0') AS k
                FROM u WHERE trim(s) <> ''),
         tok AS (SELECT k, string_split(s, ' ') AS w FROM uk),
         sh AS (SELECT k, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         for i in generate_series(1, len(w) - 2)]) AS g
                FROM tok),
         pr AS (SELECT a.k AS ka, b.k AS kb FROM sh a JOIN sh b ON a.k < b.k
                WHERE len(list_intersect(a.g, b.g))::double /
                      len(list_distinct(list_concat(a.g, b.g)))::double >= 0.5),
         ed AS (SELECT ka AS a, kb AS b FROM pr UNION SELECT kb, ka FROM pr),
         walk(id, lab) AS (
           SELECT k, k FROM uk
           UNION
           SELECT e.b, w.lab FROM walk w JOIN ed e ON e.a = w.id),
         cl AS (SELECT id AS k, min(lab) AS keep FROM walk GROUP BY id),
         dr AS (SELECT uk.doc_id, uk.span_idx FROM uk JOIN cl ON uk.k = cl.k
                WHERE uk.k <> cl.keep)
         SELECT base.doc_id,
           CASE WHEN d0.doc_id IS NULL AND d1.doc_id IS NULL
                  THEN p0 || chr(10) || chr(10) || p1
                WHEN d0.doc_id IS NULL THEN p0
                WHEN d1.doc_id IS NULL THEN p1
                ELSE '' END AS text_clean,
           2::bigint AS n_spans,
           ((d0.doc_id IS NOT NULL)::int + (d1.doc_id IS NOT NULL)::int)::bigint AS n_dropped
         FROM base
           LEFT JOIN (SELECT doc_id FROM dr WHERE span_idx = 0) d0 USING (doc_id)
           LEFT JOIN (SELECT doc_id FROM dr WHERE span_idx = 1) d1 USING (doc_id)""",

    "q_text_classifier" ->
      // replicate hashedBuckets (the dsir feature CTE) at 512 buckets, the
      // closed-form weight (bucket%7)/7.0−0.4, mean margin, sigmoid
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         feats AS (SELECT doc_id, unnest(list_concat(
             [w[i] for i in generate_series(1, len(w))],
             [w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)])) AS g
           FROM words),
         fb AS (SELECT doc_id,
                  ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS bucket FROM feats),
         m AS (SELECT doc_id,
                 sum((bucket % 7) / 7.0 - 0.4) / count(*) AS mean FROM fb GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(1.0 / (1.0 + exp(-(m.mean + 0.1))),
                    1.0 / (1.0 + exp(-0.1))) AS score
         FROM documents d LEFT JOIN m USING (doc_id)""",

    "q_pii_redact" -> {
      import graft.corpus.Pii
      s"""WITH base AS (SELECT doc_id, text ||
             ' contact user' || doc_id || '@example.com from 10.' || (doc_id % 256) ||
             '.0.1 ssn 123-45-6789 card ' ||
             CASE WHEN doc_id % 2 = 0 THEN '4539 1488 0343 6467'
                  ELSE '4539 1488 0343 6468' END ||
             ' phone (555) 867-5309 alt 212-555-0123' AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '${Pii.EmailRe}', '<EMAIL>', 'g'),
             '${Pii.CreditCardRe}', '<CREDIT_CARD>', 'g'),
             '${Pii.SsnRe}', '<SSN>', 'g'),
             '${Pii.Ipv4Re}', '<IP>', 'g'),
             '${Pii.PhoneRe}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(t, '${Pii.EmailRe}'))::bigint AS n_email,
           len(regexp_extract_all(t, '${Pii.Ipv4Re}'))::bigint AS n_ipv4,
           len(regexp_extract_all(t, '${Pii.SsnRe}'))::bigint AS n_ssn,
           len(regexp_extract_all(t, '${Pii.PhoneRe}'))::bigint AS n_phone,
           len(regexp_extract_all(t, '${Pii.CreditCardRe}'))::bigint AS n_cc,
           len(list_filter(regexp_extract_all(t, '${Pii.CreditCardRe}'),
                           c -> ${luhnSql("c")}))::bigint AS n_cc_luhn
         FROM base"""
    },

    "q_pii_pseudonym" -> {
      import graft.corpus.Pii
      // replicate replaceEach: split on the regex (trailing empties kept
      // by both engines), extract matches, stitch part[i] + pseudo(m[i])
      s"""WITH base AS (SELECT doc_id, text ||
             ' from User' || doc_id || '@Example.COM and ops@shared.org at 192.168.' ||
             (doc_id % 256) || '.7 or 8.8.8.8' AS t
           FROM documents),
         p1 AS (SELECT doc_id, string_split_regex(t, '${Pii.EmailRe}') AS parts,
                  regexp_extract_all(t, '${Pii.EmailRe}') AS ms
                FROM base),
         r1 AS (SELECT doc_id, array_to_string([parts[i] ||
                  (CASE WHEN i <= len(ms)
                        THEN 'user-' || substr(md5(lower(ms[i])), 1, 8) || '@example.com'
                        ELSE '' END)
                  for i in generate_series(1, len(parts))], '') AS t
                FROM p1),
         p2 AS (SELECT doc_id, string_split_regex(t, '${Pii.Ipv4Re}') AS parts,
                  regexp_extract_all(t, '${Pii.Ipv4Re}') AS ms
                FROM r1),
         r2 AS (SELECT doc_id, array_to_string([parts[i] ||
                  (CASE WHEN i <= len(ms)
                        THEN '10.' || ('0x' || substr(md5(ms[i]), 1, 2))::int ||
                             '.' || ('0x' || substr(md5(ms[i]), 3, 2))::int ||
                             '.' || ('0x' || substr(md5(ms[i]), 5, 2))::int
                        ELSE '' END)
                  for i in generate_series(1, len(parts))], '') AS t
                FROM p2)
         SELECT doc_id, t AS pseudo FROM r2"""
    },

    "q_text_gopher" ->
      """WITH base AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 1 THEN 'too short'
                  WHEN doc_id % 5 = 2 THEN '- bullet one' || chr(10) || '- bullet two' || chr(10) || text
                  WHEN doc_id % 5 = 3 THEN text || ' trailing dots...' || chr(10) || 'another line...'
                  ELSE text END AS t
           FROM documents),
         u AS (SELECT doc_id, t,
             regexp_split_to_array(t, '\s+') AS w,
             string_split(t, chr(10)) AS ls
           FROM base),
         m AS (SELECT doc_id,
             len(w)::double AS nw,
             coalesce(list_sum([length(x) for x in w]), 0)::double / len(w)::double AS mean_len,
             (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\.\.\.')))::double
               / len(w)::double AS symbol_ratio,
             len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))::double
               / len(ls)::double AS bullet_frac,
             len(list_filter(ls, l -> l LIKE '%...'))::double / len(ls)::double AS ellipsis_frac,
             len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::double
               / len(w)::double AS alpha_frac,
             len(list_filter([lower(x) for x in w],
                             x -> x IN ('the','be','to','of','and','that','have','with')))::bigint AS stop_hits
           FROM u)
         SELECT doc_id, cast(nw AS bigint) AS n_words, mean_len AS mean_word_len,
           symbol_ratio, bullet_frac AS bullet_line_frac, ellipsis_frac AS ellipsis_line_frac,
           alpha_frac AS alpha_word_frac, stop_hits AS stopword_hits,
           (nw >= 50 AND nw <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0 AND
            symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND
            alpha_frac >= 0.8 AND stop_hits >= 2) AS pass
         FROM m""",

    // datasheet: the gopher-pass CTE chain over the banner-planted text,
    // folded into one per-language aggregate; every derived double is a
    // single division of exact integers
    "q_corpus_datasheet" ->
      """WITH base AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 11 = 0
                  THEN 'duplicate banner page please accept cookies'
                  ELSE text END AS t
           FROM documents),
         u AS (SELECT lang, t,
             regexp_split_to_array(t, '\s+') AS w,
             string_split(t, chr(10)) AS ls
           FROM base),
         m AS (SELECT lang, t,
             len(string_split(t, ' '))::bigint AS wtok,
             len(w)::double AS nw,
             coalesce(list_sum([length(x) for x in w]), 0)::double / len(w)::double AS mean_len,
             (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\.\.\.')))::double
               / len(w)::double AS symbol_ratio,
             len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))::double
               / len(ls)::double AS bullet_frac,
             len(list_filter(ls, l -> l LIKE '%...'))::double / len(ls)::double AS ellipsis_frac,
             len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::double
               / len(w)::double AS alpha_frac,
             len(list_filter([lower(x) for x in w],
                             x -> x IN ('the','be','to','of','and','that','have','with')))::bigint AS stop_hits
           FROM u),
         q AS (SELECT lang, t, wtok,
             CASE WHEN nw >= 50 AND nw <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0 AND
                       symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND
                       alpha_frac >= 0.8 AND stop_hits >= 2
                  THEN 1 ELSE 0 END AS qp
           FROM m)
         SELECT lang AS source, count(*)::bigint AS n_docs,
           sum(wtok)::bigint AS total_words,
           sum(wtok)::double / count(*) AS mean_words,
           sum(qp)::double / count(*) AS quality_rate,
           count(DISTINCT sha256(lower(trim(t))))::bigint AS n_distinct,
           1.0 - count(DISTINCT sha256(lower(trim(t))))::double / count(*) AS dup_ratio
         FROM q GROUP BY lang""",

    "q_text_c4" ->
      """WITH base AS (SELECT doc_id,
             substr(text, 1, 80) || '. Yes. It is. Good. Fine.' ||
             chr(10) || 'no terminal punctuation here' ||
             chr(10) || 'Ok.' ||
             chr(10) || CASE WHEN doc_id % 5 = 0
                             THEN 'Please enable JavaScript to view the comments.'
                             ELSE 'another good sentence right here!' END ||
             chr(10) || CASE WHEN doc_id % 7 = 0 THEN 'config { lorem ipsum }'
                             ELSE 'is this the final word?' END AS t
           FROM documents),
         f AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls,
             list_filter(string_split(t, chr(10)), x ->
               regexp_matches(rtrim(x), '[.!?"]$')
               AND (CASE WHEN length(trim(x)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(x), '\s+')) END) >= 3
               AND NOT contains(lower(x), 'javascript')) AS kept
           FROM base),
         c AS (SELECT doc_id, t, ls, kept,
             coalesce(array_to_string(kept, chr(10)), '') AS clean FROM f)
         SELECT doc_id, clean AS clean_text,
           len(ls)::bigint AS n_lines, len(kept)::bigint AS n_lines_kept,
           len(regexp_extract_all(clean, '[.!?]'))::bigint AS n_sentences,
           contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
           contains(t, '{') AS has_brace,
           regexp_matches(lower(t), '\b(?:vector|quartz)\b') AS has_bad_word,
           (len(regexp_extract_all(clean, '[.!?]')) >= 5
            AND NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{')
            AND NOT regexp_matches(lower(t), '\b(?:vector|quartz)\b')) AS pass
         FROM c""",

    "q_text_repetition" -> repetitionOracle,

    "q_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) >= 8
                       THEN list_distinct([array_to_string(w[i:i+7], ' ')
                                           for i in generate_series(1, len(w) - 7)])
                       ELSE [] END AS s
                FROM tok)
         SELECT d.doc_id AS doc_id, b.doc_id AS bench_id,
                cast(len(list_intersect(d.s, b.s)) AS bigint) AS n_shared
         FROM sh d JOIN sh b ON b.doc_id % 17 = 0
         WHERE len(list_intersect(d.s, b.s)) >= 2""",

    "q_corpus_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(w) >= 8
                       THEN list_distinct([array_to_string(w[i:i+7], ' ')
                                           for i in generate_series(1, len(w) - 7)])
                       ELSE [] END AS s
                FROM tok),
         bench AS (
           SELECT doc_id AS bench_id,
             CASE WHEN doc_id % 50 = 0
               THEN array_to_string((string_split(text, ' '))[1:40], ' ')
               ELSE 'wholly novel benchmark question number ' || doc_id ||
                    ' with answer choices alpha bravo charlie delta echo ' ||
                    'foxtrot golf hotel india juliet' END AS btext
           FROM documents WHERE doc_id % 25 = 0),
         bsh AS (
           SELECT bench_id,
             CASE WHEN len(bw) >= 8
                  THEN list_distinct([array_to_string(bw[i:i+7], ' ')
                                      for i in generate_series(1, len(bw) - 7)])
                  ELSE [] END AS s
           FROM (SELECT bench_id, string_split(btext, ' ') AS bw FROM bench)),
         cg AS (SELECT DISTINCT unnest(s) AS g FROM sh),
         bg AS (SELECT bench_id, unnest(s) AS g FROM bsh),
         hit AS (SELECT bench_id, count(*) AS n_hit
                 FROM bg JOIN cg USING (g) GROUP BY 1),
         tot AS (SELECT bench_id, len(s)::BIGINT AS n_shingles
                 FROM bsh WHERE len(s) > 0)
         SELECT bench_id, n_shingles,
                coalesce(n_hit, 0)::BIGINT AS n_hit,
                1.0 - coalesce(n_hit, 0) / n_shingles AS novelty
         FROM tot LEFT JOIN hit USING (bench_id)""",

    "q_dedup_spans" ->
      s"""WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '$SPAN_BOILER ' || text
                  ELSE text END AS text
           FROM documents),
         words AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
         spans AS (
           SELECT doc_id,
             [{'i': i, 's': array_to_string(w[i*16+1 : i*16+16], ' ')}
              for i in range(greatest(CAST(ceil(len(w) / 16.0) AS BIGINT), 1))] AS sp
           FROM words),
         flat AS (SELECT doc_id, unnest(sp, recursive := true) FROM spans),
         hashed AS (
           SELECT doc_id, i AS span_idx, s,
             CASE WHEN trim(s) = '' THEN NULL ELSE md5(lower(trim(s))) END AS sh
           FROM flat),
         dup AS (SELECT sh FROM hashed WHERE sh IS NOT NULL
                 GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         kept AS (SELECT doc_id, span_idx, s FROM hashed
                  WHERE sh IS NULL OR sh NOT IN (SELECT sh FROM dup)),
         agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY span_idx) AS text_clean,
                        count(*) AS n_kept
                 FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_spans FROM hashed GROUP BY doc_id)
         SELECT t.doc_id AS doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           cast(t.n_spans AS bigint) AS n_spans,
           cast(t.n_spans - coalesce(a.n_kept, 0) AS bigint) AS n_dropped
         FROM tot t LEFT JOIN agg a USING (doc_id)""",

    "q_dedup_exact_substr" ->
      s"""WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '$SPAN_BOILER ' || text
                  ELSE text END AS t
           FROM documents),
         u AS (SELECT doc_id, string_split(t, ' ') AS w FROM base),
         g AS (SELECT doc_id,
                 unnest([{'i': i, 'h': md5(array_to_string(w[i:i+7], ' '))}
                         for i in generate_series(1, len(w) - 7)]) AS og
               FROM u WHERE len(w) >= 8),
         ge AS (SELECT doc_id, og.i AS i, og.h AS h FROM g),
         dup AS (SELECT h,
                   first(doc_id ORDER BY doc_id, i) AS kd,
                   first(i ORDER BY doc_id, i) AS ki
                 FROM ge GROUP BY h HAVING count(*) >= 2),
         rem0 AS (SELECT e.doc_id AS doc_id,
                    unnest(generate_series(e.i, e.i + 7)) AS p
                  FROM ge e JOIN dup d ON e.h = d.h
                  WHERE NOT (e.doc_id = d.kd AND e.i = d.ki)),
         drops AS (SELECT doc_id, list(DISTINCT p) AS ps FROM rem0 GROUP BY doc_id)
         SELECT u.doc_id,
           coalesce(array_to_string([w[i] for i in generate_series(1, len(w))
                                     if NOT list_contains(coalesce(d.ps, CAST([] AS BIGINT[])), i)],
                                    ' '), '') AS text_clean,
           len(w)::bigint AS n_words,
           coalesce(len(d.ps), 0)::bigint AS n_removed
         FROM u LEFT JOIN drops d ON u.doc_id = d.doc_id""",

    "q_corpus_pack" ->
      """WITH sized AS (
           SELECT doc_id, doc_id % 4 AS shard,
                  len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
           FROM sized)
         SELECT doc_id, cast(shard AS int) AS shard,
           cast((cum - n_tokens) // 512 AS int) AS pack_id,
           cast(row_number() OVER (PARTITION BY shard, (cum - n_tokens) // 512
                                   ORDER BY doc_id) AS int) AS pack_pos
         FROM c""",

    "q_corpus_pack_asm" ->
      """WITH sized AS (
           SELECT doc_id, doc_id % 4 AS shard,
                  len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
           FROM sized),
         p AS (SELECT doc_id, shard, n_tokens,
                 (cum - n_tokens) // 512 AS pack_id FROM c),
         g AS (SELECT shard, pack_id,
                 list(doc_id ORDER BY doc_id) AS ids,
                 list(n_tokens ORDER BY doc_id) AS ls
               FROM p GROUP BY shard, pack_id)
         SELECT cast(shard AS int) AS shard, cast(pack_id AS int) AS pack_id,
           cast(len(ids) AS int) AS n_docs,
           array_to_string(list_transform(ids, x -> cast(x AS varchar)), ',') AS doc_ids,
           '0,' || array_to_string(
             [cast(cast(list_sum(ls[1:i]) AS bigint) AS varchar)
              for i in generate_series(1, len(ls))], ',') AS boundaries,
           cast(list_sum(ls) AS bigint) AS total_tokens,
           cast(list_sum(ls) AS bigint) / 512.0 AS utilization
         FROM g""",

    "q_corpus_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT doc_id, w,
                 greatest(1, cast(ceil((len(w) - 4) / 20.0) AS int)) AS n_chunks
               FROM w),
         e AS (SELECT doc_id, w,
                 cast(unnest(generate_series(0, n_chunks - 1)) AS int) AS chunk_idx
               FROM c)
         SELECT doc_id, chunk_idx,
           array_to_string(w[chunk_idx*20 + 1 : chunk_idx*20 + 24], ' ') AS chunk_text,
           cast(least(24, len(w) - chunk_idx*20) AS int) AS chunk_words
         FROM e""",

    // the recursive CTE steps the identical BFD rules: visit docs largest
    // first (ties by id), assign to the open pack with the smallest
    // remaining >= size (struct list_sort = (rem, pid) lexicographic =
    // best fit with lowest-id tie-break), else open pack len(packs)
    "q_corpus_pack_bfd" ->
      """WITH RECURSIVE sized AS (
           SELECT doc_id, doc_id % 4 AS shard,
                  len(string_split(text, ' '))::BIGINT AS sz
           FROM documents),
         ord AS (
           SELECT doc_id, shard, sz,
             row_number() OVER (PARTITION BY shard ORDER BY sz DESC, doc_id) AS rn
           FROM sized),
         fit AS (
           SELECT shard, CAST(0 AS BIGINT) AS rn,
                  CAST([] AS STRUCT(rem BIGINT, pid INTEGER)[]) AS packs,
                  CAST(NULL AS BIGINT) AS doc_id,
                  CAST(NULL AS INTEGER) AS pack_id
           FROM (SELECT DISTINCT shard FROM ord)
           UNION ALL
           SELECT shard, rn,
             CASE WHEN best.pid IS NULL
               THEN list_append(packs,
                      {'rem': 512 - sz, 'pid': len(packs)::INTEGER})
               ELSE [CASE WHEN p.pid = best.pid
                       THEN {'rem': p.rem - sz, 'pid': p.pid}
                       ELSE p END for p in packs]
             END AS packs,
             doc_id,
             coalesce(best.pid, len(packs)::INTEGER) AS pack_id
           FROM (
             SELECT o.shard, o.rn, f.packs, o.doc_id, o.sz,
                    list_sort([p for p in f.packs if p.rem >= o.sz])[1] AS best
             FROM fit f JOIN ord o ON o.shard = f.shard AND o.rn = f.rn + 1))
         SELECT doc_id, cast(shard AS int) AS shard, pack_id,
           cast(row_number() OVER (PARTITION BY shard, pack_id ORDER BY rn) AS int)
             AS pack_pos
         FROM fit WHERE rn > 0""",

    "q_text_lang" ->
      (langIdOracleCte + s" SELECT doc_id, $langIdOracleCase AS lang FROM sc"),

    "q_text_lang_confusion" ->
      (langIdOracleCte + s"""
         SELECT actual, $langIdOracleCase AS predicted, count(*)::bigint AS n
         FROM sc GROUP BY 1, 2"""),

    "q_multimodal_meta" ->
      """SELECT doc_id,
           CASE length(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
           cast(16 + (ascii(substr(text, 1, 1)) % 8) * 4 AS int) AS width,
           cast(16 + (length(text) % 8) * 4 AS int) AS height
         FROM documents""",

    "q_multimodal_video" ->
      """WITH geo AS (
           SELECT doc_id,
             600 * (1 + ascii(substr(text, 1, 1)) % 4) AS ts,
             cast(1200 + (length(text) % 50) * 120 AS bigint) AS ticks,
             160 + (length(text) % 8) * 16 AS w,
             120 + (ascii(substr(text, 1, 1)) % 6) * 16 AS h
           FROM documents)
         SELECT doc_id, 'mp4' AS container,
           cast(ts AS int) AS timescale, ticks AS duration_ticks,
           cast(ticks * 1000 // ts AS bigint) AS duration_ms,
           cast(w AS int) AS width, cast(h AS int) AS height,
           cast(260 AS bigint) AS n_bytes
         FROM geo""",

    "q_multimodal_audio" ->
      """WITH geo AS (
           SELECT doc_id,
             CASE WHEN length(text) % 2 = 0 THEN 'wav' ELSE 'aiff' END AS container,
             8000 + (ascii(substr(text, 1, 1)) % 4) * 4000 AS rate,
             1 + length(text) % 2 AS channels,
             cast(400 + (length(text) % 50) * 40 AS bigint) AS n_frames
           FROM documents)
         SELECT doc_id, container,
           cast(rate AS int) AS sample_rate, cast(channels AS int) AS channels,
           n_frames,
           n_frames * 1000 // rate AS duration_ms,
           cast(CASE WHEN container = 'wav' THEN 44 ELSE 54 END
             + n_frames * channels * 2 AS bigint) AS n_bytes
         FROM geo""",

    "q_multimodal_resize" ->
      """WITH geo AS (
           SELECT doc_id,
             CASE length(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
             16 + (ascii(substr(text, 1, 1)) % 8) * 4 AS w,
             16 + (length(text) % 8) * 4 AS h
           FROM documents)
         SELECT doc_id, format,
           cast(CASE WHEN greatest(w, h) <= 24 THEN w
                     ELSE greatest(1, w * 24 // greatest(w, h)) END AS int) AS width,
           cast(CASE WHEN greatest(w, h) <= 24 THEN h
                     ELSE greatest(1, h * 24 // greatest(w, h)) END AS int) AS height
         FROM geo""",

    "q_multimodal_audiohash" ->
      // window means recomputed arithmetically: channel-0 sample(f) =
      // ((f*37 + seed) % 65536) - 32768 with seed = length(text); every
      // mean is one exact-integer division (same rule as the dHash oracle)
      """WITH a0 AS (SELECT doc_id, length(text) AS seed,
             400 + (length(text) % 50) * 40 AS n
           FROM documents),
         wins AS (SELECT doc_id, seed, n,
             unnest([{'k': k} for k in generate_series(0, 32)], recursive := true)
           FROM a0),
         wm AS (SELECT doc_id, k,
             (list_sum([abs(((f * 37 + seed) % 65536) - 32768)
                        for f in generate_series((k * n) // 33, ((k + 1) * n) // 33 - 1)]))::double
               / (((k + 1) * n) // 33 - (k * n) // 33)::double AS m
           FROM wins),
         wb AS (SELECT doc_id, k, m,
             lead(m) OVER (PARTITION BY doc_id ORDER BY k) AS mn FROM wm)
         SELECT doc_id,
           string_agg(CASE WHEN m > mn THEN '1' ELSE '0' END, '' ORDER BY k) AS ahash
         FROM wb WHERE k < 32 GROUP BY doc_id""",

    "q_multimodal_dhash" ->
      (dhashOracleCte("") + " SELECT doc_id, dhash FROM hs"),

    "q_multimodal_dhash_pairs" ->
      (dhashOracleCte("WHERE doc_id < 60") + """,
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len([k for k in generate_series(1, 64) if a.dhash[k] <> b.dhash[k]])::int AS hamming
           FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pr WHERE hamming <= 6"""),

    "q_corpus_robots" ->
      // the full parse mirrored relationally: line explode with ordinals,
      // comment strip, directive classify, consecutive-ua grouping via
      // lag + running sum, group join, agent shadowing, prefix match,
      // max(struct) winner with the allow tiebreak
      """WITH ks AS (SELECT DISTINCT (doc_id % 5)::int AS k FROM documents),
         rb AS (SELECT 'd' || k || '.com' AS domain,
             '# graft robots fixture' || chr(10) ||
             'User-agent: *' || chr(10) ||
             'Disallow: /private' || chr(10) ||
             'Allow: /private/ok' || chr(10) ||
             'Disallow:' || chr(10) ||
             CASE WHEN k % 2 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10)
                  || 'User-agent: otherbot' || chr(10) || 'Disallow: /' || chr(10)
                  || 'Allow: /public' || chr(10) ELSE '' END AS txt
           FROM ks),
         ls0 AS (SELECT domain, string_split(txt, chr(10)) AS ls FROM rb),
         lns AS (SELECT domain, unnest([{'ln': i, 'line': ls[i]}
                                        for i in generate_series(1, len(ls))],
                                       recursive := true)
                 FROM ls0),
         kd AS (SELECT domain, ln,
             CASE WHEN starts_with(lower(trim(regexp_replace(line, '#.*$', ''))), 'user-agent:') THEN 'ua'
                  WHEN starts_with(lower(trim(regexp_replace(line, '#.*$', ''))), 'allow:') THEN 'allow'
                  WHEN starts_with(lower(trim(regexp_replace(line, '#.*$', ''))), 'disallow:') THEN 'disallow'
                  ELSE '' END AS kind,
             trim(regexp_extract(trim(regexp_replace(line, '#.*$', '')), '^[^:]*:(.*)$', 1)) AS value
           FROM lns),
         rel AS (SELECT * FROM kd WHERE kind <> ''),
         g1 AS (SELECT *, CASE WHEN kind = 'ua' AND
                    coalesce(lag(kind) OVER (PARTITION BY domain ORDER BY ln), '') <> 'ua'
                  THEN 1 ELSE 0 END AS newg FROM rel),
         g2 AS (SELECT *, sum(newg) OVER (PARTITION BY domain ORDER BY ln
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM g1),
         ags AS (SELECT domain, grp, lower(value) AS agent FROM g2 WHERE kind = 'ua'),
         rls AS (SELECT domain, grp, kind AS rule, value AS rpath
                 FROM g2 WHERE kind <> 'ua' AND value <> ''),
         rr AS (SELECT a.domain, a.agent, r.rule, r.rpath
                FROM ags a JOIN rls r USING (domain, grp)),
         eff0 AS (SELECT * FROM rr WHERE agent IN ('graftbot', '*')),
         hasag AS (SELECT DISTINCT domain FROM eff0 WHERE agent = 'graftbot'),
         eff AS (SELECT e.* FROM eff0 e LEFT JOIN hasag h USING (domain)
                 WHERE CASE WHEN h.domain IS NOT NULL THEN e.agent = 'graftbot'
                       ELSE e.agent = '*' END),
         urls AS (SELECT doc_id AS id, 'd' || (doc_id % 5) || '.com' AS domain,
             CASE WHEN doc_id % 4 = 0 THEN '/private/x'
                  WHEN doc_id % 4 = 1 THEN '/private/ok/y'
                  WHEN doc_id % 4 = 2 THEN '/public/z'
                  ELSE '/other' END AS path
           FROM documents),
         m AS (SELECT u.id, u.domain, u.path, e.rule, e.rpath
               FROM urls u LEFT JOIN eff e
                 ON u.domain = e.domain AND starts_with(u.path, e.rpath)),
         wn AS (SELECT id, domain, path,
             max(CASE WHEN rpath IS NOT NULL
                 THEN {'l': length(rpath),
                       'a': CASE WHEN rule = 'allow' THEN 1 ELSE 0 END} END) AS w
           FROM m GROUP BY 1, 2, 3)
         SELECT id, domain, path, coalesce(w.a = 1, true) AS allowed FROM wn""",

    "q_text_markdown" ->
      """WITH m0 AS (SELECT doc_id,
             '# Title' || chr(10)
             || CASE WHEN doc_id % 3 = 0 THEN '## Sub' || chr(10) ELSE '' END
             || '- item one' || chr(10) || '- item two' || chr(10)
             || CASE WHEN doc_id % 2 = 0
                THEN '```' || chr(10) || 'int x = f(a);' || chr(10) || 'y = g(b);' || chr(10)
                     || 'z = h(c);' || chr(10) || 'if (x) { y(); }' || chr(10) || '```' || chr(10)
                ELSE '' END
             || '[link](https://x.example)' || chr(10) || text AS md
           FROM documents),
         c AS (SELECT doc_id, md,
             len(string_split(md, chr(10)))::int AS n_lines,
             len(regexp_extract_all(md, '(?m)^#{1,6} ', 0))::int AS n_headings,
             (len(regexp_extract_all(md, '(?m)^```', 0)) // 2)::int AS n_code_fences,
             len(regexp_extract_all(md, '(?m)^ {0,3}(?:[-*+]|[0-9]+\.) ', 0))::int AS n_list_items,
             len(regexp_extract_all(md, '\[[^\]\[]*\]\([^()]*\)', 0))::int AS n_links,
             len(regexp_extract_all(md, '(?m);[ \t]*$', 0)) AS semis,
             len(regexp_extract_all(md, '(?m)^(?:    |\t)[^ \t\n]', 0)) AS inds
           FROM m0)
         SELECT doc_id, n_lines, n_headings, n_code_fences, n_list_items, n_links,
           ((CASE WHEN contains(md, '{') AND contains(md, '}') THEN 1 ELSE 0 END)
            + (CASE WHEN semis >= 3 THEN 1 ELSE 0 END)
            + (CASE WHEN inds >= 3 THEN 1 ELSE 0 END))::int AS code_like,
           n_headings::double / n_lines::double AS heading_ratio
         FROM c""",

    "q_dedup_containment" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, array_to_string(string_split(text, ' ')[1:12], ' ')
           FROM documents WHERE doc_id % 10 = 0),
         tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM base
                 WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.s, b.s))::double / len(a.s)::double AS containment
                FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
                WHERE len(a.s) > 0)
         SELECT doc_a, doc_b, containment FROM pr WHERE containment >= 0.8""",

    "q_text_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                       FROM documents),
         t1 AS (SELECT doc_id, tok, count(*)::bigint AS tf FROM toks
                WHERE tok <> '' GROUP BY 1, 2),
         d1 AS (SELECT tok, count(*)::bigint AS df FROM t1 GROUP BY 1),
         nn AS (SELECT count(*)::double AS n FROM documents),
         sc AS (SELECT doc_id, tok, tf, df,
                  tf::double * ln(((SELECT n FROM nn) + 1.0) / (df::double + 1.0)) AS s
                FROM t1 JOIN d1 USING (tok)),
         r AS (SELECT doc_id, tok, tf, df,
                 CASE WHEN s = 0 THEN s
                      ELSE round(s / pow(10.0, floor(log10(abs(s))) - 5))
                           * pow(10.0, floor(log10(abs(s))) - 5) END AS tfidf
               FROM sc)
         SELECT doc_id, tok, tf, df, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC)::int
             AS kw_rank
         FROM r QUALIFY kw_rank <= 5""",

    "q_corpus_jsonl" ->
      """SELECT doc_id,
           to_json(struct_pack(id := doc_id, source := source,
             text := text || ' "quoted\path"' || chr(10) || 'line2'))::varchar AS line
         FROM documents""",

    "q_dedup_histogram" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in generate_series(1, len(w) - 2)]) AS s
                FROM tok),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.s, b.s))::double /
                      len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         walk(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         mem AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
         sz AS (SELECT cluster_id, count(*) AS n FROM mem GROUP BY 1),
         bk AS (SELECT (CASE
             ${(10 to 1 by -1).map(b => s"WHEN n >= ${1L << b} THEN ${1L << b}").mkString(" ")}
             ELSE 1 END)::bigint AS bucket_lo, n
           FROM sz)
         SELECT bucket_lo, count(*) AS n_clusters, sum(n)::bigint AS n_docs
         FROM bk GROUP BY 1""",

    "q_corpus_optout" ->
      """WITH h0 AS (SELECT doc_id,
             '<html><head>' ||
             CASE WHEN doc_id % 4 = 0 THEN '<meta name="robots" content="index, noai">'
                  WHEN doc_id % 4 = 1 THEN '<meta content="noindex" name="robots">'
                  WHEN doc_id % 4 = 2 THEN '<meta name="robots" content="all">'
                  ELSE '' END ||
             '</head><body><p>' || text || '</p>' ||
             CASE WHEN doc_id % 3 = 0 THEN '<a href="https://creativecommons.org/licenses/by-sa/4.0/">CC</a>'
                  WHEN doc_id % 3 = 1 THEN '<a href="https://creativecommons.org/licenses/by/3.0/">CC</a>'
                  ELSE '' END || '</body></html>' AS h
           FROM documents),
         r AS (SELECT doc_id, h,
             lower(CASE WHEN regexp_extract(h, '(?is)<meta\b[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"', 1) <> ''
                   THEN regexp_extract(h, '(?is)<meta\b[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"', 1)
                   ELSE regexp_extract(h, '(?is)<meta\b[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*"robots"', 1)
               END) AS robots
           FROM h0)
         SELECT doc_id, robots,
           len([d for d in [trim(x) for x in string_split(robots, ',')]
                if d IN ('noindex', 'noai', 'noimageai', 'notrain')]) > 0 AS opted_out,
           CASE WHEN regexp_extract(h, '(?i)creativecommons\.org/licenses/([a-z-]+)/([0-9.]+)', 1) = '' THEN ''
                ELSE lower(regexp_extract(h, '(?i)creativecommons\.org/licenses/([a-z-]+)/([0-9.]+)', 1))
                     || '-' || regexp_extract(h, '(?i)creativecommons\.org/licenses/([a-z-]+)/([0-9.]+)', 2)
           END AS license
         FROM r""",

    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, sha256(lower(trim(text))) AS oh
           FROM documents WHERE doc_id % 5 <> 4),
         c AS (SELECT doc_id,
             sha256(lower(trim(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                                    ELSE text END))) AS ch
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                WHEN oh <> ch THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id""",

    "q_corpus_exemplars" ->
      """WITH h AS (SELECT doc_id, source,
             md5('exemplar:' || doc_id) AS hx FROM documents)
         SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY hx, doc_id)::int
             AS exemplar_rank
         FROM h QUALIFY exemplar_rank <= 5""",

    "q_sft_masked" -> Transcripts.oracle(
      """, sm0 AS (SELECT conv_id, turn_idx, role, text,
             role || ': ' || text AS seg FROM transcripts),
         sm1 AS (SELECT *, coalesce(sum(length(seg) + 1) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint AS off
           FROM sm0)
         SELECT conv_id,
           string_agg(seg, chr(10) ORDER BY turn_idx) AS text,
           coalesce(string_agg(CASE WHEN role = 'assistant'
               THEN (off + length(role) + 2) || ':' || (off + length(seg)) END,
               ',' ORDER BY turn_idx), '') AS mask_spans,
           sum(CASE WHEN role = 'assistant' THEN length(text) ELSE 0 END)::bigint
             AS n_loss_chars,
           count(*) AS n_turns
         FROM sm1 GROUP BY conv_id"""),

    "q_web_links" ->
      // href extraction (group-1 regexp_extract_all — portable), per-link
      // destination-host resolution (absolute / protocol-relative /
      // page-relative), registrable-domain collapse, sorted-distinct join
      """WITH d0 AS (SELECT doc_id,
             'https://www.example' || source || '.com/p/' || doc_id AS page,
             '<p>Intro</p><a href="https://www.Other' || (doc_id % 5) || '.org/x">abs</a>'
             || '<a href="//cdn' || (doc_id % 3) || '.Example.net/y">proto</a>'
             || '<a href="/relative/path">rel</a>'
             || '<a href="#frag">frag</a>' AS h
           FROM documents),
         l AS (SELECT doc_id, page,
             regexp_extract_all(h, '(?i)<a\b[^>]*?href\s*=\s*"([^"]*)"', 1) AS hrefs
           FROM d0),
         hosts AS (SELECT doc_id, len(hrefs)::int AS n_links,
             [CASE WHEN regexp_matches(x, '(?i)^https?://')
                   THEN lower(regexp_extract(x, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
                   WHEN x LIKE '//%'
                   THEN lower(regexp_extract('http:' || x, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
                   ELSE lower(regexp_extract(page, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
              END for x in hrefs] AS hs
           FROM l)
         SELECT doc_id, n_links,
           array_to_string(list_sort(list_distinct([array_to_string(
               string_split(h, '.')[greatest(len(string_split(h, '.')) - 1, 1):len(string_split(h, '.'))], '.')
             for h in hs])), ',') AS dst_domains
         FROM hosts""",

    "q_web_pagerank" ->
      (webGraphPagerankCte + " SELECT node, rank FROM r3"),

    "q_web_importance" ->
      (webGraphPagerankCte + """
         SELECT d.doc_id, 'd' || (d.doc_id % 13) || '.com' AS domain,
           coalesce(r3.rank, 0.0::double) AS importance
         FROM documents d LEFT JOIN r3 ON r3.node = 'd' || (d.doc_id % 13) || '.com'"""),

    "q_web_anchors" ->
      // whole-anchor extraction, per-anchor href + tag-stripped text,
      // destination-domain collapse, count per (dst, anchor), top-3 window
      """WITH a0 AS (SELECT doc_id, source,
             '<a href="https://www.target' || (doc_id % 4) || '.org/x">Read <b>the</b> article</a>'
             || '<a href="https://www.target' || (doc_id % 4) || '.org/y">visit site ' || (doc_id % 2) || '</a>'
             || '<a href="https://www.target' || (doc_id % 4) || '.org/z">' || source || ' news</a>'
             || '<a href="/nav">Home</a>' AS h
           FROM documents),
         ex AS (SELECT unnest(regexp_extract_all(h,
             '(?is)<a\b[^>]*?href\s*=\s*"[^"]*"[^>]*>.*?</a\s*>', 0)) AS a
           FROM a0),
         p AS (SELECT
             regexp_extract(a, '(?i)<a\b[^>]*?href\s*=\s*"([^"]*)"', 1) AS href,
             trim(regexp_replace(regexp_replace(a, '(?is)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS anchor
           FROM ex),
         hh AS (SELECT anchor, CASE
             WHEN regexp_matches(href, '(?i)^https?://')
             THEN lower(regexp_extract(href,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
             WHEN href LIKE '//%'
             THEN lower(regexp_extract('http:' || href,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
             ELSE '' END AS hst
           FROM p),
         sp AS (SELECT anchor, hst, string_split(hst, '.') AS ls FROM hh),
         d AS (SELECT CASE WHEN hst = '' THEN ''
             ELSE array_to_string(ls[greatest(len(ls) - 1, 1):len(ls)], '.')
             END AS dst, anchor
           FROM sp),
         f AS (SELECT dst, anchor FROM d
           WHERE dst <> '' AND dst <> 'example.com' AND anchor <> ''),
         c AS (SELECT dst, anchor, count(*)::bigint AS n FROM f GROUP BY 1, 2)
         SELECT dst, anchor, n,
           row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor ASC)::int AS anchor_rank
         FROM c QUALIFY anchor_rank <= 3""",

    "q_corpus_domcap" ->
      """WITH d0 AS (SELECT doc_id, text,
             CASE WHEN doc_id % 4 < 2 THEN 'mega.com'
                  WHEN doc_id % 4 = 2 THEN 'mid' || (doc_id % 3) || '.org'
                  ELSE 'tail' || (doc_id % 50) || '.net' END AS domain
           FROM documents)
         SELECT doc_id, domain,
           row_number() OVER (PARTITION BY domain ORDER BY length(text) DESC, doc_id)::int AS domain_rank,
           (row_number() OVER (PARTITION BY domain ORDER BY length(text) DESC, doc_id)) <= 10 AS cap_keeper
         FROM d0""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY 1, 2"""
  )

  /** Shared language-ID oracle prefix (planted per-residue texts + the
    * stopword/script scores) — `sc` carries the ground-truth `actual`
    * label so the confusion matrix groups on it; [[langIdOracleCase]] is
    * the classifier's decision CASE, shared by both final selects. */
  private def langIdOracleCte: String =
    """WITH l0 AS (
         SELECT doc_id,
           CASE (doc_id % 8)
             WHEN 1 THEN 'de' WHEN 2 THEN 'fr' WHEN 3 THEN 'es'
             WHEN 4 THEN 'it' WHEN 5 THEN 'ru' WHEN 6 THEN 'zh'
             WHEN 7 THEN 'ja' ELSE 'en' END AS actual,
           CASE (doc_id % 8)
             WHEN 1 THEN 'der Mann ist nicht mit dem Auto und ich das für'
             WHEN 2 THEN 'le monde est dans la vie et les gens que je vous'
             WHEN 3 THEN 'el mundo es para los que no se con una por'
             WHEN 4 THEN 'il mondo che di per non sono della anche come'
             WHEN 5 THEN 'русский текст для проверки языка'
             WHEN 6 THEN '这是一个中文测试文本'
             WHEN 7 THEN 'これはにほんごのテストです'
             ELSE text END AS t2
         FROM documents),
       sc AS (
         SELECT doc_id, actual,
           len([x for x in string_split(lower(t2), ' ') if list_contains(
             ['the','and','of','to','is','that','for','with','you','have'], x)]) AS s_en,
           len([x for x in string_split(lower(t2), ' ') if list_contains(
             ['der','die','das','und','ist','nicht','ein','mit','für','ich'], x)]) AS s_de,
           len([x for x in string_split(lower(t2), ' ') if list_contains(
             ['le','la','les','et','est','que','pour','dans','je','vous'], x)]) AS s_fr,
           len([x for x in string_split(lower(t2), ' ') if list_contains(
             ['el','los','y','es','para','con','una','por','no','se'], x)]) AS s_es,
           len([x for x in string_split(lower(t2), ' ') if list_contains(
             ['il','di','che','per','non','sono','della','anche','più','come'], x)]) AS s_it,
           length(regexp_replace(t2, '\s', '', 'g')) AS c_all,
           length(regexp_replace(t2, '[^\x{3040}-\x{30ff}]', '', 'g')) AS c_ja,
           length(regexp_replace(t2, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS c_zh,
           length(regexp_replace(t2, '[^\x{ac00}-\x{d7af}]', '', 'g')) AS c_ko,
           length(regexp_replace(t2, '[^\x{0400}-\x{04ff}]', '', 'g')) AS c_ru,
           length(regexp_replace(t2, '[^\x{0600}-\x{06ff}]', '', 'g')) AS c_ar
         FROM l0)"""

  private def langIdOracleCase: String =
    """CASE WHEN c_all > 0 AND c_ja::double / c_all > 0.3 THEN 'ja'
            WHEN c_all > 0 AND c_zh::double / c_all > 0.3 THEN 'zh'
            WHEN c_all > 0 AND c_ko::double / c_all > 0.3 THEN 'ko'
            WHEN c_all > 0 AND c_ru::double / c_all > 0.3 THEN 'ru'
            WHEN c_all > 0 AND c_ar::double / c_all > 0.3 THEN 'ar'
            WHEN greatest(s_en, s_de, s_fr, s_es, s_it) < 2 THEN 'unknown'
            WHEN s_it >= greatest(s_en, s_de, s_fr, s_es) THEN 'it'
            WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
            WHEN s_es >= greatest(s_en, s_de) THEN 'es'
            WHEN s_en >= s_de THEN 'en'
            ELSE 'de' END"""

  /** The composed curation pipeline's oracle (also wrapped by the
    * per-source funnel aggregate). */
  private def curateOracleSql: String = {
        // the composed pipeline's oracle is the composition of the per-stage
        // oracles: URL canonicalization chain -> keeper min-agg, exact-Jaccard
        // pairs + recursive-CTE CC over URL KEEPERS ONLY, the char-trigram LM
        // fragment, the Gopher signal block, the RedactionOrder regex nest,
        // and splitLabel's hex thresholds replicated bit-for-bit
        import graft.corpus.{Pii, Sampling}
        val ws = Seq(0.8, 0.1, 0.1)
        val cum = ws.map(_ / ws.sum).scanLeft(0.0)(_ + _).tail
        val (t1, t2) = (Sampling.thresholdHex(cum(0)), Sampling.thresholdHex(cum(1)))
        s"""WITH RECURSIVE raw AS (SELECT doc_id,
               'HTTPS://WWW.Example.com:443/Page/' || (doc_id - doc_id % 2) ||
               CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=x&b=2&a=1#frag'
                    ELSE '?a=1&b=2' END AS u
             FROM documents),
           c0 AS (SELECT doc_id, regexp_replace(u, '#.*$$', '') AS nf FROM raw),
           c1 AS (SELECT doc_id,
               lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS head,
               regexp_replace(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
             FROM c0),
           c2 AS (SELECT doc_id,
               regexp_replace(CASE WHEN head LIKE 'https://%' THEN regexp_replace(head, ':443$$', '')
                                   WHEN head LIKE 'http://%' THEN regexp_replace(head, ':80$$', '')
                                   ELSE head END, '://www\\.', '://') AS h3,
               regexp_replace(regexp_replace(rest, '\\?.*$$', ''), '/+$$', '') AS path,
               regexp_extract(rest, '\\?(.*)$$', 1) AS qs
             FROM c1),
           c3 AS (SELECT doc_id,
               h3 || path || CASE WHEN len(ps) > 0
                                  THEN '?' || array_to_string(ps, '&') ELSE '' END AS canonical_url
             FROM (SELECT doc_id, h3, path,
                     list_sort(list_filter(string_split(qs, '&'),
                       p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z]+|fbclid|gclid|ref)(=|$$)'))) AS ps
                   FROM c2)),
           ku AS (SELECT canonical_url, min(doc_id) AS keep FROM c3 GROUP BY 1),
           uf AS (SELECT c3.doc_id, (c3.doc_id = ku.keep) AS url_keeper
                  FROM c3 JOIN ku USING (canonical_url)),
           kd AS (SELECT d.doc_id, d.text FROM documents d JOIN uf USING (doc_id)
                  WHERE uf.url_keeper),
           tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM kd),
           sh AS (SELECT doc_id,
                    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in generate_series(1, len(w) - 2)]) AS s
                  FROM tok),
           pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.s, b.s))::double /
                        len(list_distinct(list_concat(a.s, b.s)))::double >= 0.5),
           edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                     UNION SELECT doc_b, doc_a FROM pr),
           walk(id, lab) AS (
             SELECT doc_id, doc_id FROM kd
             UNION
             SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
           cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
           tg AS (SELECT unnest([substr(text, i, 3)
                                 for i in generate_series(1, length(text) - 2)]) AS gram
                  FROM documents WHERE lang = 'en' AND length(text) >= 3),
           m3 AS (SELECT gram, count(*)::bigint AS cg FROM tg GROUP BY gram),
           m2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(cg)::bigint AS cc FROM m3 GROUP BY 1),
           v AS (SELECT count(DISTINCT substr(gram, 3, 1))::double AS vs FROM m3),
           sg AS (SELECT doc_id, unnest([substr(text, i, 3)
                                         for i in generate_series(1, length(text) - 2)]) AS gram
                  FROM documents WHERE length(text) >= 3),
           j AS (SELECT doc_id,
                   ln((coalesce(m3.cg, 0) + 0.1) / (coalesce(m2.cc, 0) + 0.1 * v.vs)) AS lp
                 FROM sg LEFT JOIN m3 USING (gram)
                         LEFT JOIN m2 ON substr(sg.gram, 1, 2) = m2.ctx
                         CROSS JOIN v),
           ce AS (SELECT doc_id, -sum(lp) / ln(2.0) / count(*) AS cross_entropy
                  FROM j GROUP BY doc_id),
           gu AS (SELECT doc_id, text AS t,
                    regexp_split_to_array(text, '\\s+') AS w,
                    string_split(text, chr(10)) AS ls
                  FROM documents),
           gm AS (SELECT doc_id,
                    len(w)::double AS nw,
                    coalesce(list_sum([length(x) for x in w]), 0)::double / len(w)::double AS mean_len,
                    (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.')))::double
                      / len(w)::double AS symbol_ratio,
                    len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))::double
                      / len(ls)::double AS bullet_frac,
                    len(list_filter(ls, l -> l LIKE '%...'))::double / len(ls)::double AS ellipsis_frac,
                    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::double
                      / len(w)::double AS alpha_frac,
                    len(list_filter([lower(x) for x in w],
                                    x -> x IN ('the','be','to','of','and','that','have','with')))::bigint AS stop_hits
                  FROM gu),
           gq AS (SELECT doc_id,
                    (nw >= 50 AND nw <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0 AND
                     symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 AND
                     alpha_frac >= 0.8 AND stop_hits >= 2) AS pass
                  FROM gm),
           -- gate input rounded to 6 sig figs (identical formula to the Spark
           -- side): cross-row double sums diverge by ulps between engines and
           -- the kept boolean cannot be absorbed by output rounding
           ce6 AS (SELECT doc_id, cross_entropy,
                     CASE WHEN cross_entropy = 0 THEN 0.0
                          ELSE round(cross_entropy / pow(10.0, floor(log10(abs(cross_entropy))) - 5))
                               * pow(10.0, floor(log10(abs(cross_entropy))) - 5) END AS cer
                   FROM ce)
           SELECT d.doc_id,
             uf.url_keeper,
             coalesce(d.doc_id = cl.cluster_id, false) AS dedup_keeper,
             gq.pass AS quality_pass,
             ce6.cross_entropy,
             md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(d.text,
               '${Pii.EmailRe}', '<EMAIL>', 'g'),
               '${Pii.CreditCardRe}', '<CREDIT_CARD>', 'g'),
               '${Pii.SsnRe}', '<SSN>', 'g'),
               '${Pii.Ipv4Re}', '<IP>', 'g'),
               '${Pii.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5,
             CASE WHEN substr(md5('split:' || coalesce(cl.cluster_id, d.doc_id)), 1, 8) < '$t1' THEN 'train'
                  WHEN substr(md5('split:' || coalesce(cl.cluster_id, d.doc_id)), 1, 8) < '$t2' THEN 'valid'
                  ELSE 'test' END AS split,
             (uf.url_keeper AND coalesce(d.doc_id = cl.cluster_id, false) AND gq.pass AND
              coalesce(ce6.cer <= 1.13, false)) AS kept
           FROM documents d
             JOIN uf USING (doc_id)
             LEFT JOIN cl USING (doc_id)
             LEFT JOIN ce6 USING (doc_id)
             JOIN gq USING (doc_id)"""
  }

  /** Shared dHash oracle prefix: recompute the 9×8 box means of the
    * gradient-PNG fixture ARITHMETICALLY — the pixel formula
    * (x·7+y·13+7) mod 256 (+40 wrap on the perturbed top-left quarter) is
    * the ground truth, PNG is lossless, and every cell boundary is an
    * integer division, so each mean is one exact-integer sum divided
    * once. Bits via lead() per (doc, row), string_agg in (cj, ci) order —
    * the same bit order [[Multimodal.dHash]] emits. */
  private def dhashOracleCte(where: String): String =
    s"""WITH g0 AS (SELECT doc_id, (doc_id % 3 = 0) AS pert,
           16 + (ascii(substr(text, 1, 1)) % 8) * 4 AS w,
           16 + (length(text) % 8) * 4 AS h
         FROM documents $where),
       cells AS (SELECT doc_id, pert, w, h,
           unnest([{'ci': c // 8, 'cj': c % 8} for c in generate_series(0, 71)],
                  recursive := true)
         FROM g0),
       cb AS (SELECT doc_id, pert, w, h, ci, cj,
           (ci * w) // 9 AS xa, (cj * h) // 8 AS ya,
           ((ci + 1) * w) // 9 - (ci * w) // 9 AS bw,
           ((cj + 1) * h) // 8 - (cj * h) // 8 AS bh
         FROM cells),
       mm AS (SELECT doc_id, ci, cj,
           (list_sum([
              CASE WHEN pert AND (xa + p // bh) < (w // 4) AND (ya + p % bh) < (h // 4)
                   THEN (((xa + p // bh) * 7 + (ya + p % bh) * 13 + 7) % 256 + 40) % 256
                   ELSE ((xa + p // bh) * 7 + (ya + p % bh) * 13 + 7) % 256 END
              for p in generate_series(0, bw * bh - 1)]))::double
             / (bw * bh)::double AS m
         FROM cb),
       bits AS (SELECT doc_id, ci, cj, m,
           lead(m) OVER (PARTITION BY doc_id, cj ORDER BY ci) AS mn
         FROM mm),
       hs AS (SELECT doc_id,
           string_agg(CASE WHEN m > mn THEN '1' ELSE '0' END, '' ORDER BY cj, ci) AS dhash
         FROM bits WHERE ci < 8 GROUP BY doc_id)"""

  /** Shared pagerank oracle prefix: the deterministic edge fixture
    * (mirrors [[webGraphEdges]]) + 3 unrolled power-iteration rounds with
    * uniform dangling-mass redistribution — every arithmetic step casts
    * to double so both engines run the identical IEEE ops (DuckDB bare
    * numeric literals are DECIMAL). */
  private def webGraphPagerankCte: String =
    """WITH e0 AS (SELECT DISTINCT
           'd' || (doc_id % 13) || '.com' AS src,
           'd' || ((doc_id * doc_id + 1) % 17) || '.com' AS dst
         FROM documents WHERE (doc_id * doc_id) % 7 < 3),
       e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
       nodes AS (SELECT DISTINCT node
         FROM (SELECT src AS node FROM e1 UNION ALL SELECT dst AS node FROM e1)),
       nn AS (SELECT count(*)::double AS n FROM nodes),
       deg AS (SELECT src, count(*) AS outdeg FROM e1 GROUP BY 1),
       e AS (SELECT e1.src, e1.dst, deg.outdeg FROM e1 JOIN deg USING (src)),
       r0 AS (SELECT node, 1.0::double / (SELECT n FROM nn) AS rank FROM nodes),""" +
      (0 until 3).map { t =>
        s"""
       d$t AS (SELECT coalesce(sum(rank), 0.0::double) AS dm FROM r$t
               WHERE node NOT IN (SELECT src FROM e1)),
       c$t AS (SELECT e.dst AS node, sum(r.rank / e.outdeg) AS in_rank
               FROM e JOIN r$t r ON e.src = r.node GROUP BY 1),
       r${t + 1} AS (SELECT n.node,
           (1.0::double - 0.85::double) / (SELECT n FROM nn)
           + 0.85::double * (coalesce(c.in_rank, 0.0::double)
                             + (SELECT dm FROM d$t) / (SELECT n FROM nn)) AS rank
         FROM nodes n LEFT JOIN c$t c USING (node))"""
      }.mkString(",")
}

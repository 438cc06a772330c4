package graft

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.sources.Warc

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def record(tpe: String, uri: String, date: String, body: String,
      contentType: String = "text/plain"): Array[Byte] = {
    val b = body.getBytes("UTF-8")
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $tpe\r\n" +
      s"WARC-Record-ID: <urn:uuid:$tpe-${uri.hashCode}>\r\n" +
      s"WARC-Date: $date\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${b.length}\r\n" +
      "\r\n").getBytes("UTF-8") ++ b ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private val wet: Array[Byte] =
    record("warcinfo", "", "2024-01-01T00:00:00Z", "software: test-crawler") ++
      record("conversion", "https://a.example/1", "2024-01-02T03:04:05Z",
        "the first extracted page text.") ++
      record("conversion", "https://a.example/2", "2024-01-02T03:04:06Z",
        "the second page\nwith two lines.")

  private def gzMembers(recs: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    recs.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(r); gz.finish()
    }
    out.toByteArray
  }

  test("warc: records parse, WET text view decodes, timestamps typed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc")
    java.nio.file.Files.write(dir.resolve("shard.wet"), wet)
    val df = Warc.read(spark, dir.toString + "/*.wet")
    assert(df.count() === 3)
    assert(df.filter(col("warc_type") === "warcinfo").count() === 1)

    val texts = Warc.wetTexts(df)
      .select(col("target_uri"), col("text"))
      .as[(String, String)].collect().sortBy(_._1)
    assert(texts === Array(
      "https://a.example/1" -> "the first extracted page text.",
      "https://a.example/2" -> "the second page\nwith two lines."))

    val ts = Warc.wetTexts(df).filter(col("target_uri") === "https://a.example/1")
      .select(date_format(col("warc_date"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head()
    assert(ts === "2024-01-02 03:04:05")
  }

  test("warc: the decoder runs as one parse Generate, output schema unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-plan")
    java.nio.file.Files.write(dir.resolve("shard.wet"), wet)
    val df = Warc.read(spark, dir.toString + "/*.wet")
    assertRowStagePath(df, "warc")
    assert(df.schema === Warc.schema)
  }

  test("warc: multi-member gzip decodes to the same records") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcgz")
    java.nio.file.Files.write(dir.resolve("shard.wet.gz"), gzMembers(Seq(
      record("warcinfo", "", "2024-01-01T00:00:00Z", "software: test-crawler"),
      record("conversion", "https://a.example/1", "2024-01-02T03:04:05Z",
        "the first extracted page text."),
      record("conversion", "https://a.example/2", "2024-01-02T03:04:06Z",
        "the second page\nwith two lines."))))
    val got = Warc.wetTexts(Warc.read(spark, dir.toString + "/*.gz"))
      .select(col("target_uri"), col("text")).as[(String, String)].collect().sortBy(_._1)
    val want = Warc.wetTexts(Warc.read(spark,
      { val d = java.nio.file.Files.createTempDirectory("graft-warcp")
        java.nio.file.Files.write(d.resolve("shard.wet"), wet); d.toString + "/*.wet" }))
      .select(col("target_uri"), col("text")).as[(String, String)].collect().sortBy(_._1)
    assert(got === want)
  }

  test("warc: corrupt record resyncs at the next magic; truncated tail dropped") {
    val garbage = "WARC/1.0\r\nno colon header line\r\n\r\n".getBytes("UTF-8")
    val truncated = record("conversion", "https://a.example/cut", "2024-01-03T00:00:00Z",
      "this body never arrives").dropRight(12) // cut inside the body
    val mixed = garbage ++
      record("conversion", "https://a.example/ok", "2024-01-02T03:04:05Z", "good text.") ++
      truncated
    val recs = Warc.records(mixed)
    assert(recs.length === 1)
    assert(recs.head._2("WARC-Target-URI") === "https://a.example/ok")
    assert(new String(recs.head._3, "UTF-8") === "good text.")

    // an absurd Content-Length (past Int.MaxValue) is malformed, not a
    // crash: the record drops and the walk resyncs
    val absurd = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "Content-Length: 99999999999\r\n\r\n").getBytes("UTF-8") ++
      record("conversion", "https://a.example/after", "2024-01-02T03:04:05Z", "fine.")
    val r2 = Warc.records(absurd)
    assert(r2.length === 1 && r2.head._2("WARC-Target-URI") === "https://a.example/after")

    // malformed WARC-Date -> null timestamp, record still lands
    val badDate = record("conversion", "https://a.example/d", "not-a-date", "x.")
    val dir = java.nio.file.Files.createTempDirectory("graft-warcbad")
    java.nio.file.Files.write(dir.resolve("bad.wet"), badDate)
    val row = Warc.read(spark, dir.toString + "/*.wet")
      .select(col("warc_date").isNull, col("target_uri")).as[(Boolean, String)].head()
    assert(row === (true, "https://a.example/d"))
  }

  test("warc: streaming ingestion discovers newly-dropped archives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcs")
    java.nio.file.Files.write(dir.resolve("shard1.wet"), wet)
    val q = Warc.wetTexts(Warc.readStream(spark, dir.toString))
      .writeStream.format("memory").queryName("wstream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wstream").count() === 2)
      // a crawl shard arriving LATER is discovered and decoded
      java.nio.file.Files.write(dir.resolve("shard2.wet"),
        record("conversion", "https://b.example/late", "2024-01-03T00:00:00Z",
          "a later crawl drop."))
      q.processAllAvailable()
      val got = spark.table("wstream").select(col("target_uri"), col("text"))
        .as[(String, String)].collect().sortBy(_._1)
      assert(got.length === 3)
      assert(got.last === ("https://b.example/late" -> "a later crawl drop."))
    } finally q.stop()
  }

  private def httpHtml(html: String): String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nServer: test\r\n\r\n" + html

  private val mainPara =
    ("the quick brown fox jumps over the lazy dog and it is a fine day " +
      "in the park so ").repeat(4).trim

  private def page(body: String): String =
    "<html><head><script>var x = 1 < 2;</script><style>.n{}</style></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/a\">About&nbsp;Us</a> | <a href=\"/c\">Contact</a></div>" +
      "<!-- chrome --><p>" + body + "</p>" +
      "<div class=\"footer\"><a href=\"/l\">Legal</a> stuff</div></body></html>"

  test("warc: response-record HTML extracts main text; non-HTML responses drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warch")
    java.nio.file.Files.write(dir.resolve("crawl.warc"),
      record("response", "https://h.example/page", "2024-01-02T03:04:05Z",
        httpHtml(page(mainPara)), "application/http; msgtype=response") ++
        record("response", "https://h.example/logo.png", "2024-01-02T03:04:06Z",
          "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\nPNGBYTES",
          "application/http; msgtype=response") ++
        record("conversion", "https://h.example/wet", "2024-01-02T03:04:07Z",
          "wet text is not a response record."))
    val got = Warc.responseHtml(Warc.read(spark, dir.toString + "/*.warc"))
      .select(col("target_uri"), col("text"), col("n_blocks"), col("n_good"))
      .as[(String, String, Int, Int)].collect()
    assert(got.length === 1, "only the text/html response survives")
    val (uri, text, nBlocks, nGood) = got.head
    assert(uri === "https://h.example/page")
    assert(text === mainPara, "boilerplate nav/script/footer stripped, main paragraph kept")
    assert(nBlocks === 3 && nGood === 1) // nav, main, footer; only main is good
  }

  test("warc: response HTML feeds Curate.curate end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warchc")
    java.nio.file.Files.write(dir.resolve("crawl.warc"),
      record("response", "https://h.example/a", "2024-01-02T03:04:05Z",
        httpHtml(page(mainPara)), "application/http; msgtype=response") ++
        record("response", "https://h.example/b-dup", "2024-01-02T03:04:06Z",
          httpHtml(page(mainPara)), "application/http; msgtype=response") ++
        record("response", "https://h.example/junk", "2024-01-02T03:04:07Z",
          httpHtml(page("tiny.")), "application/http; msgtype=response"))
    val docs = Warc.responseHtml(Warc.read(spark, dir.toString + "/*.warc"))
    val audit = graft.corpus.Curate.curate(docs,
        col("target_uri"), col("text"), col("target_uri"), lit("en"),
        ceCap = 1e9) // perplexity gate neutralized: 3 tiny docs train the LM
      .select(col("doc_id"), col("url_keeper"), col("dedup_keeper"),
        col("quality_pass"), col("kept"))
      .as[(String, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(audit.size === 3)
    assert(audit("https://h.example/a") === ((true, true, true, true)),
      "the extracted main doc survives every stage")
    val dup = audit("https://h.example/b-dup")
    assert(dup._1 && !dup._2 && !dup._4, "identical extracted text loses near-dup keepership")
    val junk = audit("https://h.example/junk")
    assert(!junk._3 && !junk._4, "a boilerplate-only page fails the quality gate")
  }

  test("compliance signals: robots directives both orders, opt-out set, cc license") {
    import graft.corpus.HtmlText
    val d = Seq(
      // name-first, mixed directives incl. noai
      ("""<head><META NAME="robots" CONTENT="index, NoAI"></head>""", "index, noai", true, ""),
      // content-first order
      ("""<head><meta content="noindex" name="robots"></head>""", "noindex", true, ""),
      // benign directives
      ("""<head><meta name="robots" content="all, follow"></head>""", "all, follow", false, ""),
      // no robots tag; CC license link present
      ("""<a href="http://CREATIVECOMMONS.org/licenses/BY-SA/4.0/">cc</a>""", "", false, "by-sa-4.0"),
      ("""<a href="https://creativecommons.org/licenses/by/3.0/deed.en">cc</a>""", "", false, "by-3.0"),
      ("plain page", "", false, "")
    ).toDF("h", "wantRobots", "wantOut", "wantLic")
    val got = d.select(
      HtmlText.robotsDirectives(col("h")), col("wantRobots"),
      HtmlText.optedOut(col("h")), col("wantOut"),
      HtmlText.ccLicense(col("h")), col("wantLic"))
      .as[(String, String, Boolean, Boolean, String, String)].collect()
    got.foreach { case (r, wr, o, wo, l, wl) =>
      assert(r === wr); assert(o === wo); assert(l === wl)
    }
  }

  test("warc: WET feeds the corpus operators end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warcc")
    java.nio.file.Files.write(dir.resolve("shard.wet"), wet ++
      record("conversion", "https://b.example/dup", "2024-01-02T04:00:00Z",
        "the first extracted page text.")) // exact dup of page 1
    val docs = Warc.wetTexts(Warc.read(spark, dir.toString + "/*.wet"))
    val deduped = graft.corpus.Dedup.exact(docs, col("target_uri"), col("text"))
      .select(col("keep_id"), col("n_copies")).as[(String, Long)].collect().toMap
    assert(deduped.size === 2, "exact dedup collapses the duplicated WET text")
    assert(deduped("https://a.example/1") === 2L, "min-uri keeper holds both copies")
  }
}

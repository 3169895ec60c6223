package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit
import graft.gen.CorpusGen
import graft.sources.WarcKit

/** WAT export gates: the round-tripped metadata profile equals a direct
  * driver derivation from the same pages (title/link kernels invoked
  * independently), JSON escaping survives hostile titles and urls through
  * the full write→parse→from_json path, and the corpus genuinely
  * exercises multi-link pages. */
class WatExportSpec extends AnyFunSuite with SharedSpark {

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString

  test("round-trip equals a direct driver derivation from the pages") {
    val pages = CorpusGen.localPages(CorpusGen.Spec(2, 15))
    val got = RevisitQueries.watExport(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === pages.length)
    val byUrl = got.map(r => r.getString(0) -> r).toMap
    pages.foreach { p =>
      val r = byUrl(p.url)
      val html = new String(p.html, UTF_8)
      val dom = HtmlKit.parse(html)
      val links = HtmlKit.extractLinkAnchors(dom, p.url).map(_._1)
      assert(r.getString(4) === HtmlKit.extractText(dom, html).title, s"title ${p.url}")
      assert(r.getInt(5) === links.length, s"n_links ${p.url}")
      assert(r.getString(6) === md5Hex(links.mkString("|").getBytes(UTF_8)),
        s"links_digest ${p.url}")
      assert(r.getString(7) === p.url, "header uri round-trips through the json")
      assert(r.getString(3) === p.url, "refers-to points at the source capture")
      assert(r.getTimestamp(1) === p.warc_ts)
    }
    assert(pages.exists(p =>
      HtmlKit.extractLinkAnchors(HtmlKit.parse(new String(p.html, UTF_8)), p.url).length > 1),
      "multi-link pages occur — links arrays are non-trivial")
  }

  test("json escaping survives hostile titles through write -> parse -> from_json") {
    import spark.implicits._
    val title = """Quo"ted \ back\slash	tab — ünïcode"""
    val html = ("<html><head><title>" + title + "</title></head>" +
      """<body><a href="/a?x=1&amp;y=2">z</a></body></html>""").getBytes(UTF_8)
    val page = graft.model.PageRow("https://hostile.test/p",
      new java.sql.Timestamp(1700000000000L), html, "t", "en")
    val tmp = java.nio.file.Files.createTempDirectory("graft-wat-spec").toString
    WarcKit.writeArchive(WarcKit.watFromPages(Seq(page)), s"$tmp/w.warc.wat.gz", gzip = true)
    val rec = WarcKit.readArchiveRecords(spark, s"$tmp/w.warc.wat.gz")
      .filter(_.warcType == "metadata").collect().head
    val json = new String(rec.html, UTF_8)
    val parsed = spark.createDataset(Seq(json)).toDF("json")
      .selectExpr("from_json(json, 'Envelope STRUCT<`Payload-Metadata` STRUCT<`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: STRUCT<Head: STRUCT<Title: STRING>, Links: ARRAY<STRUCT<path: STRING, url: STRING>>>>>>') AS env")
      .selectExpr("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Head.Title AS t",
        "env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`.Links[0].url AS u")
      .collect().head
    // the extractor whitespace-normalizes titles (tab -> single space);
    // everything else — quotes, backslashes, unicode — must round-trip
    assert(parsed.getString(0) === title.replace("\t", " "), "hostile title round-trips")
    // links carry the LINK-NORMALIZED url (the link-graph key — WAT must
    // join the engine's own edges); entity decoding happened before it
    val wantUrl = HtmlKit.extractLinkAnchors(
      HtmlKit.parse(new String(html, UTF_8)), page.url).head._1
    assert(parsed.getString(1) === wantUrl, "normalized link url round-trips")
  }
}

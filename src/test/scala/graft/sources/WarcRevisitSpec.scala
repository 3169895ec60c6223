package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.gen.CorpusGen
import graft.pipeline.RevisitQueries

/** WARC revisit-record semantics (identical-payload-digest profile):
  * round-trip of mixed response/revisit archives, the Seq and distributed
  * dedup twins agreeing, and the storage saving actually materializing in
  * the written bytes. */
class WarcRevisitSpec extends AnyFunSuite with SharedSpark {

  private def corpus = CorpusGen.localPages(CorpusGen.Spec(2, 12))

  test("mixed archive round-trips revisit headers; response-only readers skip revisits") {
    val pages = corpus.take(4)
    val prevTs = new java.sql.Timestamp(pages.head.warc_ts.getTime - 1000L)
    val recs = Seq(
      WarcKit.ArchiveRecord("response", pages(0).url, pages(0).warc_ts, 200, "text/html",
        pages(0).html, WarcKit.payloadDigest(pages(0).html)),
      WarcKit.ArchiveRecord("revisit", pages(1).url, pages(1).warc_ts, 0, "",
        Array.emptyByteArray, WarcKit.payloadDigest(pages(1).html), pages(1).url, prevTs))
    val dir = Files.createTempDirectory("graft-revisit-rt").toString
    WarcKit.writeArchive(recs, s"$dir/a.warc")
    WarcKit.writeArchive(recs, s"$dir/b.warc.gz", gzip = true)
    for (f <- Seq("a.warc", "b.warc.gz")) {
      val got = WarcKit.readArchiveRecords(spark, s"$dir/$f").collect().sortBy(_.url)
      assert(got.length == 2, s"$f both records")
      val rev = got.find(_.warcType == "revisit").get
      assert(rev.url == pages(1).url)
      assert(rev.payloadDigest == WarcKit.payloadDigest(pages(1).html))
      assert(rev.refersToUri == pages(1).url)
      assert(rev.refersToTs.getTime == prevTs.getTime, s"$f refers-to date survives")
      assert(rev.html.isEmpty, "revisit records carry no body")
      val resp = got.find(_.warcType == "response").get
      assert(java.util.Arrays.equals(resp.html, pages(0).html), s"$f response body bytes")
      // the response-only reader (crawl-ingest path) must not surface revisits
      val respOnly = WarcKit.readRecords(spark, s"$dir/$f").collect()
      assert(respOnly.map(_.url).toSeq == Seq(pages(0).url))
    }
  }

  test("dedupCapture: unchanged → revisit with pointer; changed/new → response") {
    val pages = corpus.take(3)
    val prev = WarcKit.toRecords(pages)
    val later = new java.sql.Timestamp(pages.head.warc_ts.getTime + 3600 * 1000L)
    val curr = Seq(
      prev(0).copy(warc_ts = later), // unchanged
      prev(1).copy(warc_ts = later,  // changed payload
        html = (new String(prev(1).html, UTF_8) + "x").getBytes(UTF_8)),
      WarcKit.WarcRecord("https://site9.com/new", later, 200, "text/html",
        "<html>new</html>".getBytes(UTF_8))) // first-seen
    val out = WarcKit.dedupCapture(prev, curr)
    assert(out.map(_.warcType) == Seq("revisit", "response", "response"))
    val rev = out.head
    assert(rev.payloadDigest == WarcKit.payloadDigest(prev(0).html))
    assert(rev.refersToUri == prev(0).url)
    assert(rev.refersToTs.getTime == prev(0).warc_ts.getTime,
      "revisit points at the ORIGINAL capture's date")
    assert(rev.html.isEmpty)
    assert(out(1).html.nonEmpty && out(2).html.nonEmpty)
  }

  test("distributed classifyCapture agrees with the Seq twin on every url") {
    import spark.implicits._
    val day0 = corpus
    val day7 = RevisitQueries.secondCapture(day0)
    val seqTwin = WarcKit.dedupCapture(WarcKit.toRecords(day0), WarcKit.toRecords(day7))
      .map(a => a.url -> a.warcType).toMap
    val dist = RevisitQueries.classifyCapture(
      spark.createDataset(WarcKit.toRecords(day0)).toDF(),
      spark.createDataset(WarcKit.toRecords(day7)).toDF())
      .select("url", "warc_type").as[(String, String)].collect().toMap
    assert(dist == seqTwin, "Spark join twin == driver Seq twin")
    assert(dist.values.exists(_ == "revisit") && dist.values.exists(_ == "response"),
      "corpus exercises both branches")
  }

  test("revisit archive is materially smaller than a full re-store") {
    val day0 = corpus
    val day7 = RevisitQueries.secondCapture(day0)
    val deduped = WarcKit.dedupCapture(WarcKit.toRecords(day0), WarcKit.toRecords(day7))
    val dir = Files.createTempDirectory("graft-revisit-size").toString
    WarcKit.writeArchive(deduped, s"$dir/dedup.warc")
    WarcKit.writeWarcFile(WarcKit.toRecords(day7), s"$dir/full.warc")
    val (d, f) = (new java.io.File(s"$dir/dedup.warc").length,
      new java.io.File(s"$dir/full.warc").length)
    val revisits = deduped.count(_.warcType == "revisit")
    assert(revisits > 0)
    assert(d < f, s"dedup archive ($d B) smaller than full re-store ($f B)")
  }

  test("response records round-trip their payload digest; malformed dates don't abort the file") {
    val p = corpus.head
    val rec = WarcKit.ArchiveRecord("response", p.url, p.warc_ts, 200, "text/html",
      p.html, WarcKit.payloadDigest(p.html))
    val dir = Files.createTempDirectory("graft-resp-digest").toString
    WarcKit.writeArchive(Seq(rec), s"$dir/a.warc")
    val got = WarcKit.readArchiveRecords(spark, s"$dir/a.warc").collect()
    assert(got.length == 1)
    assert(got.head.payloadDigest == WarcKit.payloadDigest(p.html),
      "a recrawl can dedup against the archive without re-hashing payloads")
    // a record with a garbage WARC-Date must not kill the rest of the file
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://bad.com/\r\n" +
      "WARC-Date: not-a-date\r\nContent-Length: 4\r\n\r\nBODY\r\n\r\n").getBytes(UTF_8)
    val goodBytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/a.warc"))
    Files.write(java.nio.file.Paths.get(s"$dir/mixed.warc"), bad ++ goodBytes)
    val mixed = WarcKit.readArchiveRecords(spark, s"$dir/mixed.warc").collect().sortBy(_.url)
    assert(mixed.length == 2, "both records parsed")
    assert(mixed.head.url == "https://bad.com/" && mixed.head.warc_ts.getTime == 0L,
      "malformed date tolerated as epoch 0, record kept")
    assert(mixed(1).url == p.url && mixed(1).warc_ts.getTime == p.warc_ts.getTime)
  }

  test("WET conversion records: byte-exact text round-trip; response readers skip them") {
    val pages = corpus.filter(_.text.nonEmpty).take(6)
    val dir = Files.createTempDirectory("graft-wet").toString
    WarcKit.writeArchive(WarcKit.wetFromPages(pages), s"$dir/seg.warc.wet.gz", gzip = true)
    val got = WarcKit.readArchiveRecords(spark, s"$dir/seg.warc.wet.gz")
      .collect().sortBy(_.url)
    assert(got.length == pages.length && got.forall(_.warcType == "conversion"))
    got.zip(pages.sortBy(_.url)).foreach { case (g, p) =>
      assert(g.url == p.url)
      assert(new String(g.html, UTF_8) == p.text, s"byte-exact text for ${p.url}")
      assert(g.payloadDigest == WarcKit.payloadDigest(p.text.getBytes(UTF_8)))
      assert(g.refersToUri == p.url, "conversion points at its source capture")
      assert(g.contentType == "text/plain")
    }
    // the crawl-ingest (response-only) reader must not surface WET records
    assert(WarcKit.readRecords(spark, s"$dir/seg.warc.wet.gz").collect().isEmpty)
  }

  test("q_wet_export: parsed-archive digests pin the round trip") {
    val df = graft.pipeline.RevisitQueries.wetExport(spark, "/root/testdata/sf0.001").collect()
    val pages = graft.gen.CorpusGen.localPages(graft.gen.CorpusGen.Spec(2, 15))
      .sortBy(_.url)
    assert(df.length == pages.length)
    df.toSeq.sortBy(_.getString(0)).zip(pages).foreach { case (r, p) =>
      assert(r.getString(0) == p.url)
      assert(r.getLong(2) == p.text.length.toLong)
      assert(r.getString(3) == WarcKit.payloadDigest(p.text.getBytes(UTF_8)))
    }
  }

  test("q_warc_revisit: archive-held truth — zero stored bytes and pointers for revisits") {
    val df = RevisitQueries.warcRevisit(spark, "/root/testdata/sf0.001").collect()
    assert(df.nonEmpty)
    val byType = df.groupBy(_.getString(1))
    assert(byType.contains("revisit") && byType.contains("response"))
    byType("revisit").foreach { r =>
      assert(r.getLong(3) == 0L, "revisit stores no payload")
      assert(r.getString(2).startsWith("md5:"))
      assert(r.getString(4) == r.getString(0), "refers-to url is the capture url")
      assert(r.getTimestamp(5).getTime > 0L, "refers-to date points at day-0")
    }
    byType("response").foreach { r =>
      assert(r.getLong(3) > 0L, "response stores the payload")
    }
  }
}

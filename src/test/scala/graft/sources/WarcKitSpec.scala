package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.gen.CorpusGen
import graft.model.CrawlConfig

/** WARC source semantics: byte-exact record round-trips (plain and
  * member-per-record gzip), non-response records skipped, and a raw WARC
  * archive ingesting straight into the crawl engine with parity. */
class WarcKitSpec extends AnyFunSuite with SharedSpark {

  private def corpus = CorpusGen.localPages(CorpusGen.Spec(2, 12))

  test("round-trip: plain and gzip WARC preserve url, timestamp, and body bytes") {
    val pages = corpus.take(10)
    val records = WarcKit.toRecords(pages)
    val dir = Files.createTempDirectory("graft-warc").toString
    WarcKit.writeWarcFile(records, s"$dir/a.warc")
    WarcKit.writeWarcFile(records, s"$dir/b.warc.gz", gzip = true)
    WarcKit.writeWarcFile(records, s"$dir/c.warc.zst", zstd = true)
    for (f <- Seq("a.warc", "b.warc.gz", "c.warc.zst")) {
      val got = WarcKit.readRecords(spark, s"$dir/$f").collect().sortBy(_.url)
      val want = records.sortBy(_.url)
      assert(got.length == want.length, s"$f record count")
      got.zip(want).foreach { case (g, w) =>
        assert(g.url == w.url)
        assert(g.warc_ts.getTime == w.warc_ts.getTime, s"$f timestamp for ${w.url}")
        assert(g.status == 200 && g.contentType == "text/html")
        assert(java.util.Arrays.equals(g.html, w.html), s"$f body bytes for ${w.url}")
      }
    }
  }

  test("non-response records are skipped; malformed trailing bytes tolerated") {
    val pages = corpus.take(3)
    val dir = Files.createTempDirectory("graft-warc-mixed").toString
    val path = s"$dir/mixed.warc"
    // hand-build: warcinfo + request records around real responses
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\nsoftware\n\r\n\r\n"
    val req = "WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: https://x.com/\r\nContent-Length: 4\r\n\r\nGET \r\n\r\n"
    val out = new java.io.FileOutputStream(path)
    out.write(info.getBytes("UTF-8"))
    WarcKit.toRecords(pages).foreach { r =>
      out.write(req.getBytes("UTF-8"))
      val tmp = Files.createTempFile("one", ".warc")
      WarcKit.writeWarcFile(Seq(r), tmp.toString)
      out.write(Files.readAllBytes(tmp))
    }
    out.write("\r\n".getBytes("UTF-8"))
    out.close()
    val got = WarcKit.readRecords(spark, path).collect()
    assert(got.length == 3, "exactly the response records")
    assert(got.map(_.url).toSet == pages.map(_.url).toSet)
  }

  test("over-cap and 64-bit-length records are skipped without buffering; parse continues") {
    val pages = corpus.take(3)
    val dir = Files.createTempDirectory("graft-warc-cap").toString
    val path = s"$dir/cap.warc"
    val out = new java.io.FileOutputStream(path)
    // record 0: normal; record 1: big body (will exceed the test cap);
    // record 2: normal — the parser must skip 1 and still deliver 2
    val recs = WarcKit.toRecords(pages)
    val big = recs(1).copy(html = Array.fill(100000)('x'.toByte))
    Seq(recs(0), big, recs(2)).foreach { r =>
      val tmp = Files.createTempFile("one", ".warc")
      WarcKit.writeWarcFile(Seq(r), tmp.toString)
      out.write(Files.readAllBytes(tmp))
    }
    out.close()
    val got = WarcKit.parseWarcStream(new java.io.FileInputStream(path),
      gzipped = false, maxRecordBytes = 16384).toVector
    assert(got.map(_.url) == Vector(recs(0).url, recs(2).url),
      "over-cap record skipped, following records still parsed")
    // malformed Content-Length tolerated (treated as 0, record skipped)
    val weird = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w.com/\r\nContent-Length: 2x\r\n\r\n"
    val bytes = weird.getBytes("UTF-8") ++ Files.readAllBytes(java.nio.file.Paths.get(path))
    val got2 = WarcKit.parseWarcStream(new java.io.ByteArrayInputStream(bytes),
      gzipped = false, maxRecordBytes = 16384).toVector
    assert(got2.exists(_.url == recs(0).url))
  }

  test("pagesFromWarc → CrawlEngine: raw archive crawls with byte parity") {
    import spark.implicits._
    val pages = corpus
    val dir = Files.createTempDirectory("graft-warc-ingest").toString
    // shard across two gz files — file-level parallelism path
    val (h1, h2) = pages.partition(_.url.contains("site0"))
    WarcKit.writeWarcFile(WarcKit.toRecords(h1), s"$dir/seg-0.warc.gz", gzip = true)
    WarcKit.writeWarcFile(WarcKit.toRecords(h2), s"$dir/seg-1.warc.gz", gzip = true)
    val ingested = WarcKit.pagesFromWarc(spark, s"$dir/*.warc.gz")
    assert(ingested.count() == pages.length)
    val cfg = CrawlConfig(
      seeds = Seq("https://site0.com/", "https://site1.com/"),
      maxDepth = 2, maxPages = 30, perHostBudget = 4,
      excludePatterns = Seq("external-data.org", "*.external-data.org"))
    val stateDir = Files.createTempDirectory("graft-warc-crawl").toString
    val summary = graft.crawl.CrawlEngine.run(spark, ingested, cfg, stateDir)
    assert(summary.fetchedTotal > 0)
    assert(summary.parityFailures == 0,
      "warc-ingested pages must extract byte-identically (same kernels)")
  }
}

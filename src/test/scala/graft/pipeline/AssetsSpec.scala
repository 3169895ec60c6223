package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import graft.SharedSpark
import graft.extract.Mime
import graft.model.PageRow

/** MIME detection (mime.rs parity) + the asset download/dedup pipeline. */
class AssetsSpec extends AnyFunSuite with SharedSpark {

  test("mime from extension: reference static-mapping cases (mime.rs:12-40)") {
    assert(Mime.mimeFromUrl("https://x/a.jpg").contains("image/jpeg"))
    assert(Mime.mimeFromUrl("https://x/a.JPEG?s=1").contains("image/jpeg"))
    assert(Mime.mimeFromUrl("https://x/report.docx").contains(
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
    assert(Mime.mimeFromUrl("https://x/a.mp4").isEmpty)
    assert(Mime.mimeFromUrl("https://x/dir/").isEmpty)
    assert(Mime.assetTypeFromUrl("https://x/a.svg") == Mime.Image)
    assert(Mime.assetTypeFromUrl("https://x/a.epub") == Mime.Document)
    assert(Mime.assetTypeFromUrl("https://x/a.exe") == Mime.Unknown)
    assert(Mime.isAssetUrl("https://x/a.png") && !Mime.isAssetUrl("https://x/a"))
  }

  test("mime from magic bytes: image/document families, text sniff, unknown") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    assert(Mime.mimeFromBytes(b(0xff, 0xd8, 0xff, 0xe0)).contains("image/jpeg"))
    assert(Mime.mimeFromBytes(b(0x89) ++ "PNG\r\n".getBytes(UTF_8)).contains("image/png"))
    assert(Mime.mimeFromBytes("GIF89a...".getBytes(UTF_8)).contains("image/gif"))
    assert(Mime.mimeFromBytes("RIFF1234WEBPVP8".getBytes(UTF_8)).contains("image/webp"))
    assert(Mime.mimeFromBytes("%PDF-1.7".getBytes(UTF_8)).contains("application/pdf"))
    assert(Mime.mimeFromBytes("PKzip".getBytes(UTF_8)).contains("application/zip"))
    assert(Mime.mimeFromBytes(b(0x49, 0x49, 0x2a, 0x00)).contains("image/tiff"))
    assert(Mime.mimeFromBytes(b(0x4d, 0x4d, 0x00, 0x2a)).contains("image/tiff"))
    assert(Mime.mimeFromBytes("  <svg xmlns='x'/>".getBytes(UTF_8)).contains("image/svg+xml"))
    assert(Mime.mimeFromBytes("{\"k\": 1}".getBytes(UTF_8)).contains("application/json"))
    assert(Mime.mimeFromBytes(Array[Byte](7, 42, 99)).isEmpty)
    assert(Mime.mimeFromBytes(Array.emptyByteArray).isEmpty)
    // HTML payloads sniff as text/html, NEVER as xml/Document — a soft-404
    // error page served at an asset URL must not flip the asset to document
    assert(Mime.mimeFromBytes("<!DOCTYPE html><html>...".getBytes(UTF_8)).contains("text/html"))
    assert(Mime.mimeFromBytes("<html><body>404".getBytes(UTF_8)).contains("text/html"))
    assert(Mime.mimeFromBytes("<p>fragment</p>".getBytes(UTF_8)).isEmpty, "bare '<' is not xml")
    assert(Mime.assetTypeFromBytes("<html>err".getBytes(UTF_8)) == Mime.Unknown)
    // classification: bytes beat extension; extension is the fallback
    assert(Mime.detect("https://x/disguised.txt", b(0xff, 0xd8, 0xff)) == ((Mime.Image, "image/jpeg")))
    assert(Mime.detect("https://x/a.pdf", null) == ((Mime.Document, "application/pdf")))
    // html error body at an image URL: truthful mime, type falls back to ext
    assert(Mime.detect("https://x/logo.png", "<html>404".getBytes(UTF_8)) == ((Mime.Image, "text/html")))
  }

  test("assetsTable: refs aggregated, payload join, sha-256 content dedup") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G') ++ "same-bytes".getBytes(UTF_8)
    val html1 = """<html><body>
      |<img src="/img/a.png" alt="first">
      |<img src="/img/a.png" alt="first-again">
      |<img src="/img/b.png" alt="second">
      |<a href="/files/spec.pdf">spec</a>
      |<img src="/img/missing.png" alt="gone">
      |</body></html>""".stripMargin
    val pages = spark.createDataset(Seq(
      PageRow("https://s.com/page", ts, html1.getBytes(UTF_8), "", "en"),
      // two asset urls serving IDENTICAL bytes → dedup collapses to min url
      PageRow("https://s.com/img/a.png", ts, png, "", ""),
      PageRow("https://s.com/img/b.png", ts, png, "", ""),
      PageRow("https://s.com/files/spec.pdf", ts, "%PDF-1.4 body".getBytes(UTF_8), "", "")))
    val out = Assets.assetsTable(spark, pages).collect()
      .map(r => r.getAs[String]("asset_url") -> r).toMap
    assert(out.size == 4)
    val a = out("https://s.com/img/a.png")
    assert(a.getAs[Long]("n_refs") == 2, "both img tags for a.png counted")
    assert(a.getAs[Boolean]("downloaded") && a.getAs[String]("mime") == "image/png")
    assert(a.getAs[String]("detected_type") == "image")
    val b = out("https://s.com/img/b.png")
    assert(b.getAs[String]("sha256") == a.getAs[String]("sha256"))
    assert(b.getAs[String]("dup_of") == "https://s.com/img/a.png", "content dedup keeps min url")
    assert(a.getAs[String]("dup_of") == "https://s.com/img/a.png")
    val pdf = out("https://s.com/files/spec.pdf")
    assert(pdf.getAs[String]("detected_type") == "document" && pdf.getAs[Boolean]("downloaded"))
    assert(pdf.getAs[Long]("bytes") == "%PDF-1.4 body".length.toLong)
    val missing = out("https://s.com/img/missing.png")
    assert(!missing.getAs[Boolean]("downloaded") && missing.getAs[String]("sha256").isEmpty)
    assert(missing.getAs[String]("dup_of") == "https://s.com/img/missing.png")
    assert(missing.getAs[String]("mime") == "image/png", "extension fallback for undownloaded")
  }

  test("crawlAssets query: deterministic, planted payloads dedup by content group") {
    val r1 = Assets.crawlAssets(spark, "unused").collect()
    val r2 = Assets.crawlAssets(spark, "unused").collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq, "deterministic")
    assert(r1.nonEmpty)
    val downloaded = r1.filter(_.getAs[Boolean]("downloaded"))
    assert(downloaded.nonEmpty, "planted payloads must download")
    // payload groups (urlHash % 4) → at least one sha shared by 2+ urls
    val bySha = downloaded.groupBy(_.getAs[String]("sha256"))
    assert(bySha.exists(_._2.length > 1), "content dedup must fire on a shared payload")
    bySha.foreach { case (_, rows) =>
      val keep = rows.map(_.getAs[String]("asset_url")).min
      assert(rows.forall(_.getAs[String]("dup_of") == keep))
    }
  }
}

package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.sources.Compression

class ExportersSpec extends AnyFunSuite with SharedSpark {

  test("validateVectors: dims mismatch, NaN, Inf, null rejected with reasons") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 2f, 3f)),
      (2L, Array(1f, 2f)), // wrong dims
      (3L, Array(1f, Float.NaN, 3f)), // NaN
      (4L, Array(1f, Float.PositiveInfinity, 3f)), // Inf
      (5L, Array(0f, 0f, 0f))
    ).toDF("id", "vec")
    val (ok, rejected) = Exporters.validateVectors(df, "vec", dims = 3)
    assert(ok.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
    val reasons = rejected.select("id", "_reject_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(2L) == "dimension_mismatch")
    assert(reasons(3L) == "nan_component")
    assert(reasons(4L) == "inf_component")
  }

  test("validateChunks splits empty content / missing url") {
    import spark.implicits._
    val df = Seq(
      ("c1", "https://a/1", "real content here"),
      ("c2", "https://a/2", "   "),
      ("c3", "", "content")
    ).toDF("id", "url", "content")
    val (valid, invalid) = Exporters.validateChunks(df)
    assert(valid.count() == 1)
    assert(invalid.count() == 2)
  }

  test("writeJsonl produces one JSON object per line, append-able") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/out"
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    Exporters.writeJsonl(df, dir)
    Exporters.writeJsonl(df, dir) // append
    val lines = spark.read.textFile(dir).collect()
    assert(lines.length == 4)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("writeVectors records dims metadata and filters invalid rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vec").toString
    val df = Seq((1L, Array(1f, 2f)), (2L, Array(1f, Float.NaN)), (3L, Array(1f, 2f, 3f)))
      .toDF("id", "vec")
    val n = Exporters.writeVectors(spark, df, "vec", dims = 2, dir)
    assert(n == 1)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "metadata.json")), "UTF-8")
    assert(meta.contains("\"dimensions\": 2"))
    assert(meta.contains("\"count\": 1"))
  }

  test("writeVault: one file per page at domain/safe-filename, all formats, dedup by path") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    def page(url: String, body: String) = graft.model.PageRow(url, ts,
      s"<html><head><title>T</title></head><body><p>$body padding words to clear the extraction minimum threshold easily</p></body></html>"
        .getBytes("UTF-8"), "", "eng")
    val pages = spark.createDataset(Seq(
      page("https://www.ex.com/blog/post1/", "first"),
      page("https://ex.com/blog/post1", "www-variant collides on path"), // same output path
      page("https://ex.com/docs/guide", "second"),
      graft.model.PageRow("https://ex.com/robots.txt", ts, "User-agent: *".getBytes("UTF-8"), "", "")))
    val dir = java.nio.file.Files.createTempDirectory("graft-vault").toString
    val n = Exporters.writeVault(spark, pages, dir)
    assert(n == 2, s"2 distinct output paths (robots skipped, collision deduped), got $n")
    val post = java.nio.file.Paths.get(dir, "ex.com/blog-post1.md")
    assert(java.nio.file.Files.exists(post))
    val content = new String(java.nio.file.Files.readAllBytes(post), "UTF-8")
    assert(content.startsWith("---\n"), "frontmatter present")
    // path collision resolved deterministically: min url wins
    assert(content.contains("url: \"https://ex.com/blog/post1\""),
      s"min-url representative must win the path collision: $content")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "ex.com/docs-guide.md")))
    // txt + json formats
    val n2 = Exporters.writeVault(spark, pages, dir + "-txt", format = "txt")
    assert(n2 == 2)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "-txt", "ex.com/docs-guide.txt")), "UTF-8")
    assert(txt.contains("second") && !txt.contains("---"))
    Exporters.writeVault(spark, pages, dir + "-json", format = "json")
    val js = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "-json", "ex.com/docs-guide.json")), "UTF-8")
    assert(js.contains("\"url\": \"https://ex.com/docs/guide\""))
  }

  // --- compression (compression_handler.rs tests) ---
  test("compression: gzip round-trip, magic detection, passthrough") {
    val payload = "the quick brown fox".getBytes("UTF-8")
    val gz = Compression.gzip(payload)
    assert(Compression.detect(gz) == Compression.Gzip)
    assert(Compression.detectAndDecompress(gz).toOption.get.sameElements(payload))
    assert(Compression.detect(payload) == Compression.None)
    assert(Compression.detectAndDecompress(payload).toOption.get.sameElements(payload))
  }

  test("compression: url extension fallback, unsupported codecs reported") {
    assert(Compression.detect("plain".getBytes, "https://x/s.xml.gz") == Compression.Gzip)
    assert(Compression.detect(Array(0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte)) == Compression.Zstd)
    // brotli: no jar in this environment → detected, reported, never passed through
    assert(Compression.detect("plain".getBytes, "https://x/s.br") == Compression.Brotli)
    assert(Compression.detectAndDecompress("plain".getBytes, "https://x/s.br") ==
      Left("brotli_unsupported_no_jar"))
  }

  test("compression: zstd round-trip, multi-frame, bomb cap, corrupt stream") {
    val payload = "zstandard payload for the crawl".getBytes("UTF-8")
    val z = Compression.zstd(payload)
    assert(Compression.detect(z) == Compression.Zstd)
    assert(Compression.detectAndDecompress(z).toOption.get.sameElements(payload))
    // concatenated frames decode as one stream (continuous mode)
    val two = Compression.zstd(payload) ++ Compression.zstd(payload)
    assert(Compression.detectAndDecompress(two).toOption.get.sameElements(payload ++ payload))
    // decompression bomb: >100 MB of zeros compresses tiny, must hit the cap
    val bomb = Compression.zstd(new Array[Byte](Compression.MaxDecompressedBytes + 1024))
    assert(bomb.length < 1024 * 1024)
    assert(Compression.detectAndDecompress(bomb) == Left("decompression_bomb"))
    // corrupt: valid magic, garbage body
    val bad = Array[Byte](0x28.toByte, 0xb5.toByte, 0x2f.toByte, 0xfd.toByte, 9, 9, 9)
    assert(Compression.detectAndDecompress(bad).isLeft)
  }

  test("compression: corrupt gzip yields error not crash") {
    val bad = Array[Byte](0x1f.toByte, 0x8b.toByte, 1, 2, 3)
    assert(Compression.detectAndDecompress(bad).isLeft)
  }

  // --- multimodal plumbing ---
  test("multimodal features: deterministic, batched, schema intact") {
    val a = graft.multimodal.Multimodal.mediaFeaturesQuery(spark, "/root/testdata/sf0.001").collect()
    val b = graft.multimodal.Multimodal.mediaFeaturesQuery(spark, "/root/testdata/sf0.001").collect()
    assert(a.length == 500)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    // video payloads are the 256-byte opaque stub; image payloads are real
    // PNGs (decoded content = w*h*3 pixel bytes); audio payloads are real
    // WAVs whose decoded content is the id-varied PCM byte count
    assert(a.filter(r => r.getString(1) == "video").forall(_.getLong(2) == 256))
    assert(a.filter(r => r.getString(1) == "image").forall(_.getLong(2) > 100))
    assert(a.filter(r => r.getString(1) == "audio").forall { r =>
      val id = r.getLong(0)
      r.getLong(2) == 2L * (128 + (id % 32) * 8)
    })
    val kinds = a.map(_.getString(1)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("image decode is real: PNG round-trips to the exact xorshift pixel mean") {
    // recompute the expected mean straight from the generator stream —
    // independent of ImageIO's decode path; equality proves the PNG was
    // actually decoded back to the original pixels
    val (id, w, h) = (42L, 24, 16)
    val payload = graft.multimodal.Multimodal.imagePayload(id, w, h)
    assert(payload.length > 8 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte, "real PNG signature")
    var x = id * 0x9E3779B97F4A7C15L + 0x1a9eL
    var s = 0L
    for (_ <- 0 until w * h) {
      x ^= (x << 13); x ^= (x >>> 7); x ^= (x << 17)
      val rgb = (x & 0xffffff).toInt
      s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    val want = s.toDouble / (3.0 * w * h) / 255.0
    val got = (new graft.multimodal.Multimodal.MediaDecoder).decodeMean(payload)
    assert(got == want, s"decoded pixel mean $got must equal generator mean $want")
    // and a non-PNG, non-WAV payload takes the stub branch, not a codec
    val stub = (new graft.multimodal.Multimodal.MediaDecoder)
      .decodeMean(graft.multimodal.Multimodal.fakePayload(7L, "video"))
    assert(stub > 0.0 && stub < 1.0)
  }

  test("audio decode is real: WAV round-trips to the exact xorshift PCM bytes") {
    // recompute the expected PCM straight from the generator stream —
    // independent of AudioSystem's decode path; byte equality proves the
    // WAV container was actually parsed back to the original samples
    val (id, n) = (42L, 96)
    val payload = graft.multimodal.Multimodal.audioPayload(id, 16000, n)
    assert(payload.length > 44, "real WAV container (header + PCM)")
    assert(payload(0) == 'R'.toByte && payload(8) == 'W'.toByte, "RIFF/WAVE signature")
    val want = new Array[Byte](n * 2)
    var x = id * 0x9E3779B97F4A7C15L + 0xa0d10L
    for (i <- 0 until n) {
      x ^= (x << 13); x ^= (x >>> 7); x ^= (x << 17)
      want(2 * i) = (x & 0xff).toByte
      want(2 * i + 1) = ((x >>> 8) & 0xff).toByte
    }
    val got = (new graft.multimodal.Multimodal.MediaDecoder).decodedBytes(payload)
    assert(got.sameElements(want), "decoded PCM must equal generated samples byte-for-byte")
  }

  test("corrupt media containers are quarantined, not fatal") {
    val dec = new graft.multimodal.Multimodal.MediaDecoder
    // truncated PNG: sniffs as PNG, cannot decode
    val png = graft.multimodal.Multimodal.imagePayload(5L, 16, 16)
    val truncated = png.take(20)
    val (c1, ok1) = dec.decodedBytesSafe(truncated)
    assert(!ok1 && c1.sameElements(truncated), "fallback = raw payload, flagged")
    // RIFF/WAVE magic on garbage: sniffs as WAV, cannot parse chunks
    val fakeWav = ("RIFF" + "    " + "WAVE" + "garbage-no-fmt-chunk")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val (c2, ok2) = dec.decodedBytesSafe(fakeWav)
    assert(!ok2 && c2.sameElements(fakeWav))
    // TRUNCATED WAV: header parses, PCM reads short with no exception —
    // must still be flagged (compared against the declared frame count)
    val wav = graft.multimodal.Multimodal.audioPayload(9L, 16000, 64)
    val cutWav = wav.take(wav.length - 50)
    val (c4, ok4) = dec.decodedBytesSafe(cutWav)
    assert(!ok4 && c4.sameElements(cutWav), "short PCM read must be quarantined")
    // valid payloads through the same safe path stay ok
    val (c3, ok3) = dec.decodedBytesSafe(png)
    assert(ok3 && c3.length == 16 * 16 * 3)
    assert(dec.decodedBytesSafe(wav)._2)
    // and a whole job over a table WITH corrupt rows completes, flagging
    // them per-row and counting them into the driver-visible accumulator
    import spark.implicits._
    val rows = Seq(
      graft.multimodal.Multimodal.MediaRow(1L, "image", truncated, 16, 16, 0),
      graft.multimodal.Multimodal.MediaRow(2L, "image", png, 16, 16, 0),
      graft.multimodal.Multimodal.MediaRow(3L, "audio", cutWav, 0, 0, 16000)).toDS()
    val acc = spark.sparkContext.longAccumulator("media-decode-failures")
    val feats = graft.multimodal.Multimodal.extractFeatures(spark, rows, Some(acc))
      .collect().sortBy(_.media_id)
    assert(!feats(0).decodeOk && feats(0).n_bytes == truncated.length.toLong)
    assert(feats(1).decodeOk && feats(1).n_bytes == 16L * 16L * 3L)
    assert(!feats(2).decodeOk && feats(2).n_bytes == cutWav.length.toLong)
    assert(acc.value == 2L, "quarantined rows counted on the driver")
  }

  test("multimodal batch shape: results independent of batch size") {
    import spark.implicits._
    val media = graft.multimodal.Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
    def key(f: graft.multimodal.Multimodal.MediaFeatures) =
      (f.media_id, f.sha256, f.thumbnailMean, f.byteHistogram.toSeq)
    val tiny = graft.multimodal.Multimodal.decodeBatches(spark, media, batchSize = 1)
      .collect().map(key).sortBy(_._1)
    val big = graft.multimodal.Multimodal.decodeBatches(spark, media, batchSize = 512)
      .collect().map(key).sortBy(_._1)
    assert(tiny.sameElements(big), "batch boundaries must not change results")
    // and batch interface agrees with the row interface (histograms included)
    val rowWise = graft.multimodal.Multimodal.extractFeatures(spark, media)
      .collect().map(key).sortBy(_._1)
    assert(tiny.sameElements(rowWise))
  }

  test("multimodal resize: exact nearest-neighbor index math") {
    // 4x2 source grid, values = index; resize to 2x1 → picks (0,0) and (0,2)
    val src = Array.tabulate(8)(_.toByte)
    val out = graft.multimodal.Multimodal.resizeStub(src, w = 4, h = 2, tw = 2, th = 1)
    assert(out.toSeq == Seq(0.toByte, 2.toByte))
    // upscale 2x1 → 4x2 replicates columns/rows
    val up = graft.multimodal.Multimodal.resizeStub(Array[Byte](10, 20), w = 2, h = 1, tw = 4, th = 2)
    assert(up.toSeq == Seq[Byte](10, 10, 20, 20, 10, 10, 20, 20))
  }

  test("multimodal frame sampling: every-2nd 64-byte frame, deterministic explode") {
    val dec = new graft.multimodal.Multimodal.MediaDecoder
    val m = graft.multimodal.Multimodal.MediaRow(7L, "video",
      graft.multimodal.Multimodal.fakePayload(7L, "video", 256), 64, 48, 0)
    val frames = graft.multimodal.Multimodal.sampleFrames(m, dec) // 256/64 = 4 frames, stride 2
    assert(frames.map(_.frame_idx) == Seq(0, 2))
    assert(frames.forall(_.n_bytes == 64))
    assert(frames == graft.multimodal.Multimodal.sampleFrames(m, dec), "deterministic")
    // trailing partial frame is emitted, not dropped (ceil division)
    val odd = m.copy(payload = graft.multimodal.Multimodal.fakePayload(7L, "video", 300))
    val oddFrames = graft.multimodal.Multimodal.sampleFrames(odd, dec)
    assert(oddFrames.map(_.frame_idx) == Seq(0, 2, 4))
    assert(oddFrames.last.n_bytes == 300 - 4 * 64)
    val q = graft.multimodal.Multimodal.mediaFramesQuery(spark, "/root/testdata/sf0.001")
    assert(q.count() > 0)
    assert(q.select("media_id").distinct().count() < q.count(), "explode fan-out")
  }
}

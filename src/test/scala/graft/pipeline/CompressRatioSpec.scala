package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the Deflate-ratio quality signal: the distributed
  * kernel equals a local replay of the same pinned-level Deflater, the
  * physics orders template spam < prose < incompressible junk, bands cut
  * at the documented thresholds, and degenerate inputs stay defined. */
class CompressRatioSpec extends AnyFunSuite with SharedSpark {

  private def run(docsSeq: Seq[(String, String)]) = {
    import spark.implicits._
    CompressRatio.compressRatioKernel(docsSeq.toDF("doc_id", "text")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
  }

  test("kernel equals a local replay; physics orders the three regimes") {
    // template spam: one phrase repeated; prose: natural-ish sentence mix;
    // junk: md5 hex stream (near-incompressible for its length)
    val spam = Array.fill(200)("click here to win now").mkString(" ")
    val prose = "the crawler fetched a page and extracted its text while " +
      "politeness budgets throttled the host queue under watermarked state " +
      "and every wave committed a snapshot before the frontier advanced"
    // near-uniform draw over the 94 printable ASCII symbols (~6.55
    // bits/char — hex would be a 16-symbol alphabet and entropy-code to
    // ~500‰, BELOW prose; alphabet width is the whole game here)
    val junk = (0 until 120).flatMap(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map(b => (33 + ((b & 0xff) % 94)).toChar))
      .mkString
    val out = run(Seq("spam" -> spam, "prose" -> prose, "junk" -> junk))
    out.foreach { case (id, (rawLen, compLen, ratio, _)) =>
      val text = Map("spam" -> spam, "prose" -> prose, "junk" -> junk)(id)
      assert(rawLen == text.getBytes("UTF-8").length.toLong)
      assert(compLen == CompressRatio.deflateLen(text),
        "distributed kernel must equal the local pinned-level Deflater")
      assert(ratio == 1000L * compLen / rawLen)
    }
    assert(out("spam")._3 < out("prose")._3 && out("prose")._3 < out("junk")._3,
      "template < prose < junk in compression ratio")
    assert(out("spam")._4 == "low" && out("junk")._4 == "high",
      "bands flag the two pathological regimes")
  }

  test("degenerate inputs stay defined and deterministic") {
    val out = run(Seq("empty" -> "", "one" -> "x"))
    val (rawE, compE, ratioE, _) = out("empty")
    assert(rawE == 0L && compE > 0L && ratioE == 1000L * compE,
      "empty text: deflate emits a terminator; the div-by-zero guard holds")
    assert(out("one")._1 == 1L && out("one")._2 > 0L)
    // repartitioning cannot change a per-row map
    import spark.implicits._
    val df = Seq("a" -> "some text here", "b" -> "other text").toDF("doc_id", "text")
    val r1 = CompressRatio.compressRatioKernel(df).collect().toSeq
    val r4 = CompressRatio.compressRatioKernel(df.repartition(4)).collect().toSeq
    assert(r1 == r4)
  }
}

package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the image quality audit: exact integer metrics on
  * constructed frames, the variance identity against a direct two-pass
  * computation, and the planted defect classes materializing. */
class ImageQualitySpec extends AnyFunSuite with SharedSpark {

  private def rgb(pixels: Seq[Int]): Array[Byte] =
    pixels.flatMap(g => Seq(g.toByte, g.toByte, g.toByte)).toArray

  test("solid card: zero contrast, blank, exposure by level") {
    val (n, mean, contrast, blank, exp) = ImageQuality.auditPixels(rgb(Seq.fill(100)(128)))
    assert((n, mean, contrast, blank, exp) == ((100L, 128L, 0L, true, "ok")))
    assert(ImageQuality.auditPixels(rgb(Seq.fill(10)(5)))._5 == "under")
    assert(ImageQuality.auditPixels(rgb(Seq.fill(10)(250)))._5 == "over")
  }

  test("contrast equals the direct population-σ floor on a two-level frame") {
    // half 0, half 200: mean 100, variance 100² = 10000, σ = 100
    val (_, mean, contrast, blank, _) =
      ImageQuality.auditPixels(rgb(Seq.fill(50)(0) ++ Seq.fill(50)(200)))
    assert(mean == 100L && contrast == 100L && !blank)
    // direct check of the identity on an uneven mix
    val pix = Seq.fill(30)(10) ++ Seq.fill(70)(180)
    val got = ImageQuality.auditPixels(rgb(pix))._3
    val m = pix.map(_.toLong).sum / pix.length
    val varFloor = pix.map(p => (p - m) * (p - m)).sum / pix.length
    // sum-of-squares identity truncates once; both floors within 1
    assert(math.abs(got - AudioQuality.isqrt(varFloor)) <= 1L)
  }

  test("contract query: planted defect classes materialize; corpus images healthy") {
    val rows = ImageQuality.imageQuality(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getString(5), r.getBoolean(6))))
      .toMap
    val gray = rows(ImageQuality.PlantBase)
    assert(gray == ((128L, 0L, true, "ok", true)), s"solid gray: $gray")
    assert(rows(ImageQuality.PlantBase + 1)._4 == "under")
    assert(rows(ImageQuality.PlantBase + 2)._4 == "over")
    val corpus = rows.filter(_._1 < ImageQuality.PlantBase)
    assert(corpus.nonEmpty)
    assert(corpus.values.forall { case (mean, contrast, blank, exp, ok) =>
      ok && !blank && exp == "ok" && contrast > 30L
    }, "xorshift noise images are healthy: high contrast, mid exposure")
  }
}

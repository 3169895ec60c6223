package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for perceptual image hashing: exact invariance to uniform
  * brightness shifts, tolerance of a one-pixel retouch, separation of
  * unrelated images, and the contract plants landing as near-dup pairs that
  * byte-level dedup provably misses. */
class ImageDhashSpec extends AnyFunSuite with SharedSpark {

  private def img(w: Int, h: Int)(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, f(x, y))
    im
  }

  test("uniform brightness shift cancels exactly: identical dHash") {
    // structured image with pixel values in 0..199 so +20 never clamps
    def base(x: Int, y: Int): Int = {
      val g = (x * 7 + y * 3) % 200
      (g << 16) | (g << 8) | g
    }
    def brighter(x: Int, y: Int): Int = {
      val g = (x * 7 + y * 3) % 200 + 20
      (g << 16) | (g << 8) | g
    }
    val a = ImageDhash.dhashOfImage(img(64, 48)(base))
    val b = ImageDhash.dhashOfImage(img(64, 48)(brighter))
    assert(a == b, "gradients are unchanged by a uniform shift — dHash must be identical")
  }

  test("one-pixel retouch moves at most a couple of bits; unrelated images sit far apart") {
    val donor = Multimodal.imagePayload(0L, 64, 48)
    val retouched = ImageDhash.perturb(donor)
    assert(!java.util.Arrays.equals(donor, retouched),
      "the retouch must change the container bytes (byte dedup misses it)")
    val da = ImageDhash.dhashOfImage(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(donor)))
    val db = ImageDhash.dhashOfImage(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(retouched)))
    assert(java.lang.Long.bitCount(da ^ db) <= 2,
      "a one-pixel edit moves one cell average by <= 1/area")
    val other = ImageDhash.dhashOfImage(
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.imagePayload(6L, 112, 48))))
    assert(java.lang.Long.bitCount(da ^ other) >= 10,
      "unrelated noise images concentrate near Hamming 32")
  }

  test("contract query: every planted copy pairs with its donor within MaxDist") {
    val rows = ImageDhash.imageDhash(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    ImageDhash.DonorIds.foreach { d =>
      val hit = rows.find(p => p._1 == d && p._2 == d + ImageDhash.PlantOffset)
      assert(hit.isDefined, s"planted copy of donor $d must be found")
      assert(hit.get._3 <= ImageDhash.MaxDist.toLong)
    }
    // no false positives among the random-noise corpus images themselves
    assert(rows.forall(p => p._2 >= ImageDhash.PlantOffset),
      s"noise corpus images must not pair with each other (got ${rows.toSeq})")
  }
}

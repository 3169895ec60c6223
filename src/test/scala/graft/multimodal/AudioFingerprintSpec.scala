package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the audio fingerprint: gain invariance, the
  * one-sample-edit bit bound, unrelated-take separation, and planted-copy
  * recovery through the contract query. */
class AudioFingerprintSpec extends AnyFunSuite with SharedSpark {

  private def tone(n: Int, period: Int, amp: Int): Array[Int] =
    Array.tabulate(n)(i => if ((i / period) % 2 == 0) amp else -amp)

  test("uniform gain scaling preserves the fingerprint exactly") {
    val base = Array.tabulate(650)(i => ((i * 37) % 201) - 100)
    val scaled = base.map(_ * 3)
    assert(AudioFingerprint.fingerprintOfSamples(base) ==
      AudioFingerprint.fingerprintOfSamples(scaled))
  }

  test("one-sample edit flips at most two bits (the perturb bound)") {
    val base = Array.tabulate(650)(i => ((i * 91) % 401) - 200)
    val edited = base.clone()
    edited(base.length / 2) += 1
    val d = java.lang.Long.bitCount(
      AudioFingerprint.fingerprintOfSamples(base) ^
        AudioFingerprint.fingerprintOfSamples(edited))
    assert(d <= 2, s"one-sample edit moved $d bits")
  }

  test("unrelated takes separate far beyond the confirm threshold") {
    // rising-energy vs falling-energy staircases: opposite gradients on
    // every frame boundary -> near-complement fingerprints
    val rising = Array.tabulate(650)(i => (i / 10) + 1)
    val falling = Array.tabulate(650)(i => 66 - (i / 10))
    val d = java.lang.Long.bitCount(
      AudioFingerprint.fingerprintOfSamples(rising) ^
        AudioFingerprint.fingerprintOfSamples(falling))
    assert(d > AudioFingerprint.MaxDist * 4, s"separation only $d bits")
  }

  test("wav round-trip: encode + decode reproduces the samples exactly") {
    val s = tone(650, 7, 1234)
    val decoder = new Multimodal.MediaDecoder
    val back = AudioQuality.samplesOf(
      decoder.decodedBytesSafe(AudioFingerprint.wavOf(s))._1)
    assert(back.toSeq == s.toSeq)
  }

  test("contract query: every planted copy pairs with its donor at <= MaxDist") {
    val rows = AudioFingerprint.audioFingerprint(spark, "/root/testdata/sf0.001").collect()
    val planted = rows.filter(r =>
      r.getLong(1) >= AudioFingerprint.PlantOffset &&
        r.getLong(1) - AudioFingerprint.PlantOffset == r.getLong(0))
    assert(planted.length == 3, s"expected 3 donor-copy pairs, got ${planted.length}")
    planted.foreach(r => assert(r.getLong(4) <= AudioFingerprint.MaxDist))
    rows.foreach(r => assert(r.getLong(0) < r.getLong(1), "canonical pair order"))
  }
}

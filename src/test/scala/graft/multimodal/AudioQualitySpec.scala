package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the audio quality audit: exact integer metrics on
  * constructed takes, isqrt exactness at boundaries, quarantine on corrupt
  * containers, and the planted classes materializing in the contract. */
class AudioQualitySpec extends AnyFunSuite with SharedSpark {

  test("isqrt is exact on perfect squares and their neighbors, up to int64 scale") {
    for (r <- Seq(0L, 1L, 2L, 255L, 32768L, 1000000L, 3037000498L)) {
      val sq = r * r
      assert(AudioQuality.isqrt(sq) == r)
      if (sq > 0) assert(AudioQuality.isqrt(sq - 1) == r - 1)
      assert(AudioQuality.isqrt(sq + 2 * r) == r, "floor just below the next square")
    }
  }

  test("audit kernel: silence, clipping, rms and peak are exact integers") {
    // half zeros, half at 8000: silence exactly 500‰, no clipping,
    // rms = isqrt(8000²/2)·1000/32768 = 5656·1000/32768 = 172
    val (n, sil, clip, rms, peak) =
      AudioQuality.auditSamples(Array.tabulate(256)(i => if (i < 128) 0 else 8000))
    assert((n, sil, clip, peak) == ((256L, 500L, 0L, 8000L)))
    assert(rms == AudioQuality.isqrt(8000L * 8000L / 2) * 1000L / 32768L)
    // full-scale square wave: clipping 1000‰, peak 32768 (the negative rail)
    val clippedTake =
      AudioQuality.auditSamples(Array.tabulate(64)(i => if (i % 2 == 0) 32767 else -32768))
    assert(clippedTake._3 == 1000L)
    assert(clippedTake._5 == 32768L)
  }

  test("contract query: planted classes materialize; corpus audio is full-scale noise") {
    val rows = AudioQuality.audioQuality(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6))))
      .toMap
    val half = rows(AudioQuality.PlantBase)
    assert(half._1 == 500L && half._4, s"half-silent plant: $half")
    val clipped = rows(AudioQuality.PlantBase + 1)
    assert(clipped._2 == 1000L, s"clipped plant: $clipped")
    val whisper = rows(AudioQuality.PlantBase + 2)
    assert(whisper._1 == 1000L && whisper._2 == 0L && whisper._3 <= 5L,
      s"whisper plant sits under the silence floor with low rms: $whisper")
    // corpus xorshift audio: essentially no silence, healthy rms
    val corpus = rows.filter(_._1 < AudioQuality.PlantBase)
    assert(corpus.nonEmpty)
    assert(corpus.values.forall { case (sil, _, rms, ok) => ok && sil < 100L && rms > 300L })
  }

  test("quarantine: a truncated WAV reports decode_ok=false with zeroed metrics") {
    import spark.implicits._
    val good = Multimodal.audioPayload(1L)
    val bad = good.take(good.length - 9) // cut mid-PCM
    val rows = spark.createDataset(Seq(
        Multimodal.MediaRow(1L, "audio", bad, 0, 0, 16000)))
      .mapPartitions { it =>
        val d = new Multimodal.MediaDecoder
        it.map { m =>
          val (content, ok) = d.decodedBytesSafe(m.payload)
          val a = if (ok) AudioQuality.auditSamples(Array.empty[Int]) else (0L, 0L, 0L, 0L, 0L)
          (m.media_id, ok)
        }
      }.collect()
    assert(rows.head._2 == false)
  }
}

package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for scene-cut detection: hand-built payloads with known
  * energy profiles (hard cut, gradual ramp, noise floor, warmup), and
  * contract determinism over the synthetic media table. */
class SceneCutsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** Video payload of 64-byte frames, each filled with a constant value. */
  private def payloadOf(frameValues: Seq[Int]): Array[Byte] =
    frameValues.flatMap(v => Array.fill(64)(v.toByte)).toArray

  private def cutsOf(videos: Seq[(Long, Seq[Int])]) = {
    val rows = videos.flatMap { case (id, vals) =>
      val m = Multimodal.MediaRow(id, "video", payloadOf(vals), 0, 0, 0)
      val dec = new Multimodal.MediaDecoder
      Multimodal.sampleFrames(m, dec, stride = 1)
    }
    SceneCuts.sceneCuts(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
  }

  test("hard cut after a stable shot fires exactly once, at the boundary") {
    // 8 frames at 50, then 8 at 200: one jump of (150/255)e6 ≈ 588k micro
    val cuts = cutsOf(Seq(1L -> (Seq.fill(8)(50) ++ Seq.fill(8)(200))))
    assert(cuts == Seq((1L, 8)))
  }

  test("gradual ramp never cuts (absolute floor); warmup jump never cuts") {
    // ramp: +2 per frame ≈ 7.8k micro per diff — under the 50k floor
    assert(cutsOf(Seq(2L -> (0 until 16).map(50 + 2 * _))).isEmpty)
    // a hard jump at frame 2 sits inside the 4-diff warmup: armed, not cut
    assert(cutsOf(Seq(3L -> (Seq(50, 50, 200, 200, 200, 200, 200)))).isEmpty)
  }

  test("busy noise raises the adaptive base and suppresses modest jumps") {
    // alternating 0/120 frames: every diff ≈ 470k micro, base ≈ 4×470k —
    // the same-size jumps never clear 3× the rolling mean
    assert(cutsOf(Seq(4L -> Seq.tabulate(16)(i => if (i % 2 == 0) 0 else 120))).isEmpty)
    // but the SAME 470k jump after a quiet shot IS a cut
    val cuts = cutsOf(Seq(5L -> (Seq.fill(8)(0) ++ Seq.fill(8)(120))))
    assert(cuts == Seq((5L, 8)))
  }

  test("contract query: plants found at exactly frames 12/24, organic silent") {
    val a = SceneCuts.sceneCutsQuery(spark, "/root/testdata/sf0.001").collect()
    val b = SceneCuts.sceneCutsQuery(spark, "/root/testdata/sf0.001").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val (plants, organicCuts) = a.partition(_.getLong(0) >= 10000000L)
    assert(plants.map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ==
      (0 until 5).flatMap(p => Seq((10000000L + p, 12), (10000000L + p, 24))),
      "every planted shot boundary found, nothing else")
    assert(organicCuts.isEmpty,
      "noise videos never clear the adaptive gate — suppression is half the contract")
    a.foreach { r =>
      assert(r.getLong(2) >= SceneCuts.MinJumpMicro)
      assert(r.getLong(2) * 4 > r.getLong(3) * 3)
      assert(r.getInt(1) >= SceneCuts.BaseWindow + 1,
        "a cut needs a full armed history plus the lagged frame")
    }
  }
}

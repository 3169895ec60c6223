package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for margin-based bitext mining: a hand universe where a
  * hub vector defeats absolute cosine but not the margin, the mutual-NN
  * intersection gate, and contract coherence over the embeddings table. */
class BitextMarginSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def mine(vecs: Seq[(Long, Array[Float])]) =
    BitextMargin.bitextMargin(vecs.toDF("vec_id", "embedding")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))).toMap

  test("true translation pair is mutual NN1 with high margin; hub is not mined") {
    // side A (even ids), side B (odd ids), 4 dims.
    // a0 <-> b1 is a real pair (near-identical directions).
    // b3 is a HUB: moderately close to every A vector (defeats raw cosine
    // rankings for a2, but no mutual partner agrees).
    val vecs = Seq(
      0L -> Array(1f, 0.02f, 0f, 0f),
      2L -> Array(0f, 1f, 0.05f, 0f),
      4L -> Array(0f, 0f, 1f, 0.04f),
      6L -> Array(0.03f, 0f, 0f, 1f),
      1L -> Array(1f, 0.03f, 0f, 0f),      // a0's translation
      3L -> Array(0.5f, 0.5f, 0.5f, 0.5f), // the hub
      5L -> Array(0f, 0.98f, 0.08f, 0f),   // a2's translation
      7L -> Array(0f, 0f, 0.02f, 1f))      // a6's... but for a4 too? no: closest to a6? dims: a4=(0,0,1,.04), a6=(.03,0,0,1)
    val m = mine(vecs)
    // a0's NN1 must be b1, mutual, mined
    val (b0, _, mg0, mu0, mi0) = m(0L)
    assert(b0 == 1L && mu0 == 1 && mi0 == 1 && mg0 >= BitextMargin.ThresholdMilli)
    // the hub b3 cannot be mined from any side: even if it is someone's
    // NN1, its own backward NN1 agrees with at most ONE A vector, and its
    // dense neighborhood (big sum_bwd) crushes the margin
    val hubMined = m.values.count { case (b, _, _, _, mi) => b == 3L && mi == 1 }
    assert(hubMined == 0, "hub never survives margin + mutual gates")
  }

  test("non-mutual forward NN1 is flagged mutual=0 and never mined") {
    // b1 is NN1 for BOTH a0 and a2, but backward NN1(b1) is only one of
    // them — the other must come out mutual=0, mined=0
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.9f, 0.1f, 0f, 0f),
      4L -> Array(0f, 0f, 1f, 0f),
      6L -> Array(0f, 0f, 0f, 1f),
      1L -> Array(1f, 0.01f, 0f, 0f),
      3L -> Array(0f, 1f, 0.3f, 0f),
      5L -> Array(0f, 0.2f, 1f, 0.3f),
      7L -> Array(0.1f, 0f, 0.2f, 1f))
    val m = mine(vecs)
    assert(m(0L)._1 == 1L && m(2L)._1 == 1L, "both A vectors point at b1")
    val mutuals = Seq(m(0L), m(2L)).map(_._4)
    assert(mutuals.sorted == Seq(0, 1), "exactly one side of the contest is mutual")
    val loser = if (m(0L)._4 == 0) m(0L) else m(2L)
    assert(loser._5 == 0, "non-mutual is never mined")
  }

  test("contract query: one row per A vector, flags coherent, pairs mined") {
    val rows = BitextMargin.bitextMarginQuery(spark, "/root/testdata/sf0.001").collect()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val nA = emb.filter(org.apache.spark.sql.functions.expr("vec_id % 2 = 0")).count()
    assert(rows.length == nA, "exactly one forward row per A vector")
    rows.foreach { r =>
      assert(r.getLong(0) % 2 == 0 && r.getLong(1) % 2 == 1)
      if (r.getInt(5) == 1) {
        assert(r.getInt(4) == 1 && r.getLong(3) >= BitextMargin.ThresholdMilli)
      }
    }
    assert(rows.map(_.getInt(4)).sum > 0, "mutual pairs exist in a real corpus")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for farthest-first k-center selection: a hand universe
  * with a known greedy trajectory, the Gonzalez non-increasing-radius
  * invariant, cluster-representative behavior (one pick per planted
  * cluster before any second pick), and contract coherence. */
class KcenterCoresetSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("hand universe: greedy picks the farthest point each round") {
    // four orthogonal directions + a near-copy of vec 0; greedy from 0
    // must pick the three other axes before the near-copy
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0.99f, 0.14f, 0f, 0f), // near-copy of 0
      2L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f),
      4L -> Array(0f, 0f, 0f, 1f)).toDF("vec_id", "embedding")
    val rows = KcenterCoreset.kcenterCoreset(vecs, k = 4).collect()
    assert(rows.map(_.getLong(1)).head == 0L, "seed is min vec_id")
    val picked = rows.map(_.getLong(1)).toSet
    assert(!picked.contains(1L), "the near-copy is never picked in 4 rounds")
    assert(picked == Set(0L, 2L, 3L, 4L))
    // orthogonal picks all arrive at distance 10^6 (cos 0)
    rows.drop(1).foreach(r => assert(r.getLong(2) == 1000000L))
    // final radius = the near-copy's distance to vec 0 (its closest center)
    val d01 = 1000000L - math.round(
      Similarity.cosine(Array(1f, 0f, 0f, 0f), Array(0.99f, 0.14f, 0f, 0f)) * 1000000)
    assert(rows.head.getLong(3) == d01)
  }

  test("Gonzalez invariant: selection radii are non-increasing, cover holds") {
    val rows = KcenterCoreset.kcenterCoresetQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == KcenterCoreset.K)
    assert(rows.map(_.getLong(0)).toSeq == (1L to KcenterCoreset.K).toSeq)
    val radii = rows.map(_.getLong(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      "each pick is at most as far as the previous")
    val fin = rows.head.getLong(3)
    assert(rows.map(_.getLong(3)).forall(_ == fin))
    assert(fin <= radii.last, "cover radius never exceeds the last selection radius")
    assert(rows.map(_.getLong(1)).distinct.length == KcenterCoreset.K,
      "centers are distinct")
  }

  test("two tight planted clusters: one representative each before any repeat") {
    val a = (0 until 4).map(i => i.toLong * 2 -> Array(1f, 0.01f * i, 0f, 0f))
    val b = (0 until 4).map(i => 100L + i -> Array(0f, 0.01f * i, 1f, 0f))
    val rows = KcenterCoreset.kcenterCoreset((a ++ b).toDF("vec_id", "embedding"), k = 2)
      .collect()
    val picked = rows.map(_.getLong(1))
    assert(picked.count(_ < 100L) == 1 && picked.count(_ >= 100L) == 1,
      "round 2 jumps to the other cluster, never a same-cluster neighbor")
  }
}

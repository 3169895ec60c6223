package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.Similarity.{cosine, nearestCentroid, Embedded}

/** SemDeDup gates: a planted corpus with known semantic-duplicate groups
  * resolves to exactly those groups with the paper's keep rule (farthest
  * from centroid survives); the real-corpus run agrees with an
  * independent driver replay of assignment/grouping/keep; the capped
  * branch bounds pair work and flags rows. */
class SemDeDupSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("planted duplicate groups resolve; keep rule prefers the edge example") {
    import spark.implicits._
    // two tight semantic-dup pairs + one singleton, in well-separated
    // directions so 2-means splits them deterministically
    val planted = Seq(
      Embedded(1L, vec(1.00, 0.00, 0.0)),
      Embedded(2L, vec(0.99, 0.10, 0.0)),   // dup of 1 (cos ≈ 0.995)
      Embedded(3L, vec(0.00, 1.00, 0.0)),
      Embedded(4L, vec(0.10, 0.99, 0.0)),   // dup of 3
      Embedded(5L, vec(0.60, 0.60, 0.52)))  // singleton (cos to others < 0.95)
    val out = SemDeDup.semDeDupCore(spark, spark.createDataset(planted), 2, 2000)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(out(1L)._1 === out(2L)._1 && out(1L)._2 === 2L, "pair 1-2 groups")
    assert(out(3L)._1 === out(4L)._1 && out(3L)._2 === 2L, "pair 3-4 groups")
    assert(out(5L)._2 === 1L, "5 is a singleton")
    assert(out.values.forall(!_._4), "nothing capped")
    // exactly one keeper per group, and it's the lower-centroid-sim member
    assert(Seq(out(1L)._3, out(2L)._3).count(identity) === 1)
    assert(Seq(out(3L)._3, out(4L)._3).count(identity) === 1)
    assert(out(5L)._3, "singletons keep themselves")
  }

  test("real corpus agrees with an independent driver replay") {
    import spark.implicits._
    val corpus = SemDeDup.corpusWithPlants(spark, dir)
    val centroids = Similarity.trainCentroids(spark, corpus, SemDeDup.NList)
    val vecs = corpus.collect().sortBy(_.vec_id)
    // driver replay: assign, group within cluster via pairwise cosine,
    // union-find, keep = lowest centroid cosine (tie: vec_id)
    val byCluster = vecs.groupBy(e => nearestCentroid(e.embedding, centroids))
    val expect = scala.collection.mutable.Map.empty[Long, (Int, Long, Long, Boolean)]
    byCluster.foreach { case (c, es) =>
      val a = es.sortBy(_.vec_id)
      val parent = Array.tabulate(a.length)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for (i <- a.indices; j <- (i + 1) until a.length)
        if (cosine(a(i).embedding, a(j).embedding) >= SemDeDup.SimThreshold) {
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
      a.indices.groupBy(find).foreach { case (_, idx) =>
        val keeper = idx.minBy(i => (cosine(a(i).embedding, centroids(c)), a(i).vec_id))
        val g = idx.map(a(_).vec_id).min
        idx.foreach(i => expect(a(i).vec_id) = (c, g, idx.length.toLong, i == keeper))
      }
    }
    val got = SemDeDup.semDeDup(spark, dir).collect()
    assert(got.length === vecs.length)
    got.foreach { r =>
      val (c, g, n, k) = expect(r.getLong(0))
      assert(r.getInt(1) === c && r.getLong(2) === g && r.getLong(3) === n &&
        r.getBoolean(5) === k, s"vec ${r.getLong(0)}")
    }
    assert(got.exists(_.getLong(3) > 1), "semantic duplicates exist in the corpus")
    assert(got.count(_.getBoolean(5)) < got.length, "pruning is non-trivial")
  }

  test("capped clusters degrade to star+chain and are flagged") {
    import spark.implicits._
    // 6 near-identical vectors in one cluster, cap at 4 → capped branch
    val planted = (1L to 6L).map(i =>
      Embedded(i, vec(1.0, 0.001 * i, 0.0))) :+ Embedded(99L, vec(0.0, 0.0, 1.0))
    val out = SemDeDup.semDeDupCore(spark, spark.createDataset(planted), 2, 4)
      .collect()
    val big = out.filter(_.getLong(0) <= 6L)
    assert(big.forall(_.getBoolean(6)), "oversized cluster rows flagged capped")
    // star+chain still connects a homogeneous block: one group, one keeper
    assert(big.map(_.getLong(2)).distinct.length === 1)
    assert(big.count(_.getBoolean(5)) === 1)
    assert(out.filter(_.getLong(0) == 99L).head.getBoolean(6) === false)
  }
}

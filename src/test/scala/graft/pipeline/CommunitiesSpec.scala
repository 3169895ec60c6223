package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for LPA communities: plurality adoption with min-label
  * ties, the bridged-cliques separation that distinguishes LPA from
  * connected components, and partitioning invariance. */
class CommunitiesSpec extends AnyFunSuite with SharedSpark {

  private def cliquePairs(p: String, n: Int): Seq[(String, String)] =
    for { i <- 0 until n; j <- i + 1 until n } yield (s"$p$i.com", s"$p$j.com")

  test("bridged cliques: LPA separates what connected components merges") {
    import spark.implicits._
    val pairs = (cliquePairs("left", 5) ++ cliquePairs("right", 5) :+
      (("left0.com", "right0.com"))).toDF("a", "b")
    val comm = Communities.communities(pairs).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // each clique collapses onto its own min-label; the bridge stays cut
    (0 until 5).foreach { i =>
      assert(comm(s"left$i.com") == (("left0.com", 5L)), s"left$i: ${comm(s"left$i.com")}")
      assert(comm(s"right$i.com") == (("right0.com", 5L)), s"right$i: ${comm(s"right$i.com")}")
    }
    // the contrast read: components reports ONE cluster of 10
    val cc = WebIndex.components(pairs).collect().map(_.getLong(2)).distinct
    assert(cc.toSeq == Seq(10L))
  }

  test("plurality beats lexicographic preference when counts differ") {
    import spark.implicits._
    // star: center c.com linked to z-clique (3 nodes, z-labels converge)
    // and to one isolated low-label node a.com — plurality must pull the
    // center to the z community even though 'a.com' sorts first
    val pairs = (cliquePairs("z", 3) ++ Seq(
      ("c.com", "z0.com"), ("c.com", "z1.com"), ("c.com", "z2.com"),
      ("c.com", "a.com"))).toDF("a", "b")
    val comm = Communities.communities(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comm("c.com").startsWith("z") || comm("c.com") == "c.com",
      s"center must not adopt the minority 'a.com' label: ${comm("c.com")}")
  }

  test("partitioning invariance: repartitioned edges yield identical communities") {
    import spark.implicits._
    val pairs = (cliquePairs("left", 5) ++ cliquePairs("right", 5) :+
      (("left0.com", "right0.com"))).toDF("a", "b")
    val a = Communities.communities(pairs).collect().map(_.toSeq).toSeq
    val b = Communities.communities(pairs.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("contract query: planted cliques separate on the corpus graph") {
    val out = Communities.lpaCommunities(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    (0 until 4).foreach { i =>
      assert(out(s"lpa-a$i.example") == (("lpa-a0.example", 4L)))
      assert(out(s"lpa-b$i.example") == (("lpa-b0.example", 4L)))
    }
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Triangle gates: the oriented-wedge dataflow matches a brute-force
  * all-triples reference on a planted farm + organic backbone graph, and
  * the clustering signal separates the farm from the backbone. */
class LinkFarmSpec extends AnyFunSuite with SharedSpark {

  /** Planted graph: a 6-host spam clique (farm0..farm5, all 15 edges),
    * a 12-host organic chain with sporadic skips, and a single bridge.
    * Deterministic, duplicate-heavy and direction-mixed on purpose —
    * the operator must canonicalize. */
  private def plantedEdges: Seq[(String, String)] = {
    val farm = (0 until 6).map(i => s"farm$i.spam")
    val clique = for {
      i <- farm.indices; j <- farm.indices if i != j
    } yield (farm(i), farm(j)) // both directions: dedup must collapse
    val organic = (0 until 12).map(i => s"site$i.org")
    val chain = organic.sliding(2).map(p => (p(0), p(1))).toSeq
    // skips span ≥ 2 hops: long-range shortcuts, no backbone triangles —
    // exactly the organic web's pattern (navigation, not nepotism)
    val skips = Seq((organic(0), organic(3)), (organic(5), organic(9)))
    val bridge = Seq((farm(0), organic(0)))
    clique ++ chain ++ skips ++ bridge ++ chain // chain twice: duplicates
  }

  /** Brute-force reference: all unordered triples over the undirected
    * simple graph. */
  private def bruteTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val und = edges.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a)
    }.toSet
    val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tri = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      i <- verts.indices; j <- (i + 1) until verts.size; k <- (j + 1) until verts.size
      a = verts(i); b = verts(j); c = verts(k)
      if und(a, b) && und(b, c) && und(a, c)
    } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
    tri.toMap
  }

  test("oriented wedge closure matches brute force on the planted graph") {
    import spark.implicits._
    val pairs = plantedEdges.toDF("src_host", "dst_host")
    val got = LinkFarm.hostTriangles(pairs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = bruteTriangles(plantedEdges)
    val und = plantedEdges.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a)
    }.toSet
    val degRef = und.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.size.toLong }
    assert(got.keySet === degRef.keySet)
    got.foreach { case (v, (d, t, c)) =>
      assert(d === degRef(v), s"degree $v")
      assert(t === want.getOrElse(v, 0L), s"triangles $v")
      val expC = if (d > 1) t * 2000 / (d * (d - 1)) else 0L
      assert(c === expC, s"clustering $v")
    }
    // every farm member sits in C(5,2) = 10 triangles of the 6-clique
    (0 until 6).foreach(i => assert(got(s"farm$i.spam")._2 >= 10L))
  }

  test("clustering permille separates the farm from the organic backbone") {
    import spark.implicits._
    val rows = LinkFarm.hostTriangles(plantedEdges.toDF("src_host", "dst_host"))
      .collect()
    val farm = rows.filter(_.getString(0).endsWith(".spam"))
    val organic = rows.filter(_.getString(0).endsWith(".org"))
    // farm1..5 are pure clique members: clustering 1000; farm0 carries the
    // bridge so it dips but stays far above any organic host
    assert(farm.map(_.getLong(3)).min >= 600L)
    assert(organic.map(_.getLong(3)).max < 600L)
  }

  test("contract query runs over the corpus and matches integer identities") {
    val rows = LinkFarm.linkFarm(spark, "unused").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, t, c) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(d >= 1)
      // each triangle at v consumes an unordered neighbor pair
      assert(t <= d * (d - 1) / 2)
      assert(c === (if (d > 1) t * 2000 / (d * (d - 1)) else 0L))
    }
  }
}

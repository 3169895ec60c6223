package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the triangle census: hand-counted graphs (clique,
  * star, wedge-only chain), the once-per-triangle orientation guarantee,
  * duplicate/direction insensitivity, and contract-shape identities. */
class TriangleCensusSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def census(edges: Seq[(String, String)]) =
    TriangleCensus.triangleCensus(edges.toDF("src_host", "dst_host"))

  test("K4 clique: 4 triangles, every host fully clustered") {
    val vs = Seq("a", "b", "c", "d")
    val rows = census(for (x <- vs; y <- vs if x < y) yield (x, y)).collect()
    // all four hosts have degree 3 -> octave 1; each is in C(3,2)=3 wedges
    // and 3 triangles; K4 has 4 distinct triangles
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(2) == 4L)       // octave, n_hosts
    assert(r.getLong(3) == 12L && r.getLong(4) == 12L)     // tri_inc, paths2
    assert(r.getLong(5) == 1000L)                          // cc_permille
    assert(r.getLong(6) == 4L)                             // n_tri_total
  }

  test("star-5 closes nothing; one closed spoke pair adds exactly one triangle") {
    val star = Seq("hub" -> "s1", "hub" -> "s2", "hub" -> "s3", "hub" -> "s4")
    val rows0 = census(star).collect()
    assert(rows0.map(_.getLong(6)).forall(_ == 0L), "pure star: zero triangles")
    assert(rows0.map(_.getLong(3)).sum == 0L)
    val rows1 = census(star :+ ("s1" -> "s2")).collect()
    assert(rows1.head.getLong(6) == 1L, "closing one wedge makes one triangle")
    // incidences: hub, s1, s2 each get 1 -> total 3 = 3 * n_tri
    assert(rows1.map(_.getLong(3)).sum == 3L)
  }

  test("duplicates, reversed direction, and self-loops do not change counts") {
    val tri = Seq("a" -> "b", "b" -> "c", "c" -> "a")
    val noisy = tri ++ Seq("b" -> "a", "a" -> "b", "a" -> "a", "c" -> "b")
    assert(census(noisy).collect().map(_.getLong(6)).head == 1L)
    assert(census(tri).collect().toSeq == census(noisy).collect().toSeq)
  }

  test("contract query: identities hold on the real corpus") {
    val rows = TriangleCensus.triangleCensusQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val keys = rows.map(_.getLong(0))
    assert(keys.sameElements(keys.sorted))
    val nTri = rows.head.getLong(6)
    assert(rows.map(_.getLong(6)).forall(_ == nTri), "headline constant per row")
    assert(rows.map(_.getLong(3)).sum == 3L * nTri,
      "incidences sum to exactly 3 per triangle")
    rows.foreach { r =>
      assert(r.getLong(1) == (1L << r.getLong(0).toInt))
      assert(r.getLong(3) <= r.getLong(4), "triangles bounded by wedge capacity")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000L)
    }
  }
}

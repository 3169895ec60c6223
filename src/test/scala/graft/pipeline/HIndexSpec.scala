package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the h-index ladder: star (degree loud, h tiny),
  * clique (ladder pinned at coreness), the farmed-hub spam gap, and the
  * theorem sandwich on the corpus graph. */
class HIndexSpec extends AnyFunSuite with SharedSpark {

  private def ladder(edges: Seq[(String, String)]): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    HIndex.hindex(edges.toDF("a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("star-5: the hub's degree is loud but its whole ladder collapses to 1") {
    val m = ladder((0 until 5).map(i => ("hub", s"leaf$i")))
    assert(m("hub") == ((5L, 1L, 1L)), "5 degree-1 neighbors support only h=1")
    assert(m("leaf0") == ((1L, 1L, 1L)))
  }

  test("clique-4: ladder is flat at k-1 = coreness (the Lü fixed point)") {
    val vs = (0 until 4).map(i => s"c$i")
    val m = ladder(for { i <- 0 until 4; j <- i + 1 until 4 } yield (vs(i), vs(j)))
    vs.foreach(v => assert(m(v) == ((3L, 3L, 3L))))
  }

  test("farmed hub: leaf spray buys degree but not h — the spam gap") {
    // triangle A-B-C (organic) + 6 degree-1 leaves sprayed onto A
    val m = ladder(Seq(("A", "B"), ("A", "C"), ("B", "C")) ++
      (0 until 6).map(i => ("A", s"l$i")))
    assert(m("A") == ((8L, 2L, 2L)), "deg 8 but only 2 neighbors with deg >= 2")
    assert(m("B") == ((2L, 2L, 2L)), "the organic triangle keeps its ladder")
  }

  test("contract query: sandwich deg >= h1 >= h2 >= 1, deterministic order") {
    val rows = HIndex.hindexQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2) && r.getLong(2) >= r.getLong(3)
        && r.getLong(3) >= 1, s"ladder sandwich violated at ${r.getString(0)}")
    }
    val again = HIndex.hindexQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}

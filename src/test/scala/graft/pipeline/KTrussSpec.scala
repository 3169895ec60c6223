package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for 4-truss peeling: hand graphs with known peel
  * trajectories (clique survives, wedge-closure fabric cascades away),
  * the cascade-demotion property that makes peeling iterative, and
  * contract ledger identities. */
class KTrussSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def run(edges: Seq[(String, String)]) =
    KTruss.ktruss(edges.toDF("src_host", "dst_host"))

  test("K4 is a 4-truss: nothing peels, convergence at round 1") {
    val vs = Seq("a", "b", "c", "d")
    val (led, kept) = run(for (x <- vs; y <- vs if x < y) yield (x, y))
    val rows = led.collect()
    assert(rows.head.getLong(1) == 6L && rows.head.getLong(2) == 0L)
    assert(rows.forall(_.getInt(4) == 1), "fixpoint from the first round")
    assert(rows.head.getLong(5) == 4L, "all 4 triangles survive")
    assert(kept.count() == 6L)
  }

  test("two triangles sharing an edge cascade away over two rounds") {
    // edges of tri(a,b,c) + tri(b,c,d): outer edges have support 1 and die
    // in round 1; the shared bc then has support 0 and dies in round 2 —
    // the cascade that makes peeling ITERATIVE
    val (led, kept) = run(Seq("a" -> "b", "a" -> "c", "b" -> "c",
      "b" -> "d", "c" -> "d"))
    val rows = led.collect().sortBy(_.getLong(0))
    assert(rows(0).getLong(1) == 5L && rows(0).getLong(2) == 4L,
      "round 1 peels the four support-1 outer edges")
    assert(rows(1).getLong(1) == 1L && rows(1).getLong(2) == 1L,
      "round 2 peels the demoted shared edge")
    assert(rows(2).getInt(4) == 1, "empty graph is a fixpoint")
    assert(kept.count() == 0L && rows.head.getLong(5) == 0L)
  }

  test("K4 with a pendant triangle: clique survives, appendage peels") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for (x <- vs; y <- vs if x < y) yield (x, y)
    val (led, kept) = run(k4 ++ Seq("d" -> "e", "d" -> "f", "e" -> "f"))
    val survivors = kept.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(survivors == k4.toSet, "exactly the clique remains")
    assert(led.collect().last.getInt(4) == 1)
  }

  test("contract query: ledger identities and convergence within the budget") {
    val rows = KTruss.ktrussQuery(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getLong(0))
    assert(rows.length == KTruss.Rounds)
    rows.foreach(r => assert(r.getLong(1) - r.getLong(2) == r.getLong(3),
      "in - removed = surviving"))
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getLong(1) == a.getLong(3), "next round starts from the survivors")
    }
    assert(rows.last.getInt(4) == 1, "the corpus peel converges within 5 rounds")
    val fin = rows.head.getLong(5)
    assert(rows.forall(_.getLong(5) == fin))
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for WL refinement: the star (two roles forever), the
  * path-5 round-1 split, a structure-twin farm collapsing to one class,
  * and contract convergence shape. */
class WlColorsSpec extends AnyFunSuite with SharedSpark {

  private def run(edges: Seq[(String, String)]): Map[Long, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    WlColors.wlColors(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
  }

  test("star-6: hub and leaves are the only roles, stable from round 0") {
    val m = run((0 until 6).map(i => ("hub", s"leaf$i")))
    (0 to WlColors.Rounds).foreach { r =>
      val (n, colors, maxc, singles, conv) = m(r.toLong)
      assert(n == 7L && colors == 2L && maxc == 6L && singles == 1L, s"round $r")
      assert(conv == (if (r == 0) 0L else 1L), s"round $r convergence flag")
    }
  }

  test("path-5: degree coloring merges ends+mids; round 1 splits the center") {
    // p0-p1-p2-p3-p4: degrees 1,2,2,2,1 -> round 0: 2 colors.
    // round 1: p2 (two deg-2 neighbors) splits from p1/p3 (one deg-1, one
    // deg-2 neighbor) -> 3 colors; ends stay merged (identical 1-hop view).
    val m = run((0 until 4).map(i => (s"p$i", s"p${i + 1}")))
    assert(m(0L)._2 == 2L)
    assert(m(1L)._2 == 3L)
    assert(m(2L)._2 == 3L && m(2L)._5 == 1L, "path-5 is 1-WL stable at round 2")
  }

  test("doorway farm: interchangeable hosts collapse into one class forever") {
    // 4 doorways all linking to the same 2 targets: structurally identical
    val edges = for { d <- 0 until 4; t <- 0 until 2 } yield (s"door$d", s"tgt$t")
    val m = run(edges)
    (0 to WlColors.Rounds).foreach { r =>
      assert(m(r.toLong)._3 == 4L, s"round $r: the doorway class stays max at 4")
      assert(m(r.toLong)._2 == 2L, s"round $r: exactly the two roles")
    }
  }

  test("contract query: monotone refinement, conserved hosts, convergence flagged") {
    val rows = WlColors.wlColorsQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == WlColors.Rounds + 1)
    val hosts = rows.map(_.getLong(1)).distinct
    assert(hosts.length == 1, "host count conserved across rounds")
    val colors = rows.map(_.getLong(2))
    assert(colors.zip(colors.tail).forall { case (a, b) => b >= a },
      "1-WL refinement never merges classes")
    rows.foreach(r => assert(r.getLong(3) + r.getLong(4) <= r.getLong(1) + r.getLong(3)))
  }
}

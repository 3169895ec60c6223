package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the z-order skipping ledger: the full 16×16 grid
  * where every scan count is known in closed form (the textbook
  * one-dim-sorted vs interleaved trade, exact), and contract coherence
  * on the corpus. */
class ZorderLayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("full 16x16 grid: every scan count exact in closed form") {
    // doc_id = d1*16 + d2 -> insertion order IS the d1 sort. 256 rows cut
    // into 32 blocks of 8: linear blocks fix d1 (2 blocks per d1 value,
    // d2 spans 8); z-order blocks are 4x2 tiles (d1 spans 2, d2 spans 4).
    val grid = (for (a <- 0 until 16; b <- 0 until 16)
      yield (a * 16 + b, a, b)).toDF("doc_id", "d1", "d2")
    val rows = ZorderLayout.zorderLayout(grid).collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      assert(r.getLong(2) == 32L)
      (r.getString(0), r.getLong(3), r.getLong(4)) match {
        case ("d1_source", lin, z) =>
          assert(lin == 2L && z == 4L,
            s"d1 v=${r.getLong(1)}: the d1-sorted layout wins its own dimension")
        case ("d2_lenoct", lin, z) =>
          assert(lin == 16L && z == 8L,
            s"d2 v=${r.getLong(1)}: z-order halves the orthogonal dimension")
        case other => fail(s"unexpected $other")
      }
    }
    // the trade nets out in z-order's favor: 4+8 < 2+16 per value pair
    val totLin = rows.map(_.getLong(3)).sum
    val totZ = rows.map(_.getLong(4)).sum
    assert(totZ < totLin, s"z-order must win overall: $totZ vs $totLin")
  }

  test("contract query: round-robin sources make linear unskippable; z-order skips") {
    val rows = ZorderLayout.zorderLayoutQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val d1rows = rows.filter(_.getString(0) == "d1_source")
    // round-robin interleaving puts each source in most blocks: a 16-row
    // block sees 16 consecutive positions of the 20-source cycle, so a
    // single-source value misses a block only when its source falls in
    // the 4 skipped positions (~20% of blocks)
    d1rows.foreach { r =>
      assert(2L * r.getLong(3) >= r.getLong(2),
        "insertion order must scan most blocks for a round-robin dimension")
    }
    val totLin = rows.map(_.getLong(3)).sum
    val totZ = rows.map(_.getLong(4)).sum
    assert(totZ < totLin, "z-order must scan strictly fewer blocks overall")
    rows.foreach { r =>
      assert(r.getLong(4) >= 1L, "an occupied value is in at least one block")
      assert(r.getLong(5) == (if (r.getLong(3) > 0)
        1000L * (r.getLong(3) - r.getLong(4)) / r.getLong(3) else 0L))
    }
  }
}

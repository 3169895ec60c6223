package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the attack curve: the dumbbell shatters at k=1 with
  * exact sizes, the ranking is static original-degree, the curve is
  * monotone non-increasing, and the contract plant is the designed first
  * casualty. */
class PercolationSpec extends AnyFunSuite with SharedSpark {

  test("dumbbell + triangle: bridge removal shatters the giant, exact sizes and permille") {
    import spark.implicits._
    val tri = Seq(("t0", "t1"), ("t1", "t2"), ("t2", "t0"))
    val pairs = (Percolation.DumbbellPairs ++ tri).toDF("a", "b")
    val rows = Percolation.percolation(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // N0 = 11 + 3 = 14; intact giant = the 11-host dumbbell
    assert(rows(0L) == (("-", 14L, 11L, 11L * 1000L / 14L)))
    // k=1: bridge (deg 10) is the static top hub; giant falls to a 5-clique
    assert(rows(1L)._1 == "perc-bridge.example")
    assert(rows(1L)._3 == 5L, "two 5-cliques and a triangle remain — giant is 5")
    // k=2..4: clique members (deg 5) outrank the triangle (deg 2); removing
    // them only nibbles a clique — monotone non-increasing, never below 3
    (1 to Percolation.MaxK).foreach { k =>
      assert(rows(k.toLong)._3 <= rows(k - 1L)._3, s"monotone at k=$k")
    }
    assert(rows(Percolation.MaxK.toLong)._3 >= 3L)
  }

  test("contract query: dumbbell is the intact giant, bridge the first casualty") {
    val rows = Percolation.percolationQuery(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(rows(0L)._2 == 11L, "the planted dumbbell is the intact corpus giant")
    assert(rows(1L)._1 == "perc-bridge.example", "the bridge is the global top hub")
    assert(rows(1L)._2 < 11L, "the k=1 attack dethrones the dumbbell")
    (1 to Percolation.MaxK).foreach { k =>
      assert(rows(k.toLong)._2 <= rows(k - 1L)._2)
    }
  }
}

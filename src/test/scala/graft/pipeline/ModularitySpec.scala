package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for modularity: the textbook anchors are exact — two
  * disjoint triangles 0.5, one clique 0, the planted bridged 4-cliques
  * 423076 micro with hand-computed per-community ledgers. */
class ModularitySpec extends AnyFunSuite with SharedSpark {

  test("two disjoint triangles: Q = 1/2 exactly") {
    import spark.implicits._
    val pairs = Seq(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1")).toDF("a", "b")
    val rows = Modularity.modularity(pairs).collect()
    assert(rows.length == 2)
    // per triangle: mc2 = 6, dc = 6, m2 = 12 → numer = 72 − 36 = 36
    assert(rows.forall(r => r.getLong(1) == 3L && r.getLong(2) == 3L &&
      r.getLong(3) == 6L && r.getLong(4) == 36L))
    assert(rows.forall(r => r.getLong(5) == 6L && r.getLong(6) == 500000L))
  }

  test("a single clique is one community with Q = 0 exactly") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("a", "b")
    val rows = Modularity.modularity(pairs).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(4) == 0L && rows.head.getLong(6) == 0L)
  }

  test("planted bridged 4-cliques: LPA splits them and Q = 423076 micro") {
    import spark.implicits._
    val rows = Modularity.modularity(
      Communities.LpaPlantPairs.toDF("a", "b")).collect()
    assert(rows.length == 2)
    // per clique: 6 intra edges + the bridge → mc2 = 12, dc = 13, m2 = 26
    // numer = 12·26 − 169 = 143; Q = 286/676 = 0.423076…
    assert(rows.forall(r => r.getLong(1) == 4L && r.getLong(2) == 6L &&
      r.getLong(3) == 13L && r.getLong(4) == 143L))
    assert(rows.forall(r => r.getLong(5) == 13L && r.getLong(6) == 423076L))
  }
}

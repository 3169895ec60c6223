package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the bow-tie decomposition: every Broder class lands
  * exactly where the textbook picture puts it on a planted full bow-tie
  * (SCC cycle, IN chain, OUT chain, tendril, tube, disconnected island),
  * distances are exact BFS depths, the pivot rule is the deterministic
  * max-degree argmax, and the pinned horizon IS the fixpoint on the
  * contract graph. */
class BowtieSpec extends AnyFunSuite with SharedSpark {

  test("planted full bow-tie: all five classes, exact BFS distances") {
    import spark.implicits._
    // pivot by degree: s0 carries 4 distinct edges — strictly the max
    val pairs = Seq(
      ("s0", "s1"), ("s1", "s2"), ("s2", "s0"), // SCC 3-cycle
      ("i1", "i0"), ("i0", "s0"),               // IN chain, depth 2
      ("s0", "o0"), ("o0", "o1"),               // OUT chain, depth 2
      ("i1", "t0"),                             // tendril off IN
      ("i1", "u0"), ("u0", "o1"),               // tube IN→OUT bypassing SCC
      ("d0", "d1")                              // disconnected island
    ).toDF("a", "b")
    val out = Bowtie.bowtie(pairs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s0") == (("scc", 0L, 0L)))
    assert(out("s1") == (("scc", 1L, 2L)))
    assert(out("s2") == (("scc", 2L, 1L)))
    assert(out("i0") == (("in", -1L, 1L)))
    assert(out("i1") == (("in", -1L, 2L)))
    assert(out("o0") == (("out", 1L, -1L)))
    assert(out("o1") == (("out", 2L, -1L)))
    assert(out("t0") == (("tendril", -1L, -1L)))
    assert(out("u0") == (("tendril", -1L, -1L)), "a tube classifies as tendril (documented)")
    assert(out("d0") == (("disconnected", -1L, -1L)))
    assert(out("d1") == (("disconnected", -1L, -1L)))
  }

  test("pivot tie-break: equal degrees fall to the lexicographically smallest host") {
    import spark.implicits._
    // two disjoint 2-cycles — every node has degree 2; pivot must be "a0"
    val pairs = Seq(("b0", "b1"), ("b1", "b0"), ("a0", "a1"), ("a1", "a0")).toDF("a", "b")
    val out = Bowtie.bowtie(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a0") == "scc" && out("a1") == "scc")
    assert(out("b0") == "disconnected" && out("b1") == "disconnected")
  }

  test("contract query: plant is disconnected, pivot SCC non-trivial, horizon is the fixpoint") {
    val rows = Bowtie.bowtieQuery(spark, "/root/testdata/sf0.001").collect()
    val out = rows.map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("bowtie-d0.example")._1 == "disconnected")
    assert(out("bowtie-d1.example")._1 == "disconnected")
    // the pivot's SCC exists (dist 0 row) — the decomposition is anchored
    assert(rows.exists(r => r.getString(1) == "scc" && r.getLong(2) == 0L && r.getLong(3) == 0L))
    // fixpoint proof: no host is FIRST reached in the final round, in any
    // of the three closures — the pinned horizon covers this graph
    val maxDist = rows.flatMap(r => Seq(r.getLong(2), r.getLong(3))).max
    assert(maxDist < Bowtie.ReachRounds.toLong,
      s"a dist == ReachRounds row would mean the horizon binds (max=$maxDist)")
  }
}

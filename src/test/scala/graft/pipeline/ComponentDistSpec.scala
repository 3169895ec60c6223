package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the component census: hand-built multi-component
  * graph with exact octave rollups, giant flagging, and contract shape. */
class ComponentDistSpec extends AnyFunSuite with SharedSpark {

  test("hand graph: pair + two triangles + 9-path — exact octave census") {
    import spark.implicits._
    // components: size 2 (x-y), size 3 (tri a), size 3 (tri b), size 9 path
    val edges = Seq(("x", "y")) ++
      Seq(("a0", "a1"), ("a1", "a2"), ("a2", "a0")) ++
      Seq(("b0", "b1"), ("b1", "b2"), ("b2", "b0")) ++
      (0 until 8).map(i => (s"p$i", s"p${i + 1}"))
    val rows = ComponentDist.componentDist(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // 17 hosts total: octave 1 [2,4): sizes 2,3,3 -> 3 comps, 8 hosts;
    // octave 3 [8,16): the 9-path -> 1 comp, 9 hosts (the giant)
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(1L) == ((2L, 3L, 8L, 8L * 1000 / 17, 0L)))
    assert(rows(3L) == ((8L, 1L, 9L, 9L * 1000 / 17, 1L)))
  }

  test("single component: one octave row flagged as the giant, mass 1000") {
    import spark.implicits._
    val edges = (0 until 3).map(i => (s"c$i", s"c${i + 1}"))
    val rows = ComponentDist.componentDist(edges.toDF("a", "b")).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 2L, "size 4 sits in octave 2")
    assert(rows.head.getLong(4) == 1000L && rows.head.getLong(5) == 1L)
  }

  test("contract query: exactly one giant octave, mass sums to all hosts") {
    val rows = ComponentDist.componentDistQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(5)).sum == 1L, "exactly one octave holds the giant")
    val octs = rows.map(_.getLong(0))
    assert(octs.sameElements(octs.sorted))
    val permille = rows.map(_.getLong(4)).sum
    assert(permille >= 1000 - rows.length && permille <= 1000, "floor drift only")
    // the planted 3-host ring guarantees a non-giant octave exists
    assert(rows.length >= 2)
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for 2-core peeling: chains peel outside-in with exact
  * rounds, cycles survive, cascade-to-zero-degree nodes are caught, and the
  * pinned horizon IS the fixpoint on the contract graph. */
class KCoreSpec extends AnyFunSuite with SharedSpark {

  test("cycle survives; hanging chain peels outside-in at exact rounds") {
    import spark.implicits._
    val pairs = Seq(
      ("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c0"), // 4-cycle
      ("c0", "p1"), ("p1", "p2"), ("p2", "p3")                // depth-3 chain
    ).toDF("a", "b")
    val out = KCore.twoCore(pairs).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    Seq("c0", "c1", "c2", "c3").foreach(h => assert(out(h) == ((true, 0L)), s"$h"))
    assert(out("p3") == ((false, 1L)))
    assert(out("p2") == ((false, 2L)))
    assert(out("p1") == ((false, 3L)))
  }

  test("star cascades to zero-degree center: every node peeled, none lost") {
    import spark.implicits._
    val pairs = (1 to 5).map(i => ("hub", s"leaf$i")).toDF("a", "b")
    val out = KCore.twoCore(pairs).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(out.size == 6, "the zero-degree hub must not vanish from the output")
    (1 to 5).foreach(i => assert(out(s"leaf$i") == ((false, 1L))))
    assert(out("hub") == ((false, 2L)), "hub reaches degree 0 after leaves peel")
  }

  test("contract query: planted cycle in core, chain peeled; horizon is the fixpoint") {
    val out = KCore.kcore(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    (0 until 4).foreach(i => assert(out(s"kcore-c$i.example") == ((true, 0L))))
    assert(out("kcore-p3.example") == ((false, 1L)))
    assert(out("kcore-p2.example") == ((false, 2L)))
    assert(out("kcore-p1.example") == ((false, 3L)))
    // fixpoint proof: nothing peels in the last round — the pinned horizon
    // covers this graph's full periphery depth
    assert(!out.values.exists(_._2 == KCore.PeelRounds.toLong),
      "a peel in the final round would mean the horizon binds")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the makespan bound: both regimes (capacity-bound and
  * host-bound) with exact ceils, the critical set, and the planted trap
  * host binding the contract corpus. */
class MakespanSpec extends AnyFunSuite with SharedSpark {

  test("capacity regime: many small hosts — work bound binds, no critical host") {
    import spark.implicits._
    // 40 hosts × 2 urls: host bound = 1; work bound = ceil(80/16) = 5
    val urls = (0 until 40).flatMap(h =>
      Seq(s"https://cap$h.example/a", s"https://cap$h.example/b")).toDF("url")
    val rows = Makespan.makespan(urls).collect()
    assert(rows.forall(_.getLong(4) == 5L), "makespan = work bound")
    assert(rows.forall(!_.getBoolean(5)), "no host is critical in the capacity regime")
    assert(rows.forall(_.getLong(2) == 1L))
  }

  test("politeness regime: one deep host — host bound binds and is critical") {
    import spark.implicits._
    val urls = ((0 until 50).map(i => s"https://deep.example/p$i") ++
      Seq("https://tiny.example/")).toDF("url")
    val rows = Makespan.makespan(urls).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    // deep: ceil(50/4) = 13; work: ceil(51/16) = 4 → makespan 13
    assert(rows("deep.example") == ((50L, 13L, 4L, 13L, true)))
    assert(rows("tiny.example") == ((1L, 1L, 4L, 13L, false)))
  }

  test("contract query: the planted trap host is the critical wall") {
    val rows = Makespan.makespanQuery(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4),
        r.getBoolean(5)))).toMap
    val trap = rows.collectFirst { case (h, v) if h.contains("trap") => (h, v) }
    assert(trap.isDefined, s"trap host must appear (hosts: ${rows.keys.toSeq.sorted})")
    val (_, (backlog, bound, makespan, critical)) = trap.get
    assert(backlog == 180L && bound == 45L)
    assert(critical && makespan == bound,
      "the 180-url trap under cap 4 must be the binding constraint")
  }
}

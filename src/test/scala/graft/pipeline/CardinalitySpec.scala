package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the KMV cardinality sketch: the aggregator's bounded
  * buffer is exact under permutation/duplication, the estimator's two
  * branches behave, and accuracy is within KMV's theoretical band on a
  * corpus far larger than the sketch. */
class CardinalitySpec extends AnyFunSuite with SharedSpark {

  test("KmvAgg reduce/merge: sorted distinct k-minima under any arrival order") {
    val agg = new Cardinality.KmvAgg(4)
    val in = Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L, 9L, 5L)
    val direct = in.foldLeft(agg.zero)(agg.reduce)
    assert(direct.toSeq == Seq(1L, 2L, 3L, 5L))
    // split arbitrarily, reduce each side, merge — same result (the
    // map-side-combine contract)
    val (l, r) = in.splitAt(4)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.toSeq == direct.toSeq)
    // merge with overlap keeps distinct semantics
    val m2 = agg.merge(Array(1L, 2L, 3L), Array(2L, 3L, 4L, 9L))
    assert(m2.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("estimate: below-k branch is exact; at-k branch applies (k-1)*S/hk") {
    assert(Cardinality.estimate(Array(5L, 9L), Cardinality.K) == 2L)
    val mins = (1L to Cardinality.K.toLong).map(_ * 1000000L).toArray
    val expected = (Cardinality.K - 1).toLong * Cardinality.HashSpace / mins.last
    assert(Cardinality.estimate(mins, Cardinality.K) == expected)
  }

  test("hostCardinality: small hosts exact, large host within KMV error band, deterministic") {
    import spark.implicits._
    // host small.com: 7 urls (< K -> exact); host big.com: 5000 urls
    val urls = ((0 until 7).map(i => s"https://small.com/p/$i") ++
      (0 until 5000).map(i => s"https://big.com/item/$i")).toDF("url")
    val rows = Cardinality.hostCardinality(urls).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows("small.com") == ((7L, 7L, 0L)))
    val (nBig, estBig, errBig) = rows("big.com")
    assert(nBig == 5000L)
    // KMV relative std error ~ 1/sqrt(K-2) ~ 26%; allow 3 sigma
    assert(errBig <= 800L, s"estimate $estBig err $errBig permille out of band")
    val again = Cardinality.hostCardinality(urls).collect()
    assert(again.map(_.toString).sorted.sameElements(
      Cardinality.hostCardinality(urls).collect().map(_.toString).sorted), "deterministic")
  }

  test("corpus query: trap host leaves the exact branch; every exact-branch host has err 0") {
    val out = Cardinality.hostCardinalityQuery(spark, "/root/testdata/sf0.001").collect()
    val trap = out.find(_.getString(0) == UrlTemplates.TrapHost).get
    assert(trap.getLong(1) == 180L, "planted host has 180 distinct urls")
    assert(trap.getLong(2) != 180L || trap.getLong(3) == 0L) // estimator ran (any value), just sanity
    assert(trap.getLong(3) <= 800L, s"trap-host estimate err ${trap.getLong(3)} permille out of band")
    out.filter(_.getLong(1) < Cardinality.K).foreach { r =>
      assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == 0L,
        s"host ${r.getString(0)} below K must be exact")
    }
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the skew/fairness ledger: hand-computed exact
  * permilles on planted mass vectors, the uniform fixed point, and
  * contract-query shape + range sanity. */
class SkewAuditSpec extends AnyFunSuite with SharedSpark {

  private def row(masses: Seq[Long]): (Long, Long, Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val df = masses.zipWithIndex.map { case (d, i) => (s"h$i", d) }.toDF("v", "d")
    val r = SkewAudit.skewAudit(df).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6))
  }

  test("hand vector [1,1,1,1,6]: gini 400, jain 500, hoover 400, top shares 600") {
    // n=5 S=10; asc ranks give sum(i*x)=1+2+3+4+30=40 -> G=(80-60)/50=0.4
    // jain=100/(5*40)=0.5; hoover=sum|5x-10|/(2*5*10)=40/100=0.4; top1=6/10
    assert(row(Seq(1L, 1L, 1L, 1L, 6L)) ==
      ((5L, 10L, 400L, 500L, 400L, 600L, 600L)))
  }

  test("uniform masses are the fairness fixed point: gini/hoover 0, jain 1000") {
    // ceil(4/10)=1 top host holds exactly 1/4 of the mass
    assert(row(Seq(3L, 3L, 3L, 3L)) == ((4L, 12L, 0L, 1000L, 0L, 250L, 250L)))
  }

  test("single host degenerates to total concentration of shares, gini 0") {
    // n=1: G=(2S-2S)/S=0 (no inequality among one host), top shares 1000
    assert(row(Seq(7L)) == ((1L, 7L, 0L, 1000L, 0L, 1000L, 1000L)))
  }

  test("contract query: one row, metrics in [0,1000], jain vs gini coherent") {
    val r = SkewAudit.giniSkewQuery(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val Seq(n, s, gini, jain, hoover, top1, top10) = (0 to 6).map(r.head.getLong)
    assert(n > 0 && s >= n)
    Seq(gini, jain, hoover, top1, top10).foreach(m => assert(m >= 0 && m <= 1000))
    assert(top10 >= top1, "top decile holds at least the top host's share")
    assert(hoover <= gini + 1, "Hoover <= Gini (integer floor slack 1)")
  }
}

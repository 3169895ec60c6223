package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the rank-correlation audit: exact tau on constructed
  * rankings (perfect agreement, perfect reversal, ties ledgered apart),
  * and the in-degree-beats-out-degree ordering on the contract graph. */
class RankCorrelationSpec extends AnyFunSuite with SharedSpark {

  test("exact tau on constructed rankings: +1000, −1000, and a ledgered tie") {
    import spark.implicits._
    val agree = Seq(("a", 30L, 3L), ("b", 20L, 2L), ("c", 10L, 1L))
      .toDF("host", "rank_micro", "sig")
    val r1 = RankCorrelation.tauOf(agree, "sig").collect()(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4), r1.getLong(5))
      == ((3L, 3L, 0L, 0L, 1000L)))
    val reversed = Seq(("a", 30L, 1L), ("b", 20L, 2L), ("c", 10L, 3L))
      .toDF("host", "rank_micro", "sig")
    val r2 = RankCorrelation.tauOf(reversed, "sig").collect()(0)
    assert(r2.getLong(5) == -1000L && r2.getLong(3) == 3L)
    val tied = Seq(("a", 30L, 2L), ("b", 20L, 2L), ("c", 10L, 1L))
      .toDF("host", "rank_micro", "sig")
    val r3 = RankCorrelation.tauOf(tied, "sig").collect()(0)
    // pairs: (a,b) tie in sig, (a,c) concordant, (b,c) concordant
    assert((r3.getLong(2), r3.getLong(3), r3.getLong(4)) == ((2L, 0L, 1L)))
    assert(r3.getLong(5) == 2L * 1000L / 3L)
  }

  test("ledger closes over the contract graph: C + D + ties = pairs, both signals") {
    val rows = RankCorrelation.rankCorrelation(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val in = rows("in_deg"); val out = rows("out_deg")
    assert(in._1 == in._2 + in._3 + in._4)
    assert(out._1 == out._2 + out._3 + out._4)
    assert(in._1 == out._1, "same pair universe for both signals")
  }

  test("contract: in-degree tracks authority strictly better than out-degree") {
    val rows = RankCorrelation.rankCorrelation(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(rows("in_deg") > rows("out_deg"),
      s"the WWW'98 ordering: in-degree is the good proxy (got $rows)")
    assert(rows("in_deg") > 0L, "in-degree must positively correlate with rank")
  }
}

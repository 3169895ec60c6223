package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for rank stability: the zero-noise fixpoint, a
  * test-local replay of the noise filter, and contract ledger gates. */
class RankStabilitySpec extends AnyFunSuite with SharedSpark {

  private val pages = Seq(
    ("https://a.example/1", "https://b.example/x"),
    ("https://a.example/2", "https://c.example/y"),
    ("https://b.example/x", "https://c.example/y"),
    ("https://c.example/y", "https://a.example/1"),
    ("https://c.example/z", "https://b.example/q"))

  test("zero noise is the fixpoint: identical ranks, tvd 0, full overlap") {
    import spark.implicits._
    val rows = RankStability.rankStability(pages.toDF("src", "dst"), thr = 0L).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == 0L)
      assert(r.getLong(7) == 0L, "tvd_micro must be 0")
      assert(r.getLong(5) == r.getLong(6), "no edges removed")
      assert(r.getLong(8) == math.min(10L, r.getLong(4)), "top-10 fully overlaps")
    }
  }

  test("noise filter replays test-locally: n_edges_b matches the hash rule") {
    import spark.implicits._
    val expectedKept = pages.count { case (s, d) =>
      java.lang.Long.parseLong(
        DigestUtils.md5Hex(s + ">" + d + RankStability.NoiseSalt).substring(0, 11), 16) >=
        RankStability.NoiseThr
    }
    val r = RankStability.rankStability(pages.toDF("src", "dst")).collect().head
    assert(r.getLong(5) == pages.length.toLong)
    assert(r.getLong(6) == expectedKept.toLong)
  }

  test("contract query: bounded movers, coherent global ledger, deterministic") {
    val rows = RankStability.rankStabilityQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= RankStability.TopMovers)
    val ledgers = rows.map(r => (r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7), r.getLong(8))).distinct
    assert(ledgers.length == 1, "global ledger identical on every row")
    assert(ledgers.head._3 < ledgers.head._2, "the salt removed some edges")
    assert(ledgers.head._5 <= 10L)
    val deltas = rows.map(_.getLong(3))
    assert(deltas.zip(deltas.tail).forall { case (a, b) => a >= b })
    val again = RankStability.rankStabilityQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}

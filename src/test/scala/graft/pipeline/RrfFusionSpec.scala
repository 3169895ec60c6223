package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for reciprocal-rank fusion: the integer RRF identity
  * re-derived per row, component-ranking parity with the standalone BM25
  * operator (no drift), genuine inter-system disagreement on the real
  * corpus, and the both-lists-agree dominance check. */
class RrfFusionSpec extends AnyFunSuite with SharedSpark {

  private lazy val rows =
    RrfFusion.rrfFusionQuery(spark, "/root/testdata/sf0.001").collect()

  test("RRF integer identity holds on every row") {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, q, rrf) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(rrf == 1000000L / (RrfFusion.RrfC + b) + 1000000L / (RrfFusion.RrfC + q))
    }
  }

  test("BM25 component ranking never drifts from the standalone operator") {
    val standalone = TextAnalysis.bm25Rank(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(2)) -> r.getLong(1)).toMap
    val checked = rows.flatMap { r =>
      standalone.get((r.getString(0), r.getLong(2))).map(_ == r.getLong(3))
    }
    assert(checked.nonEmpty, "fused top-10 overlaps the BM25 top-10 somewhere")
    assert(checked.forall(identity), "bm25_rk identical wherever both tables rank a doc")
  }

  test("the two systems genuinely disagree somewhere (fusion is not a no-op)") {
    assert(rows.exists(r => r.getLong(3) != r.getLong(4)),
      "BM25 and query-likelihood must produce different ranks on a real corpus")
  }

  test("fused list shape: ranks 1..<=10 per term, rrf non-increasing, ties by doc_id") {
    rows.groupBy(_.getString(0)).foreach { case (_, trs) =>
      val sorted = trs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getLong(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        if (a.getLong(5) == b.getLong(5)) assert(a.getLong(2) < b.getLong(2))
      }
      // dominance: a doc ranked 1 by BOTH systems must head the fused list
      trs.find(r => r.getLong(3) == 1L && r.getLong(4) == 1L)
        .foreach(r => assert(r.getLong(1) == 1L))
    }
  }
}

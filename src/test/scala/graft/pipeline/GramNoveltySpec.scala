package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for gram novelty: exact ledgers on planted echo /
  * extension / short docs, and contract shape. */
class GramNoveltySpec extends AnyFunSuite with SharedSpark {

  private def rows(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    GramNovelty.gramNovelty(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
  }

  test("exact copy kills novelty; a one-token extension keeps half") {
    val eight = "a b c d e f g h"
    val m = rows(Seq((0L, eight), (1L, eight), (2L, eight + " i"), (3L, "too short")))
    // doc0/doc1: single gram, df=3 (docs 0,1,2 all contain it) -> novelty 0
    assert(m(0L) == ((1L, 0L, 1L, 0L, 3L)))
    assert(m(1L) == ((1L, 0L, 1L, 0L, 3L)))
    // doc2: grams 'a..h' (df 3) + 'b..i' (df 1) -> 500 permille
    assert(m(2L) == ((2L, 1L, 1L, 500L, 3L)))
    assert(!m.contains(3L), "sub-8-token docs carry no grams")
  }

  test("fully unique doc scores 1000 with max_df 1") {
    val m = rows(Seq(
      (0L, (0 until 12).map(i => s"uniq$i").mkString(" ")),
      (1L, (0 until 12).map(i => s"other$i").mkString(" "))))
    assert(m(0L) == ((5L, 5L, 0L, 1000L, 1L)))
  }

  test("within-doc repetition is not echo: df counts documents, not occurrences") {
    // the repeated gram appears twice in doc0 but in no other doc -> novel
    val m = rows(Seq((0L, "a b c d e f g h x a b c d e f g h")))
    assert(m(0L)._5 == 1L, "max_df stays 1 for self-repeats")
    assert(m(0L)._4 == 1000L)
  }

  test("contract query: ledger coherent per row over the corpus") {
    val rows = GramNovelty.gramNoveltyQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), "novel + echoed = n_grams")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
      assert(r.getLong(5) >= 1)
    }
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for TextTiling: a hand document with two vocabulary
  * regimes (the valley must land exactly at the topic turn), cohesive and
  * tiny documents cut nothing, and contract identities. */
class TextTilingSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def run(docs: Seq[(Long, String)]) =
    TextTiling.textTiling(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))

  /** Blocks of 10 repeating a small vocabulary — high adjacent overlap. */
  private def topic(words: Seq[String], blocks: Int): String =
    Seq.fill(blocks * 10 / words.length + 1)(words).flatten
      .take(blocks * 10).mkString(" ")

  test("two vocabulary regimes: the only boundary is the topic turn") {
    val doc = topic(Seq("spark", "shuffle", "partition", "executor", "stage"), 4) +
      " " + topic(Seq("genome", "protein", "enzyme", "cell", "dna"), 4)
    val cuts = run(Seq(1L -> doc))
    assert(cuts.map(_._2).toSeq == Seq(4L),
      s"exactly one boundary at gap 4 (blocks 0-3 vs 4-7), got ${cuts.toSeq}")
    assert(cuts.head._3 == 0L, "the topic turn has zero lexical overlap")
  }

  test("a cohesive document and a sub-two-block document cut nothing") {
    assert(run(Seq(2L -> topic(Seq("alpha", "beta", "gamma", "delta", "eps"), 8))).isEmpty,
      "uniform vocabulary: flat similarity, depth never beats the mean")
    assert(run(Seq(3L -> "short text only")).isEmpty)
  }

  test("three regimes produce exactly the two turns, in order") {
    val doc = topic(Seq("car", "engine", "wheel", "brake", "road"), 3) + " " +
      topic(Seq("piano", "violin", "chord", "tempo", "note"), 3) + " " +
      topic(Seq("flour", "oven", "yeast", "dough", "bread"), 3)
    val cuts = run(Seq(4L -> doc))
    assert(cuts.map(_._2).toSeq == Seq(3L, 6L))
  }

  test("contract query: per-doc ordering, depth/sim identities") {
    val rows = TextTiling.textTilingQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "a template-built corpus has vocabulary turns")
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * TextTiling.BlockK)
      assert(r.getLong(4) >= TextTiling.MinDepth)
      assert(r.getLong(3) >= 0L)
    }
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { cuts =>
      val idxs = cuts.map(_.getLong(1))
      assert(idxs.sameElements(idxs.sorted))
    }
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the vocabulary-growth curve: hand-computed first
  * positions across doc boundaries (the prefix-sum seam), checkpoint
  * capping at the corpus total, and contract shape. */
class HeapsGrowthSpec extends AnyFunSuite with SharedSpark {

  private def curve(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    HeapsGrowth.heapsGrowth(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
  }

  test("single doc 'a b a c a b d': exact octave curve with capped tail") {
    // firsts: a@1(oct0) b@2(oct1) c@4,d@7(oct2); T=7 so oct2 checkpoint=7
    assert(curve(Seq((0L, "a b a c a b d"))) == Seq(
      (0L, 1L, 1L, 1L, 1000L),
      (1L, 3L, 1L, 2L, 666L),
      (2L, 7L, 2L, 4L, 571L)))
  }

  test("doc boundary: positions continue across docs (offset seam exact)") {
    // doc0 = 'a b' (pos 1,2), doc1 = 'a c' (pos 3,4): c first at 4 -> oct2,
    // whose checkpoint caps at T=4
    assert(curve(Seq((0L, "a b"), (1L, "a c"))) == Seq(
      (0L, 1L, 1L, 1L, 1000L),
      (1L, 3L, 1L, 2L, 666L),
      (2L, 4L, 1L, 3L, 750L)))
  }

  test("empty tokens never take positions: double spaces don't shift firsts") {
    assert(curve(Seq((0L, "a  b"), (1L, " a   c "))) == Seq(
      (0L, 1L, 1L, 1L, 1000L),
      (1L, 3L, 1L, 2L, 666L),
      (2L, 4L, 1L, 3L, 750L)))
  }

  test("contract query: octaves ascending, vocab cumulative, ttr sane") {
    val rows = HeapsGrowth.heapsGrowthQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length >= 4, "a real corpus spans several position octaves")
    val octs = rows.map(_.getLong(0))
    assert(octs.sameElements(octs.sorted))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) == a.getLong(3) + b.getLong(2), "vocab = running sum")
      assert(b.getLong(1) > a.getLong(1), "checkpoints strictly grow")
    }
    rows.foreach(r => assert(r.getLong(4) >= 1 && r.getLong(4) <= 1000))
    val last = rows.last
    assert(last.getLong(1) < (1L << (last.getLong(0).toInt + 1)),
      "tail checkpoint capped at the corpus total")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** N-gram LM gates: the distributed count hierarchy matches hand-counted
  * values on a planted corpus; stupid backoff scores the present-trigram,
  * backed-off-bigram and backed-off-unigram cases exactly; the corpus
  * model obeys the count/denominator identities. */
class NgramLmSpec extends AnyFunSuite with SharedSpark {

  // 15 tokens total; "the cat" ×3, "the cat sat" ×2, "cat" ×4, "the" ×4
  private val planted = Seq(
    "the cat sat on the mat",
    "the cat sat quietly",
    "a cat saw the cat")

  private def plantedModel = {
    import spark.implicits._
    NgramLm.ngramModel(planted.toDF("text"), Vector(1L, 1L, 1L))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  test("hierarchy matches hand counts on the planted corpus") {
    val m = plantedModel
    val byGram = m.map(x => (x._1, x._2) -> x).toMap
    assert(byGram((1, "the"))._3 === 4L)
    assert(byGram((1, "the"))._4 === 15L)           // total tokens
    assert(byGram((1, "the"))._5 === 266666L)       // 4/15
    assert(byGram((1, "cat"))._3 === 4L)
    assert(byGram((2, "the cat"))._3 === 3L)
    assert(byGram((2, "the cat"))._4 === 4L)        // c(the)
    assert(byGram((2, "the cat"))._5 === 750000L)   // 3/4
    assert(byGram((3, "the cat sat"))._3 === 2L)
    assert(byGram((3, "the cat sat"))._4 === 3L)    // c(the cat)
    assert(byGram((3, "the cat sat"))._5 === 666666L)
    // every trigram's denominator is its bigram context's exact count
    val bi = m.filter(_._1 == 2).map(x => x._2 -> x._3).toMap
    m.filter(_._1 == 3).foreach { case (_, g, _, ctxC, _) =>
      assert(ctxC === bi(g.split(' ').take(2).mkString(" ")), s"ctx of '$g'")
    }
  }

  test("stupid backoff hits, backs off one level, and backs off to unigram") {
    val m = plantedModel
    val model = m.map(x => x._2 -> (x._3, x._4)).toMap
    val score = NgramLm.stupidBackoffPpm(model, 15L) _
    // present trigram: c(the cat sat)/c(the cat) = 2/3
    assert(score(Seq("the", "cat"), "sat") === 666666L)
    // present trigram at count 1: "cat sat quietly" (ctx c(cat sat)=2) → 500000
    assert(score(Seq("cat", "sat"), "quietly") === 500000L)
    // absent trigram, present bigram: ctx (saw, the): "saw the cat" exists;
    // pick truly absent: (mat, *) — "mat" ends a doc; backoff to unigram:
    // 0.4 * 0.4 * c(cat)/15: 4*4*10^6 div (25*15) = 42666
    assert(score(Seq("on", "mat"), "cat") === 42666L)
    // absent everywhere → 0
    assert(score(Seq("the", "cat"), "zebra") === 0L)
    // backoff one level: context (sat, on) exists once; w="the": trigram
    // "sat on the" exists c=1 ctx c(sat on)=1 → 1000000
    assert(score(Seq("sat", "on"), "the") === 1000000L)
    // genuine one-level backoff: (a, cat) + "sat": trigram "a cat sat"
    // absent, bigram "cat sat" c=2 / c(cat)=4 → 0.4 * 500000 = 200000
    assert(score(Seq("a", "cat"), "sat") === 200000L)
  }

  test("corpus model obeys integer identities and pruning thresholds") {
    val rows = NgramLm.ngramLm(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, g, c, ctxC, ppm) =
        (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(g.split(' ').length === o)
      assert(c >= NgramLm.MinCount(o - 1))
      assert(c <= ctxC, s"'$g' count exceeds its context")
      assert(ppm === c * 1000000 / ctxC)
    }
  }
}

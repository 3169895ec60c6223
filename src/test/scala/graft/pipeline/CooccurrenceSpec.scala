package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the windowed co-occurrence matrix: the distributed
  * kernel equals a sequential replay of the same windowed integer
  * weighting, direction collapses, the window cuts off exactly at
  * [[Cooccurrence.Window]], the hapax floor fires, and lift ranks a
  * planted exclusive collocation above a frequency-inflated pair. */
class CooccurrenceSpec extends AnyFunSuite with SharedSpark {

  /** Sequential replay over (doc_id, text) rows with MinPairs = 1 replaced
    * by the real floor at comparison time. */
  private def replay(docsSeq: Seq[(String, String)])
      : Map[(String, String), (Long, Long, Long)] = {
    val toks = docsSeq.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val pairs = for {
      (_, ws) <- toks
      i <- ws.indices
      d <- 1 to Cooccurrence.Window
      if i + d < ws.length
    } yield {
      val (a, b) = (ws(i), ws(i + d))
      ((if (a <= b) a else b, if (a <= b) b else a), 1000000L / d)
    }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val total = toks.map(_._2.size.toLong).sum
    pairs.groupBy(_._1).collect {
      case (k, hits) if hits.size >= Cooccurrence.MinPairs =>
        val cooc = hits.map(_._2).sum
        k -> (hits.size.toLong, cooc, cooc * total / (uni(k._1) * uni(k._2)))
    }
  }

  private def run(docsSeq: Seq[(String, String)]) = {
    import spark.implicits._
    Cooccurrence.cooccurrenceKernel(docsSeq.toDF("doc_id", "text")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  test("distributed kernel equals the sequential windowed replay") {
    // enough repetition that several pairs clear the MinPairs floor
    val docsSeq = (0 until 6).map(i =>
      s"d$i" -> "the quick fox jumps over the lazy dog near the quick dog")
    val out = run(docsSeq)
    val exp = replay(docsSeq)
    assert(out == exp, "kernel must equal the sequential integer replay")
    assert(out.nonEmpty)
    // direction collapse: every key is ordered
    out.keys.foreach { case (w1, w2) => assert(w1 <= w2) }
  }

  test("window cuts off at exactly Window tokens; weight is 10^6 div d") {
    // 'a' and 'z' are 5 apart — outside the window; 'a'/'e' exactly at 4
    val docsSeq = (0 until 5).map(i => s"d$i" -> "a b c d e z")
    val out = run(docsSeq)
    assert(!out.contains(("a", "z")), "distance 5 > Window must not pair")
    val (n, cooc, _) = out(("a", "e"))
    assert(n == 5L && cooc == 5L * (1000000L / 4), "distance-4 weight is 10^6 div 4")
    val (_, coocAb, _) = out(("a", "b"))
    assert(coocAb == 5L * 1000000L, "adjacent weight is 10^6")
  }

  test("hapax floor drops sub-MinPairs pairs; lift ranks exclusivity over frequency") {
    // 'rare pair' co-occurs 5 times and ONLY with each other; 'the' is
    // everywhere, so (of, the) has high count but low lift
    val docsSeq = (0 until 5).map(i =>
      s"r$i" -> "rare pair") ++ (0 until 8).map(i =>
      s"f$i" -> "the of the of the of the of") ++
      Seq("x" -> "once only")
    val out = run(docsSeq)
    assert(!out.contains(("once", "only")), "a single occurrence is hapax noise")
    assert(out(("pair", "rare"))._3 > out(("of", "the"))._3,
      "exclusive collocation out-lifts the frequent pair")
  }
}

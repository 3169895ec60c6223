package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the walk co-visit matrix: exact pair counts against
  * a sequential window count over the (already replay-gated) walk corpus,
  * symmetric collapse, self-pairs from cycles kept, and the no-edge
  * structural-closeness property the direct link signals cannot see. */
class WalkCovisitSpec extends AnyFunSuite with SharedSpark {

  private def covisits(edges: Seq[(String, String)]) = {
    import spark.implicits._
    val walks = RandomWalks.walksKernel(edges.toDF("src", "dst"))
    val out = WalkCovisit.covisitKernel(walks).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val seqs = walks.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (out, seqs)
  }

  /** Sequential window count over the walk sentences. */
  private def replay(seqs: Map[String, Seq[String]]): Map[(String, String), Long] =
    seqs.values.flatMap { ws =>
      for {
        i <- ws.indices
        d <- 1 to WalkCovisit.Window
        if i + d < ws.length
      } yield {
        val (a, b) = (ws(i), ws(i + d))
        if (a <= b) (a, b) else (b, a)
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("pair counts equal the sequential window count; 2-cycle keeps self-pairs") {
    val (out, seqs) = covisits(Seq(("a", "b"), ("b", "a")))
    assert(out == replay(seqs), "kernel must equal the sequential window count")
    // each full-length walk a,b,a,… has 8 distance-1 (a,b) pairs and 7
    // distance-2 SELF pairs; 8 walks total (2 seeds × 4)
    assert(out(("a", "b")) == 8L * 8)
    assert(out(("a", "a")) + out(("b", "b")) == 8L * 7,
      "cycle revisits within the window are kept as self-pairs")
  }

  test("structurally-close-without-an-edge: chain endpoints co-visit at distance 2") {
    // path a → b → c: (a, c) is NOT an edge but co-visits at distance 2
    val (out, seqs) = covisits(Seq(("a", "b"), ("b", "c")))
    assert(out == replay(seqs))
    assert(out.contains(("a", "c")),
      "no direct edge, but the window sees the structural closeness")
    assert(!out.contains(("a", "a")), "no cycle ⇒ no self-pairs")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for stress centrality: hand-computed path-count ledgers
  * on a path and a diamond (σ multiplicity), endpoint exclusion, and
  * contract shape. */
class StressCentralitySpec extends AnyFunSuite with SharedSpark {

  private def stress(edges: Seq[(String, String)]): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    StressCentrality.stressKernel(edges.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("path a->b->c->d: interior hosts carry the through-path counts") {
    // sources = all of {a,b,c} (≤ NumSources). From a: ψ(b)=2 → stress(b)=2,
    // stress(c)=1; from b: stress(c)+=1. Sinks carry 0.
    val m = stress(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(m("b") == ((2L, 1L, 1L)))
    assert(m("c") == ((2L, 2L, 2L)))
    assert(m("d") == ((0L, 3L, 3L)))
    assert(!m.contains("a"), "a source is never its own interior vertex")
  }

  test("diamond a->{b,c}->d->e: sigma multiplicity doubles the load on d") {
    // From a: σ(d)=2, ψ(d)=1 → 2; plus 1 each from b and c. e ends paths.
    val m = stress(Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")))
    assert(m("b") == ((2L, 1L, 1L)), "b carries a->b->d and a->b->d->e")
    assert(m("c") == ((2L, 1L, 1L)))
    assert(m("d") == ((4L, 3L, 4L)), "2 paths from a + 1 each from b, c")
    assert(m("e") == ((0L, 4L, 5L)), "terminal: reached by all 4, never interior")
  }

  test("shortest-only: a direct edge removes the longer route from the count") {
    // a->b->c plus shortcut a->c: d(a,c)=1 so b is interior for NO a-path
    // (a->b->c is not shortest); b's only role is ending a->b.
    val m = stress(Seq(("a", "b"), ("b", "c"), ("a", "c")))
    assert(m("b") == ((0L, 1L, 1L)))
    // c: from a σ=1 (direct only), ψ=0; from b σ=1 ψ=0 → stress 0
    assert(m("c") == ((0L, 2L, 2L)))
  }

  test("contract query: non-negative ledger, sources bounded, determinism") {
    val rows = StressCentrality.stressCentrality(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= StressCentrality.NumSources)
      assert(r.getLong(3) >= r.getLong(2), "sigma_sum >= n_sources (>=1 path each)")
    }
    val again = StressCentrality.stressCentrality(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}

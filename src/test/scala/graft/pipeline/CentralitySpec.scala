package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Harmonic-centrality gates: the exact MS-BFS kernel reproduces
  * hand-derived values on shaped graphs (including one that crosses the
  * 64-bit group boundary), an independent driver-side Floyd-Warshall
  * replays the corpus-graph output row-for-row, and the HyperBall sketch
  * tracks the exact kernel within its published error regime while staying
  * bit-deterministic (the fixture-oracle requirement). */
class CentralitySpec extends AnyFunSuite with SharedSpark {

  private def df(edges: Seq[(String, String)]) = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  test("exact kernel: hand-derived chain + fan-in values") {
    // a→b, b→c, d→b: H(b) counts {a@1, d@1}; H(c) counts {b@1, a@2, d@2}
    val out = Centrality.harmonicKernel(spark,
        df(Seq(("a", "b"), ("b", "c"), ("d", "b"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val s = Centrality.DistScale
    assert(out("a") === ((0L, 0L, 0L)))
    assert(out("d") === ((0L, 0L, 0L)))
    assert(out("b") === ((2 * s, 2L, 1L)))
    assert(out("c") === ((s + s / 2 + s / 2, 3L, 2L)))
  }

  test("exact kernel: 70-ring crosses the 64-source group boundary") {
    // directed 70-cycle: every node sees exactly one source at each
    // distance 1..MaxDist — identical closed-form score for all nodes
    val ring = (0 until 70).map(i => (f"n$i%02d", f"n${(i + 1) % 70}%02d"))
    val expectH = (1 to Centrality.MaxDist).map(Centrality.DistScale / _).sum
    val rows = Centrality.harmonicKernel(spark, df(ring)).collect()
    assert(rows.length === 70)
    rows.foreach { r =>
      assert(r.getLong(1) === expectH, r.getString(0))
      assert(r.getLong(2) === Centrality.MaxDist.toLong)
      assert(r.getLong(3) === Centrality.MaxDist.toLong)
    }
  }

  test("exact kernel: corpus graph replays against driver-side BFS") {
    import spark.implicits._
    val edges = CrawlQueries.extractLinkEdges(spark, "/root/testdata/sf0.001")
      .as[(String, String)].collect().toSeq
      .filter { case (s, d) => d.startsWith("http") && s != d }.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // BFS from every source, truncated at MaxDist
    val expect = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    for (src <- nodes) {
      val dist = scala.collection.mutable.Map(src -> 0)
      var frontier = List(src)
      for (t <- 1 to Centrality.MaxDist) {
        frontier = frontier.flatMap(u => out.getOrElse(u, Nil))
          .filterNot(dist.contains).distinct
        frontier.foreach(dist(_) = t)
        frontier.foreach { v =>
          val (h, n, m) = expect(v)
          expect(v) = (h + Centrality.DistScale / t, n + 1, math.max(m, t.toLong))
        }
      }
    }
    val got = Centrality.harmonic(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === nodes.length)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === expect(r.getString(0)),
        r.getString(0))
    }
  }

  test("hyperball: deterministic rerun + error within the m=64 regime") {
    val exact = Centrality.harmonic(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val a = Centrality.harmonicHll(spark, "/root/testdata/sf0.001").collect()
    val b = Centrality.harmonicHll(spark, "/root/testdata/sf0.001").collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq) // fixture-grade
    // ball-size accuracy: mean relative error over nodes with a real ball
    val errs = a.flatMap { r =>
      val ex = exact(r.getString(0)) + 1 // exact ball includes self
      if (ex >= 5) Some(math.abs(r.getLong(1) / 1000.0 - ex) / ex) else None
    }
    assert(errs.nonEmpty)
    val mean = errs.sum / errs.length
    assert(mean <= 0.30, f"mean rel err $mean%.3f exceeds HLL m=64 regime")
  }

  test("hyperball: ranks agree with exact on the corpus top tier") {
    val exact = Centrality.harmonic(spark, "/root/testdata/sf0.001").collect()
      .sortBy(r => (-r.getLong(1), r.getString(0))).map(_.getString(0))
    val sketch = Centrality.harmonicHll(spark, "/root/testdata/sf0.001").collect()
      .sortBy(r => (-r.getLong(2), r.getString(0))).map(_.getString(0))
    val k = 10
    val overlap = exact.take(k).toSet.intersect(sketch.take(2 * k).toSet).size
    assert(overlap >= 7, s"top-$k exact vs top-${2 * k} sketch overlap $overlap")
  }
}

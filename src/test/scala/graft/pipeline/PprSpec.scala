package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for personalized PageRank: zero ⟺ seed-unreachable, mass
  * decays with seed distance, the seeded recurrence matches a sequential
  * integer replay exactly, and the contract query genuinely contrasts with
  * global PageRank (a globally-popular but seed-unreachable page scores 0). */
class PprSpec extends AnyFunSuite with SharedSpark {

  /** Sequential integer replay of the identical recurrence. */
  private def replay(edges: Seq[(String, String)], seeds: Seq[String]): Map[String, Long] = {
    val nodes = (edges.flatMap(e => Seq(e._1, e._2)) ++ seeds).distinct
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val floor = CrawlQueries.PageRankFloorMicro / seeds.size
    val unit = CrawlQueries.PageRankUnitMicro / seeds.size
    var r: Map[String, Long] =
      nodes.map(n => n -> (if (seeds.contains(n)) unit else 0L)).toMap
    for (_ <- 1 to CrawlQueries.PageRankIters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / outDeg(e._1)).sum
      }
      r = nodes.map { n =>
        val f = if (seeds.contains(n)) floor else 0L
        n -> (f + CrawlQueries.PageRankDampPct * contrib.getOrElse(n, 0L) / 100L)
      }.toMap
    }
    r
  }

  test("chain + unreachable hub: zero iff seed-unreachable; decay with distance; exact replay") {
    import spark.implicits._
    // seed s → a → b;  popular hub p pointed at by x,y,z but NOT reachable from s
    val edges = Seq(("s", "a"), ("a", "b"),
      ("x", "p"), ("y", "p"), ("z", "p"))
    val out = Ppr.pprKernel(edges.toDF("src", "dst"), Seq("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = replay(edges, Seq("s"))
    assert(out == exp, "distributed kernel must equal the sequential integer replay")
    assert(out("s") > out("a") && out("a") > out("b"), "mass decays with seed distance")
    assert(out("p") == 0L, "globally-popular but seed-unreachable ⇒ exactly zero")
    assert(Seq("x", "y", "z").forall(out(_) == 0L))
  }

  test("two seeds split the teleport unit evenly; disconnected seed still ranks") {
    import spark.implicits._
    val edges = Seq(("s1", "a"))
    val out = Ppr.pprKernel(edges.toDF("src", "dst"), Seq("s1", "s2")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = replay(edges, Seq("s1", "s2"))
    assert(out == exp)
    assert(out("s2") == CrawlQueries.PageRankFloorMicro / 2,
      "an edgeless seed holds exactly its teleport share")
    assert(out.contains("s2"), "a seed with no edges must still appear")
  }

  test("contract query: seed tops its component, other-seed pages present, zeros are unreachables") {
    val rows = Ppr.ppr(spark, "/root/testdata/sf0.001").collect()
    val out = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out(Ppr.SeedUrls.head) > 0L)
    // the contrast with global PageRank: pages on the non-seed hosts that
    // cannot be reached from site0's pages score exactly zero while global
    // PageRank gives every node its floor
    val zeros = rows.count(_.getLong(1) == 0L)
    val positives = rows.count(_.getLong(1) > 0L)
    assert(positives > 1, "the seed's neighborhood carries mass")
    assert(zeros > 0, "seed-unreachable pages exist on this corpus and score 0")
  }
}

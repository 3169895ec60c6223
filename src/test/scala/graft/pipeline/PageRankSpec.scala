package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for the link-graph PageRank operator: an independent driver-side
  * replay of the integer recurrence (the same discipline as the DuckDB
  * oracle, but in plain Scala collections — three implementations must
  * agree), plus structural sanity and parallelism invariance. */
class PageRankSpec extends AnyFunSuite with SharedSpark {

  test("pageRank matches an independent driver-side replay of the integer recurrence") {
    val edges = CrawlQueries.extractLinkEdges(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.startsWith("http"))
    // plain-Scala replay: same recurrence, no Spark
    val outDeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inDeg = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> CrawlQueries.PageRankUnitMicro).toMap
    for (_ <- 1 to CrawlQueries.PageRankIters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
      rank = nodes.map(n => n -> (CrawlQueries.PageRankFloorMicro +
        CrawlQueries.PageRankDampPct * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = CrawlQueries.pageRank(spark, "").collect()
    assert(got.length == nodes.length, "one row per node")
    got.foreach { r =>
      val u = r.getAs[String]("url")
      assert(r.getAs[Long]("rank_micro") == rank(u), s"rank mismatch for $u")
      assert(r.getAs[Long]("in_deg") == inDeg.getOrElse(u, 0L), s"in_deg mismatch for $u")
      assert(r.getAs[Long]("out_deg") == outDeg.getOrElse(u, 0L), s"out_deg mismatch for $u")
    }
    // output order is the crawl-priority total order
    val keys = got.map(r => (-r.getAs[Long]("rank_micro"), r.getAs[String]("url"))).toSeq
    assert(keys == keys.sorted, "ordered by (rank DESC, url ASC)")
    // structure: every node keeps at least the damping floor, and a
    // well-linked page outranks an unreferenced one
    assert(got.forall(_.getAs[Long]("rank_micro") >= CrawlQueries.PageRankFloorMicro))
    val unreferenced = got.filter(_.getAs[Long]("in_deg") == 0L).map(_.getAs[Long]("rank_micro"))
    val top = got.head
    assert(unreferenced.nonEmpty && top.getAs[Long]("in_deg") > 0L &&
      top.getAs[Long]("rank_micro") > unreferenced.max,
      "link structure, not the floor, must determine the top rank")
  }

  test("hostRank matches the replay over host-collapsed edges; self-loops excluded") {
    val host = (u: String) => "^https?://([^/]+)".r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val edges = CrawlQueries.extractLinkEdges(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.startsWith("http"))
      .map { case (s, d) => (host(s), host(d)) }
      .filter { case (s, d) => s != d }
    assert(edges.nonEmpty, "the corpus must have inter-host links")
    val outDeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> CrawlQueries.PageRankUnitMicro).toMap
    for (_ <- 1 to CrawlQueries.PageRankIters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outDeg(s) }.sum).toMap
      rank = nodes.map(n => n -> (CrawlQueries.PageRankFloorMicro +
        CrawlQueries.PageRankDampPct * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = CrawlQueries.hostRank(spark, "").collect()
    assert(got.length == nodes.length, "one row per host, never per url")
    got.foreach { r =>
      assert(r.getAs[Long]("rank_micro") == rank(r.getAs[String]("host")),
        s"rank mismatch for ${r.getAs[String]("host")}")
    }
  }

  test("pageRank is invariant to shuffle width") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = CrawlQueries.pageRank(spark, "").collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = CrawlQueries.pageRank(spark, "").collect().map(_.toString).toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("wavePlan: exact Hamilton apportionment replay; both binding branches occur") {
    def host(u: String): String = u.replaceFirst("^https?://", "").takeWhile(_ != '/')
    val G = CrawlQueries.WaveBudget
    // independent driver-side replay: pending from the raw edges, ranks
    // from the hostRank OUTPUT (itself gated by its own replay test above)
    val pending = CrawlQueries.extractLinkEdges(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(_._2.startsWith("http"))
      .map(_._2).distinct.groupBy(host).view.mapValues(_.length.toLong).toMap
    val rank = CrawlQueries.hostRank(spark, "").collect()
      .map(r => r.getAs[String]("host") -> r.getAs[Long]("rank_micro")).toMap
    val hosts = pending.keys.toSeq.sorted
    val r = hosts.map(h => h -> rank.getOrElse(h, CrawlQueries.PageRankFloorMicro)).toMap
    val rTot = hosts.map(r).sum
    val base = hosts.map(h => h -> (G * r(h)) / rTot).toMap
    val rem = hosts.map(h => h -> (G * r(h)) % rTot).toMap
    val leftover = G - base.values.sum
    val bonusHosts = hosts.sortBy(h => (-rem(h), h)).take(leftover.toInt).toSet
    val expected = hosts.map { h =>
      val bonus = if (bonusHosts(h)) 1L else 0L
      (h, pending(h), r(h), base(h), bonus, math.min(pending(h), base(h) + bonus))
    }
    val got = CrawlQueries.wavePlan(spark, "").collect().map(x =>
      (x.getAs[String]("host"), x.getAs[Long]("pending"), x.getAs[Long]("rank_micro"),
        x.getAs[Long]("base_q"), x.getAs[Long]("bonus"), x.getAs[Long]("quota"))).toSeq
    assert(got == expected, "every planned row must match the driver-side Hamilton replay")
    // apportionment exactness: base + bonus slots account for the whole budget
    assert(got.map(g => g._4 + g._5).sum == G, "Hamilton apportionment is exact")
    // both planner branches must bind on this corpus: some host's quota is
    // its backlog (cap binds), some host's is its share (budget binds)
    assert(got.exists(g => g._6 == g._2 && g._4 + g._5 > g._2), "backlog-capped host exists")
    assert(got.exists(g => g._6 < g._2), "share-limited host exists")
    assert(got.forall(g => g._6 <= g._2 && g._6 >= 0), "quota within [0, pending]")
  }
}

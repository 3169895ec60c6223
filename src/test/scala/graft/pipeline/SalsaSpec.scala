package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** SALSA gates: the Spark dataflow replays exactly against an
  * independent driver-side Map implementation of the same
  * degree-normalized integer walk, the TKC contrast vs HITS is pinned
  * on a planted clique-vs-popularity graph, and the in-degree
  * stationarity shows within a component. */
class SalsaSpec extends AnyFunSuite with SharedSpark {

  /** Independent sequential replay: Maps and loops, no Spark. */
  private def replay(edges: Seq[(String, String)]): Map[String, (Long, Long)] = {
    val dedup = edges.distinct
    val nodes = (dedup.map(_._1) ++ dedup.map(_._2)).distinct
    val out = dedup.groupBy(_._1).map { case (k, v) => k -> v.length }
    val in = dedup.groupBy(_._2).map { case (k, v) => k -> v.length }
    val unit = Salsa.UnitMicro
    def norm(raw: Map[String, Long]): Map[String, Long] = {
      val tot = math.max(raw.values.sum, 1L)
      raw.map { case (k, v) => k -> v * unit / tot }
    }
    var hub = nodes.map(_ -> unit).toMap
    var auth = hub
    for (_ <- 1 to Salsa.SalsaIters) {
      auth = norm(nodes.map { n =>
        n -> dedup.filter(_._2 == n).map { case (s, _) => hub(s) / out(s) }.sum
      }.toMap)
      hub = norm(nodes.map { n =>
        n -> dedup.filter(_._1 == n).map { case (_, d) => auth(d) / in(d) }.sum
      }.toMap)
    }
    nodes.map(n => n -> ((auth(n), hub(n)))).toMap
  }

  test("corpus graph replays the sequential walk value-for-value") {
    import spark.implicits._
    val edges = CrawlQueries.extractLinkEdges(spark, "/root/testdata/sf0.001")
      .as[(String, String)].collect().toSeq.filter(_._2.startsWith("http"))
    val want = replay(edges)
    val got = Salsa.salsa(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === want.size)
    got.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) === want(r.getString(0)), r.getString(0))
    }
  }

  test("TKC contrast: HITS crowns the clique, SALSA crowns popularity") {
    import spark.implicits._
    // component A: 3 hubs complete to 3 authorities (the tightly-knit
    // community); component B: 4 independent hubs endorse ONE page
    val edges = (for { p <- 1 to 3; q <- 1 to 3 } yield (s"p$p", s"q$q")) ++
      (1 to 4).map(r => (s"r$r", "s"))
    val df = edges.toDF("src", "dst")
    val salsaTop = Salsa.salsaKernel(df).collect()(0).getString(0)
    val hitsTop = Hits.hitsKernel(df).collect()(0).getString(0)
    assert(salsaTop === "s", "SALSA must rank the widely-endorsed page first")
    assert(hitsTop.startsWith("q"), "HITS concentrates on the clique (TKC)")
    // in-degree stationarity: s (in 4, component mass 4) vs each q (1)
    val sal = Salsa.salsaKernel(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sal("s") > 3 * sal("q1"), sal.toString)
  }
}

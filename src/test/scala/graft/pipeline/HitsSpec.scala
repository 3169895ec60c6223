package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** HITS gates: the Spark dataflow replays exactly against an independent
  * driver-side Map implementation of the same integer recurrence, mass
  * conservation holds modulo integer-division loss, structural zeros are
  * exact, and the plan stays product-free. */
class HitsSpec extends AnyFunSuite with SharedSpark {

  private def edgeList(): Seq[(String, String)] = {
    import spark.implicits._
    CrawlQueries.linkEdgesRaw(spark, "/root/testdata/sf0.001")
      .select("src", "dst").as[(String, String)].collect().toSeq
      .filter(_._2.startsWith("http"))
  }

  /** Independent sequential replay: Maps and loops, no Spark. */
  private def replay(edges: Seq[(String, String)]): Map[String, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val unit = Hits.HitsUnitMicro
    var hub = nodes.map(_ -> unit).toMap
    var auth = nodes.map(_ -> unit).toMap
    def norm(raw: Map[String, Long]): Map[String, Long] = {
      val tot = math.max(raw.values.sum, 1L)
      raw.map { case (k, v) => k -> v * unit / tot }
    }
    for (_ <- 1 to Hits.HitsIters) {
      val aRaw = nodes.map(n => n -> edges.filter(_._2 == n).map(e => hub(e._1)).sum).toMap
      auth = norm(aRaw)
      val hRaw = nodes.map(n => n -> edges.filter(_._1 == n).map(e => auth(e._2)).sum).toMap
      hub = norm(hRaw)
    }
    nodes.map(n => n -> ((auth(n), hub(n)))).toMap
  }

  test("Spark HITS equals the independent sequential replay, value for value") {
    val got = Hits.hits(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = replay(edgeList())
    assert(got.keySet == want.keySet, "same node set")
    val diffs = got.collect { case (k, v) if want(k) != v => (k, v, want(k)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3).mkString("; ")}")
  }

  test("mass conservation and structural zeros") {
    val rows = Hits.hits(spark, "/root/testdata/sf0.001").collect()
    val unit = Hits.HitsUnitMicro
    val authMass = rows.map(_.getLong(1)).sum
    val hubMass = rows.map(_.getLong(2)).sum
    // L1-normalized to unit, minus at most one micro per node of div loss
    assert(authMass <= unit && authMass >= unit - rows.length, s"auth mass $authMass")
    assert(hubMass <= unit && hubMass >= unit - rows.length, s"hub mass $hubMass")
    rows.foreach { r =>
      if (r.getLong(3) == 0) assert(r.getLong(1) == 0L, s"no in-links, no authority: ${r.getString(0)}")
      if (r.getLong(4) == 0) assert(r.getLong(2) == 0L, s"no out-links, no hubness: ${r.getString(0)}")
    }
    // the corpus genuinely separates the two roles somewhere
    assert(rows.exists(r => r.getLong(1) > r.getLong(2)) &&
      rows.exists(r => r.getLong(2) > r.getLong(1)),
      "authorities and hubs are distinct roles on this graph")
  }

  test("plan: broadcast normalization total, no product joins") {
    val q = Hits.hits(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "normalization total joins on a key, never as a product")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** TrustRank gates: exact-value parity with an independent sequential
  * replay (mutable-map loop, not dataflow) of both recurrences and the
  * spam-mass arithmetic; the seed split and trust-starvation semantics
  * provably occur; no cartesian products in the plan. */
class TrustRankSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def isSeed(host: String): Boolean =
    md5Hex(host + TrustRank.TrustSalt).charAt(0).toInt % 3 == 0

  private def hostOf(url: String): String =
    "^https?://([^/]+)".r.findFirstMatchIn(url).map(_.group(1)).getOrElse("")

  test("exact parity with a sequential replay of both recurrences") {
    import spark.implicits._
    val pageEdges = CrawlQueries.linkEdgesRaw(spark, dir)
      .select("src", "dst").as[(String, String)].collect()
    val edges = pageEdges.filter(_._2.startsWith("http"))
      .map { case (s, d) => (hostOf(s), hostOf(d)) }
      .filter { case (s, d) => s != d }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val unit = CrawlQueries.PageRankUnitMicro
    val floor = CrawlQueries.PageRankFloorMicro
    val damp = CrawlQueries.PageRankDampPct

    def iterate(init: Map[String, Long], floorOf: String => Long): Map[String, Long] = {
      var r = init
      for (_ <- 1 to CrawlQueries.PageRankIters) {
        val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        for ((s, d) <- edges) in(d) += r(s) / outDeg(s)
        r = nodes.map(n => n -> (floorOf(n) + damp * in(n) / 100L)).toMap
      }
      r
    }
    val pr = iterate(nodes.map(_ -> unit).toMap, _ => floor)
    val tr = iterate(nodes.map(n => n -> (if (isSeed(n)) unit else 0L)).toMap,
      n => if (isSeed(n)) floor else 0L)
    val scale = math.max(1L, pr.values.sum / math.max(1L, tr.values.sum))
    val expect = nodes.map { n =>
      val spam = math.max(0L, math.min(1000L, 1000L - tr(n) * scale * 1000L / pr(n)))
      n -> ((isSeed(n), pr(n), tr(n), spam))
    }.toMap

    val got = TrustRank.trustRank(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got === expect)
  }

  test("seed split and trust semantics occur on this corpus") {
    val rows = TrustRank.trustRank(spark, dir).collect()
    assert(rows.exists(_.getBoolean(1)), "at least one trusted seed")
    assert(rows.exists(!_.getBoolean(1)), "at least one untrusted host")
    assert(rows.forall(_.getLong(2) >= CrawlQueries.PageRankFloorMicro),
      "PageRank floor holds for every host")
    assert(rows.exists(r => !r.getBoolean(1) && r.getLong(3) > 0),
      "trust flows across at least one real edge")
    assert(rows.filter(r => r.getLong(3) == 0L).forall(_.getLong(4) == 1000L),
      "a host no seed can reach carries full spam mass")
    val spams = rows.map(_.getLong(4))
    assert(spams.forall(s => s >= 0 && s <= 1000) && spams.distinct.length > 1,
      "spam mass is a real discriminator, not a constant")
  }

  test("plan: no cartesian products; rank vectors never broadcast-collected") {
    val plan = TrustRank.trustRank(spark, dir)
      .queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct"), "global scale is a scalar, not a join")
  }
}

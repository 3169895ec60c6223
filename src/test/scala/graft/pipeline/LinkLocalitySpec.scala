package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Locality gates: corpus invariants (counts partition, permille bounds,
  * distinct-host accounting vs an independent recompute) and the
  * locality signal being non-degenerate in both directions. */
class LinkLocalitySpec extends AnyFunSuite with SharedSpark {

  test("corpus locality replays an independent driver-side recompute") {
    import spark.implicits._
    val edges = CrawlQueries.extractLinkEdges(spark, "/root/testdata/sf0.001")
      .as[(String, String)].collect().toSeq
      .filter(_._2.startsWith("http"))
      .map { case (s, d) =>
        def host(u: String) = "^https?://([^/]+)".r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
        (host(s), host(d))
      }
      .filter { case (s, d) => s.nonEmpty && d.nonEmpty }
    val want = edges.groupBy(_._1).map { case (h, es) =>
      val intra = es.count { case (s, d) => s == d }
      val extHosts = es.collect { case (s, d) if s != d => d }.distinct.size
      (h, (es.size.toLong, intra.toLong, (es.size - intra).toLong, extHosts.toLong,
        intra.toLong * 1000L / es.size))
    }
    val got = LinkLocality.linkLocality(spark, "/root/testdata/sf0.001").collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val h = r.getString(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        === want(h), h)
    }
    // non-degenerate: the corpus has both intra- and inter-host linkage
    assert(got.exists(_.getLong(2) > 0L), "no intra-host links")
    assert(got.exists(_.getLong(3) > 0L), "no inter-host links")
  }
}

package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Soft-404 probe semantics: misconfigured hosts flag exactly the planted
  * dead paths, honest-404 and unprobed hosts flag nothing, organic content
  * never matches the probe digest, and the probe table broadcasts. */
class Soft404Spec extends AnyFunSuite with SharedSpark {

  test("planted audit: misconfigured hosts flag exactly their dead paths") {
    val rows = Soft404.soft404(spark, "unused").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("www.site0.com", "site1.com", "site2.com", "www.site3.com"))
    assert(rows("www.site0.com") == ((200, 15L, 3L)), "12 organic + 3 dead, 3 flagged")
    assert(rows("site2.com") == ((200, 15L, 3L)))
    assert(rows("site1.com") == ((404, 12L, 0L)), "honest 404 probe, nothing flagged")
    assert(rows("www.site3.com") == ((-1, 12L, 0L)), "unprobed host: gap, no flags")
  }

  test("digest rule replayed driver-side over the whole log") {
    val log = Soft404.corpus(spark).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getAs[Array[Byte]](2)))
    def md5x(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    def host(u: String) = u.stripPrefix("https://").takeWhile(c => c != '/' && c != '?')
    val probe = log.filter(_._1.endsWith(Soft404.ProbePath))
      .map(r => host(r._1) -> ((r._2, md5x(r._3)))).toMap
    val expect = log.filterNot(_._1.endsWith(Soft404.ProbePath))
      .groupBy(r => host(r._1))
      .map { case (h, rs) =>
        val p = probe.get(h)
        h -> ((p.map(_._1).getOrElse(-1), rs.length.toLong,
          rs.count(r => p.exists(pp => pp._1 == 200 && r._2 == 200 && md5x(r._3) == pp._2)).toLong))
      }
    val got = Soft404.soft404(spark, "unused").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, "Spark audit equals driver replay")
    // the planted dead paths are the ONLY pages matching a probe digest
    val s0probe = probe("www.site0.com")._2
    val organicMatches = log.filter(r => host(r._1) == "www.site0.com" &&
      !r._1.contains("/archive/removed-") && !r._1.endsWith(Soft404.ProbePath) &&
      md5x(r._3) == s0probe)
    assert(organicMatches.isEmpty, "organic pages never collide with the error body")
  }

  test("plan: one-row-per-host probe table broadcasts; no product joins") {
    val q = Soft404.soft404(spark, "unused")
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("BroadcastHashJoin"), "probe table broadcasts")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "host-keyed broadcast only")
  }

  test("duplicate probe fetches (retries) do not multiply page rows") {
    import spark.implicits._
    val err = "not found page".getBytes(UTF_8)
    val rows = Seq(
      ("https://r.com" + Soft404.ProbePath, 200, err),
      ("https://r.com" + Soft404.ProbePath, 200, err), // retried probe
      ("https://r.com/dead", 200, err),
      ("https://r.com/live", 200, "real".getBytes(UTF_8)))
    val out = Soft404.audit(spark, rows.toDF("url", "status", "html")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == 2L, "n_pages counts pages once despite probe dup")
    assert(out.head.getLong(3) == 1L, "n_soft404 not inflated by the duplicate probe")
  }

  test("a 200-probe host with no matching pages flags nothing (digest gate, not status gate)") {
    import spark.implicits._
    val rows = Seq(
      ("https://ok.com" + Soft404.ProbePath, 200, "custom error".getBytes(UTF_8)),
      ("https://ok.com/a", 200, "real content a".getBytes(UTF_8)),
      ("https://ok.com/b", 200, "real content b".getBytes(UTF_8)))
    val out = Soft404.audit(spark, rows.toDF("url", "status", "html")).collect()
    assert(out.length == 1 && out.head.getLong(3) == 0L,
      "200 probe alone is not evidence; digests must match")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for conditional-revalidation planning: the decision ladder
  * re-derived row-by-row from the same salted digits by independent driver
  * code, every ladder branch demonstrably taken, rollup arithmetic checked,
  * and the plan asserted join-free with map-side partials. */
class RevalidationSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("decision ladder matches an independent driver-side re-derivation") {
    val rows = Revalidation.decisions(spark, dir).collect()
    assert(rows.length == 500)
    var branches = Set.empty[String]
    rows.foreach { r =>
      val id = r.getAs[Long]("url_id").toString
      val hasEtag = md5hex(id + ":graft-etag-v1").head < '8'
      val hasLm = md5hex(id + ":graft-lm-v1").head < 'c'
      val ccd = md5hex(id + ":graft-cc-v1").head
      val maxAge = if (ccd >= '4' && ccd < '8') 3600L
        else if (ccd >= '8' && ccd < 'c') 86400L else 0L
      val age = (md5hex(id + ":graft-age-v1").head match {
        case c if c.isDigit => c - '0'
        case c => c - 'a' + 10
      }).toLong * 3600L
      val changed = md5hex(id + ":graft-rchg-v1").head < '4'
      val decision =
        if (ccd < '4') "refetch"
        else if (maxAge > age) "fresh"
        else if (hasEtag) "reval_etag"
        else if (hasLm) "reval_lm"
        else "refetch"
      val response =
        if (decision == "fresh") "none"
        else if (decision == "refetch") "200"
        else if (changed) "200" else "304"
      assert(r.getAs[String]("decision") == decision, s"decision for url $id")
      assert(r.getAs[String]("response") == response, s"response for url $id")
      val n = r.getAs[Long]("n_chars")
      assert(r.getAs[Long]("bytes_fetched") == (if (response == "200") n else 0L))
      assert(r.getAs[Long]("bytes_saved") == (if (response == "200") 0L else n))
      branches += decision
    }
    assert(branches == Set("refetch", "fresh", "reval_etag", "reval_lm"),
      "every ladder branch must occur in the corpus")
  }

  test("per-host rollup: exact sums of the row-level decisions") {
    val det = Revalidation.decisions(spark, dir).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("decision"),
        r.getAs[String]("response"), r.getAs[Long]("bytes_fetched"),
        r.getAs[Long]("bytes_saved")))
    val expect = det.groupBy(_._1).map { case (h, rs) =>
      h -> (rs.length.toLong,
        rs.count(_._2 == "fresh").toLong, rs.count(_._2 == "reval_etag").toLong,
        rs.count(_._2 == "reval_lm").toLong, rs.count(_._2 == "refetch").toLong,
        rs.count(_._3 == "304").toLong, rs.map(_._4).sum, rs.map(_._5).sum)
    }
    val got = Revalidation.revalidate(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(got == expect)
    // the 304 machinery must genuinely save bandwidth on this corpus
    assert(got.values.map(_._6).sum > 0, "some conditionals answer 304")
    assert(got.values.map(_._8).sum > 0, "saved bytes are nonzero")
  }

  test("plan: join-free projections into one map-side-combined rollup") {
    val q = Revalidation.revalidate(spark, dir)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("partial_"), "rollup combines map-side")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "pure per-row ladder + one keyed aggregation")
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the recrawl scheduler: an independent JVM-side
  * re-derivation of the salted-md5 capture history (MessageDigest, not
  * Spark functions) must reproduce every row, and the schedule rules must
  * hold pointwise. The DuckDB oracle pins the same values a third way. */
class FreshnessSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The spec'd derivation, written independently of the Spark/SQL code. */
  private def expected(urlId: Long): (Long, Long, Long, Long) = {
    val ids = urlId.toString
    val nCaps = 2 + (md5hex(ids + ":graft-caps-v1").charAt(0).toInt % 4)
    val nChanges = (2 to nCaps).count { i =>
      md5hex(ids + ":graft-chg-v1:" + i).charAt(0) < '8'
    }.toLong
    val changeMilli = (nChanges * 1000) / (nCaps - 1)
    val interval = math.min(math.max((24L * (nCaps - 1)) / (nChanges + 1), 6L), 168L)
    (nCaps.toLong, nChanges, changeMilli, interval)
  }

  test("recrawlSchedule: every row matches an independent JVM re-derivation") {
    val rows = Freshness.recrawlSchedule(spark, sfDir).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs, "one schedule row per url")
    rows.foreach { r =>
      val id = r.getAs[Long]("url_id")
      val (caps, chg, milli, hours) = expected(id)
      assert(r.getAs[Long]("n_caps") == caps, s"n_caps for $id")
      assert(r.getAs[Long]("n_changes") == chg, s"n_changes for $id")
      assert(r.getAs[Long]("change_milli") == milli, s"change_milli for $id")
      assert(r.getAs[Long]("interval_hours") == hours, s"interval_hours for $id")
    }
  }

  test("recrawlSchedule: schedule invariants and ordering") {
    val rows = Freshness.recrawlSchedule(spark, sfDir).collect()
    rows.foreach { r =>
      val caps = r.getAs[Long]("n_caps")
      val chg = r.getAs[Long]("n_changes")
      val hours = r.getAs[Long]("interval_hours")
      assert(caps >= 2 && caps <= 5, s"caps in [2,5]: $r")
      assert(chg >= 0 && chg <= caps - 1, s"changes bounded by intervals: $r")
      assert(hours >= 6 && hours <= 168, s"interval clamped to [6h, 168h]: $r")
      // a page that changed every interval sits at the revisit floor
      if (chg == caps - 1 && caps - 1 >= 2) assert(hours <= 24, s"hot page revisits fast: $r")
      // a page that never changed backs off to at least daily
      if (chg == 0) assert(hours >= 24, s"stable page backs off: $r")
    }
    val keys = rows.map(r => (-r.getAs[Long]("change_milli"), r.getAs[Long]("url_id")))
    assert(keys.sameElements(keys.sorted), "hot-first, id-tiebroken order")
    // the derivation must actually vary across the corpus
    assert(rows.map(_.getAs[Long]("n_caps")).distinct.length >= 3, "caps vary")
    assert(rows.map(_.getAs[Long]("n_changes")).distinct.length >= 3, "changes vary")
  }

  test("crawlPriority: exact product of the two verified components") {
    val sched = Freshness.recrawlSchedule(spark, sfDir).collect()
      .map(r => r.getAs[Long]("url_id") ->
        (r.getAs[Long]("change_milli"), r.getAs[Long]("interval_hours"))).toMap
    val rep = Reputation.hostReputation(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("reputation_milli")).toMap
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val expected = sched.toSeq.map { case (id, (chg, hrs)) =>
      val s = src(id)
      (id, s, chg, rep(s), hrs, chg * rep(s))
    }.sortBy { case (id, _, _, _, _, p) => (-p, id) }
    val got = Freshness.crawlPriority(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("url_id"), r.getAs[String]("source"),
        r.getAs[Long]("change_milli"), r.getAs[Long]("reputation_milli"),
        r.getAs[Long]("interval_hours"), r.getAs[Long]("priority_micro"))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.map(_._6).distinct.length >= 3, "priority discriminates")
    // a page on a better host outranks the same change rate on a worse one
    got.groupBy(_._3).values.filter(_.map(_._4).distinct.length >= 2).take(1).foreach { g =>
      val byRep = g.sortBy(-_._4)
      assert(byRep.head._6 >= byRep.last._6)
    }
  }

  test("crawlDelta: every row matches an independent JVM re-derivation") {
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val expected = texts.flatMap { case (id, t) =>
      val ids = id.toString
      val inA = md5hex(ids + ":graft-snapA-v1").charAt(0) < 'e'
      val inB = md5hex(ids + ":graft-snapB-v1").charAt(0) < 'e'
      val hashA = if (inA) md5hex(t) else ""
      val hashB =
        if (!inB) ""
        else if (md5hex(ids + ":graft-delta-chg-v1").charAt(0) < '4') md5hex(t + "#v2")
        else md5hex(t)
      (inA, inB) match {
        case (false, false) => None
        case (false, true)  => Some((id, hashA, hashB, "added"))
        case (true, false)  => Some((id, hashA, hashB, "removed"))
        case (true, true)   =>
          Some((id, hashA, hashB, if (hashA != hashB) "changed" else "unchanged"))
      }
    }.sortBy(_._1).toSeq
    val got = Freshness.crawlDelta(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("url_id"), r.getAs[String]("hash_a"),
        r.getAs[String]("hash_b"), r.getAs[String]("status"))).toSeq
    assert(got == expected)
    // all four outcomes occur, and the diff really is sparse vs the corpus
    assert(got.map(_._4).toSet == Set("added", "removed", "changed", "unchanged"))
    assert(got.count(_._4 == "unchanged") > got.length / 2,
      "most URLs hold steady between captures")
  }
}

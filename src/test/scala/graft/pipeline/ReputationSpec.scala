package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the host-reputation prior: an independent JVM-side
  * re-derivation (MessageDigest + plain collections) must reproduce every
  * row, and the reputation formula's invariants must hold pointwise. */
class ReputationSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("hostReputation: every row matches an independent JVM re-derivation") {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("lang"), r.getAs[String]("text")))
    val keeper = rows.groupBy(r => md5hex(r._4)).map { case (h, g) =>
      h -> g.map(_._1).min
    }
    val perSource = rows.groupBy(_._2).map { case (src, g) =>
      val flags = g.map { case (id, _, lang, t) =>
        val isDup = if (keeper(md5hex(t)) != id) 1L else 0L
        val isShort = if (t.split(" ", -1).length < Reputation.ShortDocTokens) 1L else 0L
        (lang, isDup, isShort, math.max(isDup, isShort))
      }
      val nDocs = flags.length.toLong
      val nBad = flags.map(_._4).sum
      (src, nDocs, flags.map(_._2).sum, flags.map(_._3).sum, nBad,
        flags.map(_._1).distinct.length.toLong, (1000L * (nDocs - nBad)) / nDocs)
    }.toSeq.sortBy { case (src, _, _, _, _, _, rep) => (-rep, src) }
    val got = Reputation.hostReputation(spark, sfDir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dup_copies"), r.getAs[Long]("n_short"),
        r.getAs[Long]("n_bad"), r.getAs[Long]("n_langs"),
        r.getAs[Long]("reputation_milli"))).toSeq
    assert(got == perSource)
  }

  test("hostReputation: formula invariants and discrimination") {
    val got = Reputation.hostReputation(spark, sfDir).collect()
    got.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val nBad = r.getAs[Long]("n_bad")
      val rep = r.getAs[Long]("reputation_milli")
      assert(rep >= 0 && rep <= 1000, s"reputation in [0, 1000]: $r")
      assert(nBad <= nDocs, s"bad bounded by docs: $r")
      assert(nBad >= math.max(r.getAs[Long]("n_dup_copies"), r.getAs[Long]("n_short")),
        s"bad covers each flag: $r")
      assert(nBad <= r.getAs[Long]("n_dup_copies") + r.getAs[Long]("n_short"),
        s"bad is a union, not a sum: $r")
      assert(rep == (1000L * (nDocs - nBad)) / nDocs, s"formula holds: $r")
    }
    // the prior must discriminate between hosts to be worth joining in
    assert(got.map(_.getAs[Long]("reputation_milli")).distinct.length >= 3,
      "reputation varies across sources")
  }
}

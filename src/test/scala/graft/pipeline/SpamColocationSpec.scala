package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for IP-pooled spam mass: exact weighted pooling on a
  * hand frame, the dilution theorem (PageRank weighting), and contract
  * coherence against the ip-budget topology. */
class SpamColocationSpec extends AnyFunSuite with SharedSpark {

  private def ipOf(host: String): Long = {
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(host + IpPoliteness.IpSalt).substring(0, 11), 16)
    ((h % IpPoliteness.IpSpace) + IpPoliteness.IpSpace) % IpPoliteness.IpSpace
  }

  test("weighted pooling: a heavy spam host dominates its box exactly") {
    import spark.implicits._
    // find two hosts colocated by the real hash rule
    val hosts = (0 until 64).map(i => s"sc$i.example")
    val byIp = hosts.groupBy(ipOf).filter(_._2.size >= 2)
    val (ip, pair) = byIp.head
    val (a, b) = (pair(0), pair(1))
    val tr = Seq((a, 900000L, 900L), (b, 100000L, 0L)) ++
      pair.drop(2).map(h => (h, 1L, 0L))
    val rows = SpamColocation.poolByIp(tr.toDF("host", "pr_micro", "spam_mass_permille"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val row = rows(ip)
    val wsum = 900000L * 900L
    val prsum = tr.map(_._2).sum
    assert(row.getLong(4) == wsum / prsum, "PR-weighted pooling exact")
    assert(row.getLong(4) >= 500L && row.getLong(6) == 1L,
      "a tiny clean host cannot dilute the heavy spam host below the flag")
    assert(row.getLong(5) == 900L)
  }

  test("singleton addresses are excluded: pooling is a colocation read") {
    import spark.implicits._
    // a host alone on its address must not emit a row, however spammy
    val rows = SpamColocation.poolByIp(
      Seq(("solo0.x", 1000L, 999L)).toDF("host", "pr_micro", "spam_mass_permille"))
      .collect()
    assert(rows.isEmpty)
  }

  test("contract query: pooled mass within [0,1000], topology matches ip rule") {
    val rows = SpamColocation.spamColocation(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "the corpus host set colocates at IpSpace=8")
    rows.foreach { r =>
      assert(r.getLong(1) >= 2)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
      assert(r.getLong(5) >= r.getLong(4), "max >= PR-weighted mean (theorem)")
      assert(ipOf(r.getString(2)) == r.getLong(0), "first_host lives on its address")
    }
  }
}

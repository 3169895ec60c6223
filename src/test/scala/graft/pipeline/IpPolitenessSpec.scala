package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Per-IP budget gates: driver replay of hash/budget/rollup, co-hosting
  * provably occurs, the cap binds somewhere and throttles proportionally,
  * and the plan is one map-side aggregation — no joins, no windows. */
class IpPolitenessSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("driver replay: hash mapping, budgets, caps, throttle, crowding") {
    val hosts = spark.read.parquet(s"$dir/documents.parquet")
      .select("source").distinct().collect().map(_.getString(0))
    val hv = hosts.map { h =>
      val ip = java.lang.Long.parseLong(md5Hex(h + ":graft-ip-v1").take(11), 16) % IpPoliteness.IpSpace
      val budget = 4L + (md5Hex(h + ":graft-hostbudget-v1").charAt(0).toInt % 13)
      (h, ip, budget)
    }
    val expect = hv.groupBy(_._2).map { case (ip, v) =>
      val sum = v.map(_._3).sum
      val grant = math.min(sum, IpPoliteness.IpCap)
      ip -> ((v.length.toLong, v.map(_._1).min, sum, grant, grant * 1000 / sum,
        v.length >= IpPoliteness.CrowdedAt))
    }
    val got = IpPoliteness.ipBudget(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(got == expect, s"got $got\nwant $expect")
    // the synthetic space forces the interesting branches to occur
    assert(got.values.exists(_._1 >= 2), "co-hosting occurs")
    assert(got.values.exists(v => v._4 < v._3), "the IP cap binds somewhere")
    assert(got.values.exists(_._5 < 1000) && got.values.forall(_._5 <= 1000),
      "throttle factor is a real reduction where the cap binds")
  }

  test("plan: one map-side-combined aggregation — no joins, no windows") {
    val q = IpPoliteness.ipBudget(spark, dir)
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("partial_"), "rollup combines map-side")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "pure projection into one keyed aggregation")
  }
}

package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the salting audit: both strategies replayed
  * test-locally (same hash, same salt rule), exact mass conservation,
  * and the imbalance win on a planted mega-host. */
class SaltSkewSpec extends AnyFunSuite with SharedSpark {

  private def h44(s: String): Long =
    java.lang.Long.parseLong(DigestUtils.md5Hex(s).substring(0, 11), 16)

  /** Test-local replay of both layouts; returns (strategy -> (n_keys,
    * n_salted, total, max_load)). */
  private def replay(masses: Seq[(String, Long)], shards: Int): Map[String, (Long, Long, Long, Long)] = {
    val total = masses.map(_._2).sum
    val plainLoads = masses.groupBy { case (v, _) => h44(v) % shards }
      .map { case (_, ms) => ms.map(_._2).sum }
    val saltedKeys = masses.flatMap { case (v, d) =>
      val k = if (d * shards > total) math.min(shards.toLong, (d * shards + total - 1) / total) else 1L
      (0L until k).map { i =>
        val key = if (k == 1) v else s"$v#$i"
        (h44(key) % shards, d / k + (if (i < d % k) 1L else 0L))
      }
    }
    val saltedLoads = saltedKeys.groupBy(_._1).map { case (_, ms) => ms.map(_._2).sum }
    val nSalted = masses.count { case (_, d) => d * shards > total &&
      math.min(shards.toLong, (d * shards + total - 1) / total) > 1 }
    Map(
      "plain" -> ((masses.size.toLong, 0L, total, plainLoads.max)),
      "salted" -> ((saltedKeys.size.toLong, nSalted.toLong, total, saltedLoads.max)))
  }

  private def run(masses: Seq[(String, Long)], shards: Int): Map[String, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    SaltSkew.saltSkew(masses.toDF("v", "d"), shards).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap
  }

  test("mega-host: engine matches the test-local replay and the salt wins") {
    val masses = ("mega.example", 1000L) +: (0 until 7).map(i => (s"h$i.example", 1L))
    val got = run(masses, 4)
    val exp = replay(masses, 4)
    for (s <- Seq("plain", "salted")) {
      assert((got(s)._1, got(s)._2, got(s)._3, got(s)._4) == exp(s), s)
      assert(got(s)._5 == exp(s)._4 * 4 * 1000 / exp(s)._3, s"$s imbalance formula")
    }
    assert(got("plain")._4 >= 1000L, "the mega-host pins one shard entirely")
    assert(got("salted")._4 < got("plain")._4, "salting strictly lowers the peak")
    assert(got("salted")._2 == 1L, "exactly the mega-host splits")
  }

  test("uniform masses: salting is a no-op (no host exceeds the mean load)") {
    val masses = (0 until 64).map(i => (s"u$i.example", 5L))
    val got = run(masses, 8)
    assert(got("plain") == got("salted").copy(), "identical summaries")
    assert(got("salted")._2 == 0L)
  }

  test("conservation: both strategies carry exactly the total mass") {
    val masses = Seq(("a", 17L), ("b", 5L), ("c", 99L), ("d", 1L))
    val got = run(masses, 4)
    assert(got("plain")._3 == 122L && got("salted")._3 == 122L)
  }

  test("contract query: two rows, salted peak <= plain peak, ledger conserved") {
    val rows = SaltSkew.saltSkewQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("plain", "salted"))
    val Array(p, s) = rows
    assert(p.getLong(4) == s.getLong(4), "mass conserved across layouts")
    assert(s.getLong(5) <= p.getLong(5), "salting never raises the peak here")
    assert(s.getLong(6) >= 1000L, "imbalance floor is perfectly-level = 1000")
  }
}

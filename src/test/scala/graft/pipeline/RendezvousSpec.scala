package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** HRW gates: the column implementation replays an independent
  * MessageDigest-based driver derivation host-for-host, the minimal-
  * movement THEOREM holds exactly (a moved host lands only on a NEW
  * shard; survivors' assignments are untouched), the movement fraction
  * is the theoretical (M−N)/M up to sampling noise, and load spreads. */
class RendezvousSpec extends AnyFunSuite with SharedSpark {

  /** Independent replay: Java MessageDigest md5, no Spark expressions. */
  private def weight(host: String, s: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$host#$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 11), 16)
  }
  private def argmax(host: String, m: Int): Long =
    (0 until m).maxBy(s => (weight(host, s), -s)).toLong

  test("assignment replays the MessageDigest derivation host-for-host") {
    val got = Rendezvous.rendezvous(spark, "").collect()
    assert(got.length === Rendezvous.Hosts)
    got.foreach { r =>
      val h = r.getString(0)
      assert(r.getLong(1) === argmax(h, Rendezvous.ShardsN), s"$h shard_n")
      assert(r.getLong(2) === argmax(h, Rendezvous.ShardsM), s"$h shard_m")
      assert(r.getBoolean(3) === (r.getLong(1) != r.getLong(2)))
    }
  }

  test("minimal movement: moves go ONLY to new shards, at ~(M-N)/M rate") {
    val got = Rendezvous.rendezvous(spark, "").collect()
    val moved = got.filter(_.getBoolean(3))
    // the HRW theorem: if the N-shard winner still existed, it would
    // still win — so any move lands on a shard id ≥ N
    moved.foreach(r => assert(r.getLong(2) >= Rendezvous.ShardsN, r.getString(0)))
    val frac = moved.length.toDouble / got.length
    val theory = (Rendezvous.ShardsM - Rendezvous.ShardsN).toDouble / Rendezvous.ShardsM
    assert(math.abs(frac - theory) < 0.08, f"moved $frac%.3f vs theory $theory%.3f")
  }

  test("load spreads: no shard above 3x the mean at either size") {
    val got = Rendezvous.rendezvous(spark, "").collect()
    def check(loads: Map[Long, Int], m: Int): Unit = {
      val mean = got.length.toDouble / m
      assert(loads.values.max <= 3 * mean, loads.toString)
    }
    check(got.groupBy(_.getLong(1)).map { case (k, v) => k -> v.length }, Rendezvous.ShardsN)
    check(got.groupBy(_.getLong(2)).map { case (k, v) => k -> v.length }, Rendezvous.ShardsM)
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the bootstrap ledger: determinism, the coverage
  * sanity (point inside [p05, p95]), order-statistic coherence, and an
  * independent driver-side replay of one replica's resample. */
class BootstrapCiSpec extends AnyFunSuite with SharedSpark {

  private lazy val rows =
    BootstrapCi.bootstrapCiQuery(spark, "/root/testdata/sf0.001").collect()

  test("64 replicas, deterministic across runs") {
    assert(rows.length == BootstrapCi.B)
    val again = BootstrapCi.bootstrapCiQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("order statistics coherent and the point estimate sits inside the band") {
    val r = rows.head
    val (point, p05, p50, p95) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(p05 <= p50 && p50 <= p95)
    assert(point >= p05 && point <= p95,
      s"point $point outside [$p05, $p95] — a resampling bug, not sampling noise")
    val means = rows.map(_.getLong(1)).sorted
    assert(means(math.ceil(0.05 * BootstrapCi.B).toInt - 1) == p05)
    assert(means(BootstrapCi.B / 2 - 1) == p50)
    assert(means(math.ceil(0.95 * BootstrapCi.B).toInt - 1) == p95)
    assert(p05 < p95, "a real corpus has sampling variance")
  }

  test("replica 0's mean matches an independent driver-side md5 replay") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("words"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    val n = docs.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val sum = (0 until n).map { r =>
      val hex = md.digest(s"0:$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      docs((java.lang.Long.parseLong(hex, 16) % n).toInt)
    }.sum
    val expected = 1000L * sum / n
    assert(rows.find(_.getLong(0) == 0L).get.getLong(1) == expected)
  }
}

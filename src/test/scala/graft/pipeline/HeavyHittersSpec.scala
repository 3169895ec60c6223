package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Heavy-hitter gates: the MG sketch's no-false-negative guarantee on an
  * adversarial stream, the candidate-superset property under hostile
  * partitioning, and bit-equality of the two-pass dataflow against the
  * direct full GROUP BY ... HAVING it claims to equal. */
class HeavyHittersSpec extends AnyFunSuite with SharedSpark {

  test("mgSketch never evicts an item with count > n/(K+1)") {
    // adversarial stream: K distinct decoys between every pair of hot hits
    val k = 8
    val hot = "hot"
    val stream = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until 40) {
      stream += hot
      for (j <- 0 until k) stream += s"decoy-$i-$j" // all distinct → maximal decrements
    }
    val (m, n) = HeavyHitters.mgSketch(stream.iterator, k)
    assert(n === stream.length)
    // hot count 40 > 360/9 = 40? need strict: 40 shares = n/(k+1) exactly; add one more
    val (m2, n2) = HeavyHitters.mgSketch((stream ++ Seq(hot)).iterator, k)
    assert(m2.contains(hot), s"hot item evicted, summary = $m2 (n=$n2)")
    assert(m.size <= k && m2.size <= k)
  }

  test("mgSketch exact when distinct items fit the capacity") {
    val stream = Seq("a", "b", "a", "c", "a", "b")
    val (m, n) = HeavyHitters.mgSketch(stream.iterator, 8)
    assert(n === 6L)
    assert(m.toMap === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("two-pass equals the direct GROUP BY ... HAVING, any partitioning") {
    import spark.implicits._
    // skewed stream: h0 ≈ 50%, h1 ≈ 25%, h2 ≈ 12.5%, tail of 1000 rare hosts
    val rows = (0 until 8000).map { i =>
      if (i % 2 == 0) "h0" else if (i % 4 == 1) "h1" else if (i % 8 == 3) "h2"
      else s"tail-${i % 997}"
    }
    def direct(hosts: org.apache.spark.sql.DataFrame) = {
      val n = hosts.count()
      val thr = (n + 99L) / 100L
      hosts.groupBy("host").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= thr)
        .withColumn("share_permille", expr(s"cnt * 1000 div $n"))
        .orderBy("host")
    }
    for (parts <- Seq(1, 3, 16)) {
      val hosts = rows.toDF("host").repartition(parts)
      val got = HeavyHitters.heavyHosts(hosts).collect().toSeq
      val want = direct(hosts).collect().toSeq
      assert(got === want, s"parts=$parts")
      assert(got.exists(_.getString(0) == "h0"))
      assert(got.exists(_.getString(0) == "h2")) // 12.5% ≫ 1%
    }
  }

  test("contract query finds the corpus hub hosts with exact counts") {
    val out = HeavyHitters.heavyHitters(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // exactness cross-check against a plain full aggregation
    val hosts = CrawlQueries.extractLinkEdges(spark, "/root/testdata/sf0.001")
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("dst")).as("host"))
      .filter(col("host") =!= "")
    val n = hosts.count()
    val thr = (n + 99L) / 100L
    val want = hosts.groupBy("host").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr).orderBy("host").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq
      === want.map(r => (r.getString(0), r.getLong(1))).toSeq)
    out.foreach(r => assert(r.getLong(2) >= 10L)) // ≥1% ⇒ ≥10‰
  }
}

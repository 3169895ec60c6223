package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for snapshot overlap: the exact ledger against a
  * test-local replay, sub-k exactness of the sketch path, estimator
  * accuracy at scale, and contract shape. */
class SnapshotOverlapSpec extends AnyFunSuite with SharedSpark {

  private def inSnap(url: String, salt: String): Boolean =
    DigestUtils.md5Hex(url + salt).charAt(0) < 'c'

  test("small universe: exact ledger matches a test-local membership replay") {
    import spark.implicits._
    val urls = (0 until 200).map(i => s"https://snap$i.example/p")
    val r = SnapshotOverlap.snapshotOverlap(urls.toDF("url")).collect().head
    val a = urls.count(inSnap(_, SnapshotOverlap.SaltA))
    val b = urls.count(inSnap(_, SnapshotOverlap.SaltB))
    val inter = urls.count(u =>
      inSnap(u, SnapshotOverlap.SaltA) && inSnap(u, SnapshotOverlap.SaltB))
    val union = urls.count(u =>
      inSnap(u, SnapshotOverlap.SaltA) || inSnap(u, SnapshotOverlap.SaltB))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((a.toLong, b.toLong, inter.toLong, union.toLong)))
    assert(r.getLong(4) == 1000L * inter / union)
  }

  test("sub-k universe: the sketch IS the set, so the KMV path is exact") {
    import spark.implicits._
    val urls = (0 until 100).map(i => s"https://tiny$i.example/")
    val r = SnapshotOverlap.snapshotOverlap(urls.toDF("url")).collect().head
    assert(r.getLong(5) == r.getLong(3), "k_used = union (under K)")
    assert(r.getLong(6) == r.getLong(2), "sketch intersection = exact")
    assert(r.getLong(8) == r.getLong(3), "union_kmv = exact union")
    assert(r.getLong(10) == 0L, "estimator error is zero below k")
  }

  test("above-k universe: estimator lands within 150 permille of truth") {
    import spark.implicits._
    val urls = (0 until 5000).map(i => s"https://big$i.example/page$i")
    val r = SnapshotOverlap.snapshotOverlap(urls.toDF("url")).collect().head
    assert(r.getLong(5) == SnapshotOverlap.K.toLong, "sketch saturated")
    assert(r.getLong(10) <= 150L,
      s"jaccard err ${r.getLong(10)} permille exceeds the k=256 gate")
    val unionErr = math.abs(r.getLong(8) - r.getLong(3)) * 1000 / r.getLong(3)
    assert(unionErr <= 150L, s"union estimate off by $unionErr permille")
  }

  test("contract query: one row, coherent ledger, deterministic") {
    val r = SnapshotOverlap.snapshotOverlapQuery(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(2) <= math.min(row.getLong(0), row.getLong(1)))
    assert(row.getLong(3) >= math.max(row.getLong(0), row.getLong(1)))
    assert(row.getLong(0) + row.getLong(1) == row.getLong(2) + row.getLong(3),
      "inclusion-exclusion holds exactly")
    val again = SnapshotOverlap.snapshotOverlapQuery(spark, "/root/testdata/sf0.001").collect()
    assert(r.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}

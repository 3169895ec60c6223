package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the compaction planner: hand manifests with known
  * bin boundaries, the overhang bound, oversized-file isolation, order
  * preservation, and contract conservation identities. */
class CompactionPlanSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def plan(files: Seq[(String, Long, Long)], target: Long) =
    CompactionPlan.compactionPlan(files.toDF("source", "bucket", "bytes"), target)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

  test("hand manifest: cumsum crosses target exactly where bins split") {
    // source s: files of 60,60,60,60 bytes at target 100:
    // cum_before = 0,60,120,180 -> bins 0,0,1,1
    val m = plan(Seq(("s", 0L, 60L), ("s", 1L, 60L), ("s", 2L, 60L), ("s", 3L, 60L)), 100L)
    assert(m(("s", 0L)) == ((2L, 120L, 1200L, 0L, 1L)))
    assert(m(("s", 1L)) == ((2L, 120L, 1200L, 2L, 3L)))
  }

  test("oversized file overhangs its bin but never cascades") {
    // 10, 500 (oversized), 10 at target 100: cum_before = 0,10,510
    // -> bins 0,0,5 — the tiny third file starts a FRESH bin, not bin 6
    val m = plan(Seq(("s", 0L, 10L), ("s", 1L, 500L), ("s", 2L, 10L)), 100L)
    assert(m(("s", 0L))._1 == 2L && m(("s", 0L))._2 == 510L)
    assert(m(("s", 5L)) == ((1L, 10L, 100L, 2L, 2L)))
  }

  test("bins are contiguous bucket ranges and sources plan independently") {
    val m = plan(Seq(("a", 0L, 80L), ("a", 1L, 80L), ("a", 2L, 80L),
      ("b", 0L, 250L), ("b", 1L, 10L)), 100L)
    // contiguity: ranges never interleave across bins of one source
    val aBins = m.filterKeys(_._1 == "a").toSeq.sortBy(_._1._2)
      .map { case (_, v) => (v._4, v._5) }
    aBins.zip(aBins.tail).foreach { case ((_, lastA), (firstB, _)) =>
      assert(firstB == lastA + 1, "next bin starts at the next bucket")
    }
    assert(m(("b", 0L))._1 == 1L && m(("b", 2L))._1 == 1L)
  }

  test("contract query: conservation, overhang bound, contiguity") {
    val rows = CompactionPlan.compactionPlanQuery(spark, "/root/testdata/sf0.001").collect()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val totalBytes = docs.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))).head.getLong(0)
    val target = math.max(1L, totalBytes / 32)
    assert(rows.map(_.getLong(3)).sum == totalBytes, "every byte planned exactly once")
    val maxFile = docs.groupBy(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.expr("cast(doc_id as bigint) % 16"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long")).as("b"))
      .agg(org.apache.spark.sql.functions.max("b")).head.getLong(0)
    rows.foreach { r =>
      assert(r.getLong(3) < target + maxFile, "fill < target + largest file")
      assert(r.getLong(5) <= r.getLong(6))
    }
    assert(rows.exists(_.getLong(2) > 1L), "compaction actually merges files")
  }
}

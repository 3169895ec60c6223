package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the dup-cluster census: hand-built keep-list with
  * exact octave/removal ledgers and the contract tie to q_dedup_keep. */
class DupClusterCensusSpec extends AnyFunSuite with SharedSpark {

  test("hand keep-list: singletons, a pair, and a 5-cluster — exact ledger") {
    import spark.implicits._
    // clusters: {0},{1},{2} singletons; {10,11}; {20..24}
    val kl = (Seq((0L, 0L), (1L, 1L), (2L, 2L), (10L, 10L), (11L, 10L)) ++
      (20L to 24L).map(i => (i, 20L)))
      .map { case (d, k) => (d, k, d == k) }
      .toDF("doc_id", "keep_id", "kept")
    val rows = DupClusterCensus.dupClusterCensus(kl).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // 10 docs total, removed = 1 (pair) + 4 (5-cluster) = 5 -> 500 permille
    assert(rows.keySet == Set(0L, 1L, 2L))
    assert(rows(0L) == ((1L, 3L, 3L, 0L, 300L, 500L)))
    assert(rows(1L) == ((2L, 1L, 2L, 1L, 200L, 500L)))
    assert(rows(2L) == ((4L, 1L, 5L, 4L, 500L, 500L)))
  }

  test("contract query: census mass equals the keep-list row count") {
    val census = DupClusterCensus.dupClusterCensusQuery(spark, "/root/testdata/sf0.001")
      .collect()
    val keepRows = DedupQueries.dedupKeep(spark, "/root/testdata/sf0.001").count()
    assert(census.map(_.getLong(3)).sum == keepRows, "every doc lands in one octave")
    assert(census.map(_.getLong(0)).length >= 2, "plants guarantee non-singleton octaves")
    val rp = census.map(_.getLong(6)).distinct
    assert(rp.length == 1 && rp.head > 0, "global removal rate repeated and non-zero")
  }
}

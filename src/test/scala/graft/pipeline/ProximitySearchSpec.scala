package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for NEAR/W search: exact min gaps on hand documents
  * (incl. the merge-scan adjacency argument with interleaved repeats),
  * one-sided docs excluded, zero-hit pairs preserved, contract shape. */
class ProximitySearchSpec extends AnyFunSuite with SharedSpark {

  private def run(docs: Seq[(Long, String)], pairs: Seq[(String, String)]): Map[String, (Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("proxspec").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    ProximitySearch.search(spark, dir, pairs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
  }

  test("hand docs: exact min gaps, window gate, one-sided docs excluded") {
    val m = run(Seq(
      (0L, "a x x b"),            // gap 3 -> near (W=8)
      (1L, "a " + ("f " * 20).trim + " b"), // gap 22 -> both, not near
      (2L, "a only here"),        // one-sided: excluded entirely
      (3L, "b alone")),
      Seq(("a", "b"), ("a", "zzz")))
    assert(m("a|b") == ((2L, 1L, 500L, 3L)))
    assert(m("a|zzz") == ((0L, 0L, 0L, 0L)), "zero-hit pair preserved as zeros")
  }

  test("merge-scan correctness with interleaved repeats: closest crossing wins") {
    // positions: a@0 b@5 a@6 b@7 -> min gap is |6-7|=1, not |0-5|
    val m = run(Seq((0L, "a q q q q b a b")), Seq(("a", "b")))
    assert(m("a|b") == ((1L, 1L, 1000L, 1L)))
  }

  test("adjacent terms: gap exactly 1; same-doc far pair respects direction") {
    // b precedes a: gap measured both directions
    val m = run(Seq((0L, "b a")), Seq(("a", "b")))
    assert(m("a|b")._4 == 1L)
  }

  test("contract query: all pairs emitted, miss pair zero, ledger coherent") {
    val rows = ProximitySearch.proximitySearch(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == ProximitySearch.Pairs.length)
    val byPair = rows.map(r => r.getString(0) -> r).toMap
    assert(byPair("quantum|pelican").getLong(1) == 0L)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "near <= both")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000)
    }
  }
}

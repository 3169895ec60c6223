package graft.pipeline

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the split-leakage audit: hand keep-lists with known
  * split assignments (derived through the SAME shared rule, then asserted
  * against expectations), the cluster-promotion fix theorem, and contract
  * coherence against the live keep-list and sample split. */
class SplitLeakageSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** The split of a doc id through the one shared rule. */
  private def splitOf(id: Long): String =
    Seq(id).toDF("doc_id").select(TextAnalysis.splitOf(col("doc_id")))
      .collect().head.getString(0)

  test("singleton clusters leak nothing; a cross-split pair leaks both sides") {
    // find one train id and one test id by probing the real rule
    val ids = (0L to 400L)
    val train = ids.find(i => splitOf(i) == "train").get
    val test = ids.find(i => splitOf(i) == "test").get
    val train2 = ids.find(i => splitOf(i) == "train" && i != train).get
    val kl = Seq(
      (train, 1L), (test, 1L),   // cross-split cluster -> leaky
      (train2, 2L)               // singleton -> clean
    ).toDF("doc_id", "keep_id")
    val rows = SplitLeakage.splitLeakage(kl).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows("train") == ((2L, 2L, 1L, 500L, 1L)))
    assert(rows("test") == ((1L, 1L, 1L, 1000L, 1L)))
    assert(!rows.contains("val"))
  }

  test("same-split cluster is NOT leakage however large") {
    val ids = (0L to 2000L).filter(i => splitOf(i) == "train").take(5)
    val kl = ids.map(i => (i, 7L)).toDF("doc_id", "keep_id")
    val rows = SplitLeakage.splitLeakage(kl).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "train" && r.getLong(3) == 0L &&
      r.getLong(4) == 0L && r.getLong(5) == 0L)
  }

  test("cluster-promotion fix theorem: assigning by keep_id zeroes the audit") {
    val ids = (0L to 400L)
    val train = ids.find(i => splitOf(i) == "train").get
    val test = ids.find(i => splitOf(i) == "test").get
    val vl = ids.find(i => splitOf(i) == "val").get
    val kl = Seq((train, 1L), (test, 1L), (vl, 1L), (train + 1000, 2L))
      .toDF("doc_id", "keep_id")
    // promote: every member inherits its cluster representative's id
    val promoted = kl.select(col("keep_id").as("doc_id"), col("keep_id"))
    val rows = SplitLeakage.splitLeakage(promoted).collect()
    assert(rows.map(_.getLong(3)).sum == 0L, "no doc leaks after promotion")
    assert(rows.map(_.getLong(5)).forall(_ == 0L))
  }

  test("contract query: ledger coherent with the live keep-list and plants leak") {
    val rows = SplitLeakage.splitLeakageQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    val keepSize = DedupQueries.dedupKeep(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_.getLong(1)).sum == keepSize, "every keep-list doc audited once")
    // the planted near-dup ids (base + 10^7 / 2*10^7) hash independently of
    // their originals, so SOME cluster must straddle the split boundary
    assert(rows.head.getLong(5) > 0L, "plants produce measurable leakage")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
    }
  }
}

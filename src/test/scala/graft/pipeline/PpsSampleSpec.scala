package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for systematic PPS sampling: the partition-of-the-line
  * identity (per-interval grid hits sum to the global grid count), guaranteed
  * selection of over-stride documents, partitioning invariance, and the
  * two-phase bucketed prefix sum reproducing the direct global-window
  * formulation exactly. */
class PpsSampleSpec extends AnyFunSuite with SharedSpark {

  /** Deterministic synthetic corpus: 400 docs, word counts spanning 1..~60
    * via a quadratic residue — plus one giant doc that must out-stride the
    * grid. */
  private def corpus = {
    import spark.implicits._
    val docs = (0 until 400).map { i =>
      (i.toLong, Seq.fill(1 + (i * i * 7) % 60)("w").mkString(" "))
    } :+ (9999L, Seq.fill(5000)("w").mkString(" "))
    docs.toDF("doc_id", "text")
  }

  test("grid identity: sum(hits) equals the global grid-point count; giant doc always in") {
    val out = PpsSample.sample(corpus, target = 50).collect()
    val w = corpus.selectExpr(
      "sum(greatest(1, size(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' ')))) AS W")
      .head().getLong(0)
    val step = w / 50
    // recompute the offset exactly as the operator does
    val offset = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(PpsSample.OffsetSalt).substring(0, 11),
      16) % step
    val expectedGrid = (w - offset + step - 1) / step
    assert(out.map(_.getLong(3)).sum == expectedGrid)
    val giant = out.find(_.getLong(0) == 9999L)
    assert(giant.isDefined, "a doc wider than the stride must be selected")
    assert(giant.get.getLong(3) >= 5000 / step)
    // hits never exceeds ceil(w/step) + 1
    out.foreach { r => assert(r.getLong(3) <= r.getLong(1) / step + 1) }
  }

  test("partitioning invariance: repartitioned input yields the identical sample") {
    val a = PpsSample.sample(corpus, target = 50).collect().map(_.toSeq).toSeq
    val b = PpsSample.sample(corpus.repartition(7), target = 50).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("two-phase bucketed prefix sum == direct global window") {
    // the textbook formulation: ONE global cumsum over (hash, doc_id)
    val weighted = corpus.select(col("doc_id"),
      greatest(lit(1L), size(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")).cast("long")).as("w"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 11), 16, 10).cast("long").as("h"))
    val direct = weighted
      .withColumn("start", coalesce(
        sum(col("w")).over(Window.orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("w"), col("start"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val twoPhase = PpsSample.sample(corpus, target = 50).collect()
    twoPhase.foreach { r =>
      val (w, start) = direct(r.getLong(0))
      assert(r.getLong(1) == w && r.getLong(2) == start,
        s"doc ${r.getLong(0)}: two-phase start ${r.getLong(2)} != direct $start")
    }
  }

  test("contract query: runs at sf0.001, sample lands at the target within rounding") {
    val out = PpsSample.ppsSample(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val totalHits = out.map(_.getLong(3)).sum
    // grid count is ceil((W - offset)/step) with step = W div target: at
    // most target + (target - 1) overshoot when step rounds far down, and
    // never below target - 1
    assert(totalHits >= PpsSample.SampleTarget - 1 &&
      totalHits <= 2 * PpsSample.SampleTarget, s"grid count $totalHits")
  }
}

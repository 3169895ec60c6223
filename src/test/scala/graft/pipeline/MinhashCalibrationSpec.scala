package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for MinHash calibration: the identical-doc zero-error
  * fixpoint, disjoint docs at both zeros, the Broder error bound on the
  * contract population, and determinism (fixture precondition). */
class MinhashCalibrationSpec extends AnyFunSuite with SharedSpark {

  test("identical docs: est 1000, exact 1000, err 0; disjoint docs: all zero") {
    import spark.implicits._
    val text = (0 until 30).map(i => s"tok$i").mkString(" ")
    val other = (0 until 30).map(i => s"alt$i").mkString(" ")
    val docs = Seq((0L, text), (1L, text), (2L, other)).toDF("doc_id", "text")
    val rows = MinhashCalibration.calibrate(docs,
      Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(rows((0L, 1L)) == ((1000L, 1000L, 0L)))
    assert(rows((0L, 2L)) == ((0L, 0L, 0L)),
      "disjoint vocab: estimate and exact both zero")
  }

  test("contract population: mean error within 4 Broder standard errors") {
    val rows = MinhashCalibration.minhashCalibration(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 49, "25 near pairs + 24 far pairs")
    val ledger = rows.map(r => (r.getLong(5), r.getLong(6), r.getLong(7))).distinct
    assert(ledger.length == 1)
    // SE at the worst point (J=1/2) is ~62 milli for 64 perms
    assert(ledger.head._2 <= 250L,
      s"mean |est-exact| = ${ledger.head._2} milli breaches the 4-SE gate")
    rows.foreach(r => assert(r.getLong(4) == math.abs(r.getLong(2) - r.getLong(3))))
  }

  test("deterministic across runs (the fixture-freeze precondition)") {
    val a = MinhashCalibration.minhashCalibration(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    val b = MinhashCalibration.minhashCalibration(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }
}

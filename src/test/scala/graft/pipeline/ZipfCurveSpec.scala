package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the Zipf octave curve: hand-computed exact octave
  * rollups (incl. the deterministic tie rank), boundary bucketing, and
  * contract shape over the corpus. */
class ZipfCurveSpec extends AnyFunSuite with SharedSpark {

  test("hand corpus 8a/4b/2c/1d/1e: exact octave masses and boundary freqs") {
    import spark.implicits._
    val toks = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
      Seq("d", "e") ++ Seq("", "")).toDF("term") // empties must be dropped
    val rows = ZipfCurve.zipfCurve(toks).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // ranks: a=1(oct0), b=2,c=3(oct1), d=4,e=5(oct2); total mass 16
    assert(rows.keySet == Set(0L, 1L, 2L))
    assert(rows(0L) == ((1L, 1L, 8L, 500L, 8L, 8L)))
    assert(rows(1L) == ((2L, 2L, 6L, 375L, 4L, 2L)))
    assert(rows(2L) == ((4L, 2L, 2L, 125L, 1L, 1L)))
  }

  test("rank 4 buckets to octave 2 exactly (bit-length, not float log2)") {
    import spark.implicits._
    // 4 distinct cfs 5,4,3,2 -> ranks 1..4; rank 4 must open octave 2
    val toks = (Seq.fill(5)("p") ++ Seq.fill(4)("q") ++ Seq.fill(3)("r") ++
      Seq.fill(2)("s")).toDF("term")
    val rows = ZipfCurve.zipfCurve(toks).collect()
    val oct2 = rows.find(_.getLong(0) == 2L).get
    assert(oct2.getLong(1) == 4L && oct2.getLong(2) == 1L && oct2.getLong(5) == 2L)
  }

  test("contract query: octaves ascending, masses sum to ~1000 permille, f monotone") {
    val rows = ZipfCurve.zipfCurveQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length >= 3, "a real corpus spans several rank octaves")
    val octs = rows.map(_.getLong(0))
    assert(octs.sameElements(octs.sorted))
    val fmax = rows.map(_.getLong(5))
    assert(fmax.zip(fmax.tail).forall { case (a, b) => a >= b },
      "octave head frequencies non-increasing down the curve")
    rows.foreach(r => assert(r.getLong(5) >= r.getLong(6)))
    val permille = rows.map(_.getLong(4)).sum
    assert(permille >= 1000 - rows.length && permille <= 1000, "floor drift only")
  }
}

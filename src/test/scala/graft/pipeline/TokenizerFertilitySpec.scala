package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for tokenizer fertility: per-language ledger coherence
  * against an independent driver-side BPE recount, invariants of the
  * fertility arithmetic, and determinism across parallelism. */
class TokenizerFertilitySpec extends AnyFunSuite with SharedSpark {

  test("ledger matches an independent single-threaded BPE recount per lang") {
    val rows = TokenizerFertility.tokenizerFertility(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val session = graft.functions.Bpe.default.session()
    val expected = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (lang, docs) =>
        val toks = docs.map(d => session.count(d._2).toLong).sum
        val words = docs.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
        val chars = docs.map(_._2.length.toLong).sum
        lang -> ((docs.length.toLong, words, toks,
          1000L * toks / words, 1000L * chars / toks))
      }
    assert(rows == expected)
  }

  test("fertility >= 1000: BPE cannot merge across the whitespace pretokenizer") {
    val rows = TokenizerFertility.tokenizerFertility(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(4) >= 1000L,
      s"${r.getString(0)}: a word is at least one token"))
  }

  test("deterministic across runs (the fixture-freeze precondition)") {
    val a = TokenizerFertility.tokenizerFertility(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    val b = TokenizerFertility.tokenizerFertility(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the code census: hand blocks with exact dedup and
  * share ledgers, untagged folding, and the contract tie to the
  * extractor (planted rust duplicate must surface). */
class CodeCensusSpec extends AnyFunSuite with SharedSpark {

  test("hand blocks: exact dedup ledger, untagged folding, char shares") {
    import spark.implicits._
    val blocks = Seq(
      ("u1", "scala", 60L, "sha-a"),
      ("u2", "scala", 60L, "sha-a"),   // verbatim copy on another page
      ("u2", "scala", 20L, "sha-b"),
      ("u3", "", 40L, "sha-c"),
      ("u3", "rust", 20L, "sha-d"))
      .toDF("url", "lang", "code_chars", "code_sha256")
    val rows = CodeCensus.codeCensus(blocks).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(rows("scala") == ((3L, 2L, 2L, 1L, 140L, 700L)))
    assert(rows("(untagged)") == ((1L, 1L, 1L, 0L, 40L, 200L)))
    assert(rows("rust") == ((1L, 1L, 1L, 0L, 20L, 100L)))
  }

  test("contract query: the planted rust duplicate surfaces as dup_blocks") {
    val rows = CodeCensus.codeCensusQuery(spark, "/root/testdata/sf0.001").collect()
    val byLang = rows.map(r => r.getString(0) -> r).toMap
    assert(byLang.contains("rust") && byLang("rust").getLong(4) >= 1L,
      "plant://code/2 carries two identical rust blocks")
    assert(byLang.contains("scala") && byLang.contains("(untagged)"))
    val permille = rows.map(_.getLong(6)).sum
    assert(permille >= 1000 - rows.length && permille <= 1000)
    rows.foreach(r => assert(r.getLong(3) + r.getLong(4) == r.getLong(1)))
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the language-diversity ledger: hand-computed
  * Simpson/Hill numbers, deterministic top-lang tie-break, the N=1
  * degenerate guard, and contract shape. */
class LangDiversitySpec extends AnyFunSuite with SharedSpark {

  private def rows(docs: Seq[(String, String)]): Map[String, (Long, Long, String, Long, Long, Long)] = {
    import spark.implicits._
    LangDiversity.langDiversity(docs.toDF("source", "lang")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
  }

  test("hand source 4·en + 2·de: simpson 466, eff langs 1800, top share 666") {
    // N=6: coll=4·3+2·1=14 over 6·5=30 -> 466; eff=36000/(16+4)=1800
    val m = rows(Seq.fill(4)(("s", "en")) ++ Seq.fill(2)(("s", "de")))
    assert(m("s") == ((6L, 2L, "en", 666L, 466L, 1800L)))
  }

  test("tie on counts picks the lexicographically smallest language") {
    val m = rows(Seq(("s", "fr"), ("s", "de"), ("s", "fr"), ("s", "de")))
    assert(m("s")._3 == "de")
    assert(m("s")._6 == 2000L, "two balanced langs = exactly 2 effective")
  }

  test("degenerate single-doc source: simpson pinned to 1000, eff 1000") {
    val m = rows(Seq(("solo", "ja")))
    assert(m("solo") == ((1L, 1L, "ja", 1000L, 1000L, 1000L)))
  }

  test("contract query: per-source rows, ranges, eff <= 1000*n_langs") {
    val rs = LangDiversity.langDiversityQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rs.nonEmpty)
    val srcs = rs.map(_.getString(0))
    assert(srcs.sameElements(srcs.sorted) && srcs.distinct.length == srcs.length)
    rs.foreach { r =>
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 1000)
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000)
      assert(r.getLong(6) >= 1000 && r.getLong(6) <= 1000 * r.getLong(2),
        "1 <= effective languages <= richness")
    }
  }
}

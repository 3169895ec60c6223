package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit

/** hreflang gates: extractor semantics on hostile html, a full digit
  * replay of the pipeline (closed form, no joins, no parser), scenario
  * coverage including the no-return error, and the general join
  * machinery agreeing with the closed form. */
class HreflangSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("extractHreflang: rel tokens, case, relative hrefs, no dedup") {
    val html =
      """<html><head>
        |<link rel="alternate" hreflang="EN" href="/en/p">
        |<link rel="ALTERNATE stylesheet" hreflang="de" href="https://h.test/de/p">
        |<link rel="alternate" href="/no-hreflang">
        |<link rel="stylesheet" hreflang="fr" href="/fr/p">
        |<link rel="alternate" hreflang="en" href="/en/p">
        |</head></html>""".stripMargin
    val got = HtmlKit.extractHreflang(html, "https://h.test/x/p")
    assert(got === Vector(
      ("en", "https://h.test/en/p"),
      ("de", "https://h.test/de/p"),
      ("en", "https://h.test/en/p")),
      "lowercased langs, resolved hrefs, multi-token rel, duplicates kept")
  }

  test("digit replay (closed form) matches the join pipeline row-for-row") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "doc_id").as[(String, Long)].collect()
    val expect = docs.flatMap { case (src, id) =>
      val ck = Hreflang.clusterKey(src, id)
      val ls = Hreflang.langsOf(ck)
      val broken = Hreflang.brokenLang(ck)
      val xd = Hreflang.hasXDefault(ck)
      ls.map { lang =>
        val isBroken = broken.contains(lang)
        val nDecl = if (isBroken) 0L else ls.length.toLong + (if (xd) 1L else 0L)
        val returnOk = isBroken || broken.isEmpty || broken.contains(lang)
        (Hreflang.memberUrl(ck, lang),
          (ck, lang, nDecl, !isBroken && xd, returnOk, broken.isEmpty))
      }
    }.toMap
    val got = Hreflang.hreflang(spark, dir).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (ck, lang, nDecl, xd, returnOk, valid) = expect(r.getString(0))
      assert(r.getString(1) === ck && r.getString(2) === lang, r.getString(0))
      assert(r.getLong(3) === nDecl, s"n_declared ${r.getString(0)}")
      assert(r.getBoolean(4) === xd, s"x_default ${r.getString(0)}")
      assert(r.getBoolean(5) === returnOk, s"return_ok ${r.getString(0)}")
      assert(r.getBoolean(6) === valid, s"valid ${r.getString(0)}")
    }
    // coverage: multi-lang clusters, x-default, the no-return error, and
    // a member failed BY the broken partner (return_ok false on a
    // DECLARING page) all occur
    assert(got.exists(_.getString(2) == "de") && got.exists(_.getString(2) == "fr"))
    assert(got.exists(_.getBoolean(4)), "x-default occurs")
    assert(got.exists(r => r.getLong(3) == 0L), "a broken member occurs")
    assert(got.exists(r => r.getLong(3) > 0L && !r.getBoolean(5)),
      "a declaring page fails the return check — the no-return error")
    assert(got.exists(!_.getBoolean(6)) && got.exists(_.getBoolean(6)),
      "both cluster verdicts occur")
  }
}

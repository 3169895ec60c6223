package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit

/** rel=canonical collapse: declared groups form exactly as planted, the
  * one-hop / mutual-cycle / dangling rules fire on their plants, extraction
  * is first-hit-in-document-order, and a full driver replay matches. */
class RelCanonicalSpec extends AnyFunSuite with SharedSpark {

  test("extractCanonical: first declaration wins; absent/empty handled") {
    assert(HtmlKit.extractCanonical(
      """<html><head><link rel="canonical" href="https://a.com/x">
        |<link rel="canonical" href="https://b.com/y"></head></html>""".stripMargin)
      .contains("https://a.com/x"))
    assert(HtmlKit.extractCanonical("<html><head></head><body>t</body></html>").isEmpty)
    assert(HtmlKit.extractCanonical("""<html><link rel="canonical" href=""></html>""").isEmpty)
    assert(HtmlKit.extractCanonical("""<link rel="CANONICAL" href="https://c.com/">""")
      .contains("https://c.com/"), "rel value case-insensitive")
  }

  test("planted collapse: declared / cycle_self / dangling_self / self all exact") {
    val rows = RelCanonical.relCanonical(spark, "unused").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    // syndication: site2 docs pages collapse into site3's fetched urls
    val synd = rows.filter(_._1.startsWith("https://site2.com/docs/"))
    assert(synd.nonEmpty)
    synd.foreach { case (u, (cu, st, gs)) =>
      assert(st == "declared" && cu == u.replace("https://site2.com", "https://www.site3.com"))
      assert(gs == 2, s"member + self-canonical target: $u")
      // the target row itself is self-canonical with the same group
      assert(rows(cu) == ((cu, "self", 2L)), s"target row for $cu")
    }
    // product pages: clean url never fetched -> dangling, stays itself
    val prods = rows.filter(_._1.contains("?id="))
    assert(prods.nonEmpty)
    prods.foreach { case (u, (cu, st, _)) =>
      assert(st == "dangling_self" && cu == u, s"dangling product page $u")
    }
    // the mutual pair stays put
    assert(rows("https://site1.com/private/internal-7")._2 == "cycle_self")
    assert(rows("https://site1.com/a/b8/deep/page-8")._2 == "cycle_self")
    assert(rows("https://site1.com/private/internal-7")._1 ==
      "https://site1.com/private/internal-7")
    // everything undeclared is self with group 1 unless it is a target
    val plain = rows("https://site1.com/docs/guide-1")
    assert(plain == (("https://site1.com/docs/guide-1", "self", 1L)))
  }

  test("relative declarations resolve against the page url (RFC 6596 allows any href)") {
    import spark.implicits._
    def page(url: String, canonHref: Option[String]): (String, Array[Byte]) = {
      val tag = canonHref.map(h => s"""<link rel="canonical" href="$h">""").getOrElse("")
      url -> s"<html><head>$tag</head><body>x</body></html>".getBytes(UTF_8)
    }
    val pages = Seq(
      page("https://s.com/products/item?id=6", Some("/products/item")), // relative decl
      page("https://s.com/products/item", None),                        // the target
      page("https://s.com/about", Some("about")))                       // relative SELF
    val out = RelCanonical.collapse(spark, pages.toDF("url", "html")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out("https://s.com/products/item?id=6") ==
      (("https://s.com/products/item", "declared")),
      "relative href resolves and collapses into the fetched target")
    assert(out("https://s.com/about")._2 == "self",
      "a relative self-reference is recognized as self, not a dangling edge")
  }

  test("driver replay of the full rule set") {
    val pages = RelCanonical.corpus(spark)
    val decl = pages.map { p =>
      val d = HtmlKit.extractCanonical(new String(p.html, UTF_8))
        .flatMap(h => graft.urls.UrlKernel.resolve(p.url, h)).getOrElse("")
      p.url -> (if (d == p.url) "" else d)
    }.toMap
    val urls = decl.keySet
    val expect = decl.map { case (u, d) =>
      val status =
        if (d.isEmpty) "self"
        else if (decl.get(d).contains(u)) "cycle_self"
        else if (!urls.contains(d)) "dangling_self"
        else "declared"
      val cu = if (status == "declared") d else u
      u -> ((cu, status))
    }
    val groups = expect.values.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val got = RelCanonical.relCanonical(spark, "unused").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (u, (cu, st, gs)) =>
      assert((cu, st) == expect(u), s"row $u")
      assert(gs == groups(cu), s"group size at $u")
    }
  }

  test("plan: keyed joins only, no product joins") {
    val q = RelCanonical.relCanonical(spark, "unused")
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "cycle probe and existence check are equi joins")
  }
}

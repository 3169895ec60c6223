package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.HtmlKit
import graft.gen.CorpusGen
import graft.urls.UrlKernel

/** Corpus-frequency boilerplate mining: the planted template lines (nav,
  * footer, sidebar, site title) are found on every host, sub-threshold
  * recurring lines and article content are NOT, the mined set is
  * line-disjoint from what the DOM-rule cleaner keeps, and the strip
  * replays row-for-row against an independent driver-side implementation. */
class BoilerplateSpec extends AnyFunSuite with SharedSpark {

  private val spec = CorpusGen.Spec(3, 16)
  private def localCorpus = CorpusGen.localPages(spec)
    .filter(p => !p.url.endsWith("/robots.txt") && !p.url.endsWith("/sitemap.xml"))

  /** Driver-side replay of the mining rule — independent of the Spark plan. */
  private def replayMine(): Map[String, Map[String, Int]] = {
    val perHost = localCorpus.groupBy(p => UrlKernel.extractDomain(p.url).getOrElse(""))
    perHost.map { case (host, pages) =>
      val n = pages.size
      val df = pages
        .flatMap(p => HtmlKit.fallbackText(new String(p.html, UTF_8))
          .split("\n").filter(_.nonEmpty).distinct)
        .groupBy(identity).map { case (l, v) => (l, v.size) }
      host -> df.filter { case (_, d) => d >= 2 && d * 1000L >= Boilerplate.TemplatePermille * n }
    }
  }

  test("mined templates: planted nav/footer/sidebar lines on every host, nothing else") {
    val mined = Boilerplate.boilerplateMine(spark, "unused").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byHost = mined.groupBy(_._1)
    assert(byHost.keySet.size == 3, "all three hosts mined")
    for ((host, rows) <- byHost) {
      val lines = rows.map(_._2).toSet
      val bare = host.stripPrefix("www.")
      assert(lines.contains("Home") && lines.contains("Next"), s"$host nav links")
      assert(lines.contains(s"(c) 2026 $bare"), s"$host footer")
      assert(lines.contains("side"), s"$host sidebar")
      assert(lines.contains("about"), s"$host footer link")
      // sub-threshold recurrences stay content: partner (20%), ext (25%)
      assert(!lines.contains("partner"), s"$host: 20%-of-pages link is content")
      assert(!lines.contains("ext"), s"$host: 25%-of-pages link is content")
    }
    // replay: the Spark mine == the driver-side mine, df and all
    val replay = replayMine()
    val sparkMine = mined.groupBy(_._1).map { case (h, rows) =>
      h -> rows.map(r => r._2 -> r._3.toInt).toMap
    }
    assert(sparkMine == replay, "Spark mine equals independent driver replay")
  }

  test("mined templates are line-disjoint from the DOM-rule cleaner's kept text") {
    val replay = replayMine()
    for (p <- localCorpus; host = UrlKernel.extractDomain(p.url).getOrElse("")) {
      val cleanedLines = HtmlKit.extractText(new String(p.html, UTF_8))
        .text.split("\n").map(_.trim).filter(_.nonEmpty).toSet
      val overlap = replay(host).keySet.intersect(cleanedLines)
      assert(overlap.isEmpty,
        s"frequency-mined template vs DOM-cleaned content overlap on ${p.url}: $overlap")
    }
  }

  test("strip: row-for-row replay, content survives, template mass removed everywhere") {
    val got = Boilerplate.boilerplateStrip(spark, "unused").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val replay = replayMine()
    var templatesSeen = 0L
    for (p <- localCorpus; host = UrlKernel.extractDomain(p.url).getOrElse("")) {
      val all = HtmlKit.fallbackText(new String(p.html, UTF_8)).split("\n").filter(_.nonEmpty)
      val tpl = replay(host).keySet
      val kept = all.filterNot(tpl)
      val exp = (all.length.toLong,
        all.count(tpl).toLong,
        all.filter(tpl).map(_.length.toLong).sum,
        java.security.MessageDigest.getInstance("MD5")
          .digest(kept.mkString("\n").getBytes(UTF_8)).map("%02x".format(_)).mkString)
      assert(got(p.url) == exp, s"strip accounting for ${p.url}")
      templatesSeen += exp._2
      // the DOM-cleaned article paragraphs all survive the frequency strip
      val keptSet = kept.toSet
      val article = HtmlKit.extractText(new String(p.html, UTF_8)).text
        .split("\n").map(_.trim).filter(_.nonEmpty)
      // paragraph lines appear verbatim in the weak extraction and must be kept
      article.filter(a => all.contains(a)).foreach { a =>
        assert(keptSet.contains(a), s"content line stripped on ${p.url}: ${a.take(60)}")
      }
    }
    assert(templatesSeen > 0, "the corpus exercises the removal branch")
  }

  test("plan: mine combines map-side; strip broadcasts the mined table") {
    val mine = Boilerplate.boilerplateMine(spark, "unused")
    val minePlan = mine.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(minePlan.contains("partial_"), "df count combines map-side")
    val strip = Boilerplate.boilerplateStrip(spark, "unused")
    val stripPlan = strip.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(stripPlan.contains("BroadcastHashJoin"), "mined template table broadcasts")
    assert(!stripPlan.contains("SortMergeJoin"), "no shuffle join against the tiny mined table")
    assert(!stripPlan.contains("BroadcastNestedLoop"), "equi keys, never nested-loop")
  }
}

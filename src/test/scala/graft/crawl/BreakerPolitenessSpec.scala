package graft.crawl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.IsolatedSpark
import graft.extract.HtmlKit
import graft.model.{CrawlConfig, PageRow}

/** The wired adaptive-politeness trio (round-4 verdict "Next round #2"):
  * per-host circuit breaker (pipeline.CircuitBreaker.step), AIMD budget
  * autoscaling (pipeline.Aimd.step), and Retry-After honoring
  * (crawl.RetryAfter.waitSeconds over in-band page hints) folded into the
  * CrawlEngine politeness selection. Gates: a planted failing host shows
  * trip → suppression → probe → recovery wave-for-wave (verified from the
  * per-wave breaker/budget state tables AND the crawl order); a host whose
  * challenge pages demand a shorter Retry-After gets the shorter cooldown;
  * and on a corpus where nothing trips, the breaker-on crawl is
  * byte-identical to the static crawl. */
class BreakerPolitenessSpec extends AnyFunSuite with IsolatedSpark {

  private val ts = new java.sql.Timestamp(1767225600000L)

  private def mkPage(url: String, links: Seq[String], body: String): PageRow = {
    val linksHtml = links.map(l => s"""<a href="$l">ref</a>""").mkString(" ")
    val html = s"<!DOCTYPE html><html><head><title>page</title></head>" +
      s"<body><p>$body ordinary page content with several plain words.</p>$linksHtml</body></html>"
    PageRow(url, ts, html.getBytes(UTF_8), HtmlKit.extractText(html).text, "en")
  }

  /** A WAF interstitial (Cloudflare signature) optionally carrying an
    * in-band Retry-After analogue (meta-refresh delay). */
  private def wafPage(url: String, hintSecs: Long): PageRow = {
    val hint = if (hintSecs > 0) s"""<meta http-equiv="refresh" content="$hintSecs">""" else ""
    val html = s"""<!DOCTYPE html><html><head><title>Just a moment...</title>$hint</head>""" +
      s"""<body><h1>Just a moment...</h1><p>Checking your browser.</p></body></html>"""
    PageRow(url, ts, html.getBytes(UTF_8), HtmlKit.extractText(html).text, "")
  }

  /** healthy.com chain b0 → b1 → … → bN keeps every wave non-empty while a
    * planted host sits in its cooldown. */
  private def healthyChain(n: Int): Seq[PageRow] =
    (0 to n).map { i =>
      val next = if (i < n) Seq(s"https://healthy.com/b${i + 1}") else Seq.empty
      mkPage(s"https://healthy.com/b$i", next, s"healthy page $i")
    }

  private def breakerRows(spark: SparkSession, dir: String, wave: Int): Map[String, (String, Int, Int)] = {
    val p = s"$dir/breaker/wave=$wave"
    if (!new java.io.File(p).exists()) Map.empty
    else spark.read.parquet(p).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
  }

  private def hostWaves(spark: SparkSession, dir: String): Map[(String, Int), Seq[String]] =
    CrawlEngine.readOrder(spark, dir).collect()
      .groupBy(o => (o.host, o.wave)).view.mapValues(_.map(_.canonicalUrl).toSeq.sorted).toMap

  private def cfg(seeds: Seq[String]): CrawlConfig = CrawlConfig(
    seeds = seeds, maxDepth = 20, maxPages = 10000, perHostBudget = 3,
    respectRobots = false, respectCrawlDelay = false, internalOnly = true,
    breakerPoliteness = true)

  test("planted failing host: trip, wave-clock suppression, probe, recovery — and AIMD sawtooth") {
    // planted.com: a0 links five MISSING deep urls (priority pathDepth
    // beats /a1, so every pre-trip wave serves errors) plus the real /a1;
    // a1→a2→a3 is the post-recovery chain.
    val planted = Seq(
      mkPage("https://planted.com/a0",
        (1 to 5).map(i => s"https://planted.com/deep/x/m$i") :+ "https://planted.com/a1",
        "seed page"),
      mkPage("https://planted.com/a1", Seq("https://planted.com/a2"), "recovery one"),
      mkPage("https://planted.com/a2", Seq("https://planted.com/a3"), "recovery two"),
      mkPage("https://planted.com/a3", Seq.empty, "recovery three"))
    val pages = spark.createDataFrame(planted ++ healthyChain(12)).as[PageRow](
      org.apache.spark.sql.Encoders.product[PageRow])
    val dir = Files.createTempDirectory("graft-breaker-a").toString
    val summary = CrawlEngine.run(spark, pages,
      cfg(Seq("https://planted.com/a0", "https://healthy.com/b0")), dir)

    assert(summary.errorsTotal == 5, "exactly the five planted missing urls error")
    val hw = hostWaves(spark, dir)
    def plantedAt(w: Int): Seq[String] = hw.getOrElse(("planted.com", w), Seq.empty)

    // wave 1: three missing selected under the full budget; waves 2-3: one
    // each under the AIMD-halved budget — three consecutive penalty waves
    assert(plantedAt(1).size == 3 && plantedAt(1).forall(_.contains("/deep/x/m")))
    assert(plantedAt(2).size == 1 && plantedAt(2).head.contains("/deep/x/m"))
    assert(plantedAt(3).size == 1 && plantedAt(3).head.contains("/deep/x/m"))
    // breaker trace from the per-wave state tables
    assert(breakerRows(spark, dir, 1)("planted.com") == (("closed", 1, 0)))
    assert(breakerRows(spark, dir, 2)("planted.com") == (("closed", 2, 0)))
    assert(breakerRows(spark, dir, 3)("planted.com") == (("open", 0, 4)), "trip with default cooldown")
    // suppression: four waves with NO planted.com selection, cooldown ticking
    for ((w, cd) <- Seq(4 -> 3, 5 -> 2, 6 -> 1, 7 -> 0)) {
      assert(plantedAt(w).isEmpty, s"wave $w suppressed")
      assert(breakerRows(spark, dir, w)("planted.com") == (("open", 0, cd)))
    }
    // probe wave: exactly ONE fetch, the real /a1, and it closes the circuit
    assert(plantedAt(8) == Seq("https://planted.com/a1"), "single probe fetch")
    assert(!breakerRows(spark, dir, 8).contains("planted.com"),
      "successful probe closes the circuit (sparse table drops the host)")
    // recovery: the chain resumes
    assert(plantedAt(9) == Seq("https://planted.com/a2"))
    assert(plantedAt(10) == Seq("https://planted.com/a3"))
    // AIMD sawtooth from the budget tables: halved to 1 on the first
    // penalty wave, +1 after the clean probe, back at max (sparse) after
    def budgetAt(w: Int): Option[Int] = {
      val p = s"$dir/budgets/wave=$w"
      if (!new java.io.File(p).exists()) None
      else spark.read.parquet(p).collect()
        .find(_.getString(0) == "planted.com").map(_.getInt(1))
    }
    assert(budgetAt(1).contains(1), "multiplicative decrease on the penalty wave")
    assert(budgetAt(8).contains(2), "additive increase after the clean probe")
    assert(budgetAt(9).isEmpty, "back at the max, host leaves the sparse table")
    // healthy.com never throttled
    assert((0 to 12).forall(w => hw.getOrElse(("healthy.com", w), Seq.empty).size == 1))
  }

  test("Retry-After honored: a 60s server demand cools down in 2 waves, no hint in 4") {
    def blockedHost(host: String, hintSecs: Long): Seq[PageRow] =
      Seq(mkPage(s"https://$host/c0",
        (1 to 5).map(i => s"https://$host/deep/x/w$i") :+ s"https://$host/c1",
        "seed page")) ++
        (1 to 5).map(i => wafPage(s"https://$host/deep/x/w$i", hintSecs)) :+
        mkPage(s"https://$host/c1", Seq.empty, "clean after challenge")
    // hinted.com's interstitials demand Retry-After 60s (2 waves at
    // waveModelSeconds=30); plain.com's carry no hint (default cooldown 4)
    val pages = spark.createDataFrame(
      blockedHost("hinted.com", 60L) ++ blockedHost("plain.com", 0L) ++ healthyChain(12))
      .as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    val dir = Files.createTempDirectory("graft-breaker-ra").toString
    CrawlEngine.run(spark, pages,
      cfg(Seq("https://hinted.com/c0", "https://plain.com/c0", "https://healthy.com/b0")), dir)

    // both hosts trip at wave 3 (three consecutive WAF-penalty waves) —
    // but with DIFFERENT cooldowns: the server-directed one is honored
    assert(breakerRows(spark, dir, 3)("hinted.com") == (("open", 0, 2)),
      "60s demand → ceil(60/30) = 2 cooldown waves")
    assert(breakerRows(spark, dir, 3)("plain.com") == (("open", 0, 4)),
      "no hint → the breaker's default cooldown")
    val hw = hostWaves(spark, dir)
    // hinted.com probes at wave 6 (2 suppressed waves), plain.com at 8
    assert(hw.getOrElse(("hinted.com", 4), Seq.empty).isEmpty)
    assert(hw.getOrElse(("hinted.com", 5), Seq.empty).isEmpty)
    assert(hw.getOrElse(("hinted.com", 6), Seq.empty) == Seq("https://hinted.com/c1"))
    assert(hw.getOrElse(("plain.com", 7), Seq.empty).isEmpty)
    assert(hw.getOrElse(("plain.com", 8), Seq.empty) == Seq("https://plain.com/c1"))
    assert(!breakerRows(spark, dir, 6).contains("hinted.com"), "hinted host recovered")
    assert(!breakerRows(spark, dir, 8).contains("plain.com"), "plain host recovered")
  }

  test("no trips, no penalties: breaker-on crawl is byte-identical to the static crawl") {
    val pages = spark.createDataFrame(
      healthyChain(6) ++
        (0 to 6).map { i =>
          val next = if (i < 6) Seq(s"https://other.com/d${i + 1}") else Seq.empty
          mkPage(s"https://other.com/d$i", next, s"other page $i")
        }).as[PageRow](org.apache.spark.sql.Encoders.product[PageRow])
    val seeds = Seq("https://healthy.com/b0", "https://other.com/d0")
    def orderAndSeen(breaker: Boolean): (Vector[String], Long, Long) = {
      val dir = Files.createTempDirectory(s"graft-breaker-par-$breaker").toString
      val summary = CrawlEngine.run(spark, pages,
        cfg(seeds).copy(breakerPoliteness = breaker), dir)
      val order = CrawlEngine.readOrder(spark, dir).collect()
        .map(o => s"${o.wave}|${o.rank}|${o.canonicalUrl}|${o.depth}|${o.host}").toVector
      (order, summary.fetchedTotal, summary.errorsTotal)
    }
    val on = orderAndSeen(true)
    val off = orderAndSeen(false)
    assert(on == off, "with zero penalties the wired trio is a behavioral no-op")
  }
}

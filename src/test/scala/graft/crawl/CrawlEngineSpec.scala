package graft.crawl

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.LeakProbe
import graft.IsolatedSpark
import graft.TestSpark.isolated
import graft.gen.CorpusGen
import graft.model.{CrawlConfig, CrawlOrderRow}
import graft.tools.GoldenGen

/** End-to-end crawl engine invariants (SURVEY.md §5 plan items 2-4):
  * frozen-golden order/seen/text parity, robots gating, politeness budget,
  * max-pages cap, snapshot resume, and parallelism invariance.
  */
class CrawlEngineSpec extends AnyFunSuite with IsolatedSpark {

  // Most tests share the suite's context. The golden crawl (run under the
  // leak probe), the failure test (leak probe) and the parallelism test
  // (fixed masters) each build a context of their own, which stops any
  // other: the golden runs before the suite's context exists, and the
  // other two come after the last test that uses it.
  override def beforeAll(): Unit = {
    super.beforeAll()
    golden
  }

  /** The golden crawl at local[4], run once on a context of its own under
    * the leak probe. The golden, robots-gating, resume, leak and job-count
    * tests assert on this run; its order and seen set are read before the
    * context stops. `jobsPerWave(w)` counts the Spark jobs from wave w's
    * politeness-select line to the next one: wave w's body plus the
    * prefetch of wave w + 1's selection. */
  private case class Golden(summary: CrawlEngine.CrawlSummary, dir: String, leaked: Set[Int],
                            order: Vector[CrawlOrderRow], seen: Vector[String],
                            texts: String, jobsPerWave: Vector[Int])

  private lazy val golden: Golden = isolated() { spark =>
    var run: (CrawlEngine.CrawlSummary, String) = null
    val jobs = new WaveJobs(spark)
    val leaked = LeakProbe.leakedBy(spark) {
      run = runCrawl(spark, log = line => if (line.contains("politeness-select done")) jobs.mark())
    }
    val (summary, dir) = run
    val texts = CrawlEngine.readPages(spark, dir)
      .select("canonicalUrl", "text").collect()
      .map(r => s"${r.getString(0)}|${CrawlEngine.sha256Hex(r.getString(1))}")
      .sorted.mkString("\n")
    Golden(summary, dir, leaked, CrawlEngine.readOrder(spark, dir).collect().toVector,
      seenSet(spark, dir, summary.waves - 1), texts, jobs.perWindow())
  }

  /** Spark jobs between marks. A mark runs one tiny marker job on the
    * calling thread; job ids are assigned at submission, so every job
    * submitted before the mark has a smaller id than its marker. */
  private final class WaveJobs(spark: SparkSession) {
    private val Marker = "wave-jobs-marker"
    private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker)) markers.add(e.jobId)
        else started.add(e.jobId)
    })
    def mark(): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
    }
    /** Jobs between consecutive marks (the listener bus is drained by a
      * last mark that it must report). */
    def perWindow(): Vector[Int] = {
      val n = markers.size
      mark()
      val deadline = System.nanoTime() + 30000000000L
      while (markers.size <= n && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val ms = markers.asScala.toVector.sorted
      ms.zip(ms.tail).map { case (a, b) => started.asScala.count(j => j > a && j < b) }
    }
  }

  private def resource(name: String): String = {
    val p = Paths.get("src/test/resources/goldens", name)
    new String(Files.readAllBytes(p), UTF_8)
  }

  private def runCrawl(spark: SparkSession,
                       maxPages: Long = GoldenGen.MaxPages,
                       resumeDir: Option[String] = None,
                       log: String => Unit = _ => ()): (CrawlEngine.CrawlSummary, String) = {
    val spec = CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost)
    val pages = CorpusGen.dataset(spark, spec)
    val dir = resumeDir.getOrElse(Files.createTempDirectory("graft-test").toString)
    val cfg = GoldenGen.config(GoldenGen.Hosts).copy(maxPages = maxPages)
    val summary = CrawlEngine.run(spark, pages, cfg, dir, resume = resumeDir.isDefined, log = log)
    (summary, dir)
  }

  private def orderLines(spark: SparkSession, dir: String): Vector[String] =
    lines(CrawlEngine.readOrder(spark, dir).collect().toVector)

  private def lines(order: Vector[CrawlOrderRow]): Vector[String] =
    order.map(o => s"${o.wave}|${o.rank}|${o.canonicalUrl}|${o.depth}|${o.host}")

  private def seenSet(spark: SparkSession, dir: String, lastWave: Int): Vector[String] =
    new graft.state.SnapshotStore(dir).loadSeen(spark, lastWave)
      .collect().map(_.getString(0)).sorted.toVector

  test("golden: crawl order, seen set, and per-url text bytes match frozen spec") {
    assert(golden.summary.parityFailures == 0, "extracted text must be byte-identical to stored text")
    assert(lines(golden.order).mkString("\n") == resource("crawl_order.txt").trim)
    assert(golden.seen.mkString("\n") == resource("seen.txt").trim)
    assert(golden.texts == resource("text_sha256.txt").trim)
  }

  test("shuffle-hash fetch fallback (broadcast cap 0) reproduces the golden crawl") {
    // the join-strategy selection must be a pure plan choice: forcing the
    // above-cap SHUFFLE_HASH path (what a 10^10-row wave takes) must give
    // the exact golden order, parity, and seen set
    val spec = CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost)
    val pages = CorpusGen.dataset(spark, spec)
    val dir = Files.createTempDirectory("graft-shuffle-fallback").toString
    val cfg = GoldenGen.config(GoldenGen.Hosts).copy(broadcastWaveMaxRows = 0L)
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.parityFailures == 0)
    assert(orderLines(spark, dir).mkString("\n") == resource("crawl_order.txt").trim,
      "shuffle-path run must match the frozen golden order exactly")
  }

  test("perHostBudget <= 0 (unlimited) equals a budget at/above every host's count") {
    // saturated single wave: an explicit budget >= per-host page count and
    // the unlimited fast path (no politeness shuffle) must produce the
    // same fetched set, order file, and parity
    val spec = CorpusGen.Spec(2, 12)
    val pages = CorpusGen.dataset(spark, spec)
    def run(budget: Int) = {
      val dir = Files.createTempDirectory("graft-unlimited").toString
      val cfg = CrawlConfig(
        seeds = (0 until 2).map(h => s"https://${CorpusGen.hostName(h)}/"),
        maxDepth = 3, maxPages = 100, perHostBudget = budget,
        excludePatterns = Seq("external-data.org", "*.external-data.org"),
        // the corpus's Crawl-delay: 1 would cap the budget=1000 leg at 30
        // and make "non-binding" depend on wave sizes — this test compares
        // the budget machinery itself, so the delay stays out of it
        respectCrawlDelay = false)
      val s = CrawlEngine.run(spark, pages, cfg, dir)
      (s, orderLines(spark, dir))
    }
    val (sCap, oCap) = run(1000) // far above any host's count: non-binding
    val (sUnl, oUnl) = run(0)    // unlimited fast path
    assert(sUnl.fetchedTotal == sCap.fetchedTotal && sUnl.parityFailures == 0)
    assert(oUnl == oCap, "unlimited politeness must reproduce the non-binding-budget crawl")
  }

  test("spillIntermediates: the durable winners-table path reproduces the golden crawl") {
    val spec = CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost)
    val pages = CorpusGen.dataset(spark, spec)
    val dir = Files.createTempDirectory("graft-spill-run").toString
    val cfg = GoldenGen.config(GoldenGen.Hosts).copy(spillIntermediates = true)
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.parityFailures == 0)
    assert(orderLines(spark, dir).mkString("\n") == resource("crawl_order.txt").trim,
      "spill-to-table run must match the frozen golden order exactly")
    assert(Files.exists(Paths.get(s"$dir/intermediates/pages-winners")),
      "winners must actually land in the stateDir table")
  }

  test("robots gating: /private/ pages are never fetched; politeness budget holds; cap holds") {
    val order = golden.order
    assert(!order.exists(_.canonicalUrl.contains("/private/")), "robots Disallow must gate fetches")
    // per-host-per-wave budget (token bucket equivalence, SURVEY §2.9)
    val budget = GoldenGen.config(GoldenGen.Hosts).perHostBudget
    val perWaveHost = order.groupBy(o => (o.wave, o.host)).values.map(_.length)
    assert(perWaveHost.forall(_ <= budget), "politeness budget exceeded")
    assert(golden.summary.fetchedTotal <= GoldenGen.MaxPages)
  }

  test("robots at scale: a 10^5-host rules table gates links with no driver-side map") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val robotsBody = "User-agent: *\nDisallow: /private/".getBytes(UTF_8)
    // 100,000 hosts each publishing a Disallow — the shape that OOMs a
    // driver-collected host→rules map at Common-Crawl scale
    val manyRobots = spark.range(100000).map { i =>
      graft.model.PageRow(s"https://bulk$i.example/robots.txt", ts, robotsBody, "", "en")
    }
    val seedHtml = ("<html><body><a href=\"/private/x\">a</a>" +
      "<a href=\"/pub/y\">b</a></body></html>").getBytes(UTF_8)
    val site = spark.createDataset(Seq(
      graft.model.PageRow("https://seed.example/", ts, seedHtml, "", "en"),
      graft.model.PageRow("https://seed.example/robots.txt", ts, robotsBody, "", "en"),
      graft.model.PageRow("https://seed.example/pub/y", ts,
        "<html><body>leaf</body></html>".getBytes(UTF_8), "", "en"),
      graft.model.PageRow("https://seed.example/private/x", ts,
        "<html><body>secret</body></html>".getBytes(UTF_8), "", "en")))
    val pages = site.union(manyRobots)
    val dir = Files.createTempDirectory("graft-robots-scale").toString
    val cfg = CrawlConfig(seeds = Seq("https://seed.example/"),
      maxDepth = 1, maxPages = 100, perHostBudget = 10)
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    val order = CrawlEngine.readOrder(spark, dir).collect()
    assert(order.exists(_.canonicalUrl.contains("/pub/y")), "allowed link must be crawled")
    assert(!order.exists(_.canonicalUrl.contains("/private/")),
      "robots Disallow must gate via the rules-table join")
    assert(summary.fetchedTotal == 2L)
  }

  test("max_pages cap truncates deterministically") {
    val (summary, dir) = runCrawl(spark, maxPages = 10)
    assert(summary.fetchedTotal == 10)
    val order = orderLines(spark, dir)
    assert(order.size == 10)
    // the capped prefix must equal the uncapped golden prefix up to the
    // first capped wave boundary (waves before the cap are identical)
    val golden = resource("crawl_order.txt").trim.split("\n").toVector
    val fullWaves = order.map(_.split('|')(0).toInt).distinct.dropRight(1)
    val prefix = order.takeWhile(l => fullWaves.contains(l.split('|')(0).toInt))
    assert(golden.startsWith(prefix))
  }

  test("resume from a truncated snapshot reproduces the uninterrupted run exactly") {
    val full = golden
    // simulate a crash after wave 1: a byte copy of the golden run with
    // CURRENT flipped back, so the resume rewrites every later wave
    val dir2 = Files.createTempDirectory("graft-resume").toString
    copyTree(Paths.get(full.dir), Paths.get(dir2))
    Files.write(Paths.get(dir2, "CURRENT"), "1".getBytes(UTF_8))
    val (resumed, _) = runCrawl(spark, resumeDir = Some(dir2))
    assert(resumed.fetchedTotal == full.summary.fetchedTotal)
    assert(orderLines(spark, dir2) == lines(full.order))
    assert(seenSet(spark, dir2, resumed.waves - 1) == full.seen)
  }

  test("robots crawl-delay: a binding delay caps the host's per-wave budget; others unaffected") {
    import spark.implicits._
    val spec = CorpusGen.Spec(3, 12)
    val base = CorpusGen.localPages(spec)
    // site0 declares Crawl-delay: 15 → budget min(3, 30 div 15) = 2; the
    // corpus default (Crawl-delay: 1 → 30 ≥ 3) is non-binding and must
    // leave the other hosts on the budget-free path value-for-value
    val pages = spark.createDataset(base.map { p =>
      if (p.url == "https://site0.com/robots.txt")
        p.copy(html = ("User-agent: *\nDisallow: /private/\nCrawl-delay: 15\n\n" +
          "Sitemap: https://site0.com/sitemap.xml\n").getBytes("UTF-8"))
      else p
    })
    val cfg = GoldenGen.config(3).copy(maxPages = 1000)
    val dir = Files.createTempDirectory("graft-delay-test").toString
    CrawlEngine.run(spark, pages, cfg, dir)
    val byWaveHost = CrawlEngine.readOrder(spark, dir).collect()
      .groupBy(o => (o.wave, o.host)).view.mapValues(_.length).toMap
    byWaveHost.foreach { case ((w, h), n) =>
      if (h == "site0.com") assert(n <= 2, s"wave=$w site0 selected $n > delay budget 2")
      else assert(n <= 3, s"wave=$w $h selected $n > default budget 3")
    }
    assert(byWaveHost.exists { case ((_, h), n) => h == "site0.com" && n == 2 },
      "the delay cap must demonstrably bind")
    assert(byWaveHost.exists { case ((_, h), n) => h != "site0.com" && n == 3 },
      "non-declaring hosts keep the full default budget")
    // the unmodified corpus (non-binding delays) is value-identical to the
    // budget-free path: same order as a respectCrawlDelay=false run
    val dirA = Files.createTempDirectory("graft-delay-a").toString
    val dirB = Files.createTempDirectory("graft-delay-b").toString
    val basePages = spark.createDataset(base)
    CrawlEngine.run(spark, basePages, GoldenGen.config(3).copy(maxPages = 1000), dirA)
    CrawlEngine.run(spark, basePages,
      GoldenGen.config(3).copy(maxPages = 1000, respectCrawlDelay = false), dirB)
    assert(orderLines(spark, dirA) == orderLines(spark, dirB),
      "non-binding delays must not change the crawl")
  }

  test("duplicate captures in the pages table: latest warc_ts wins, no row multiplication") {
    import spark.implicits._
    val spec = CorpusGen.Spec(1, 10)
    val base = CorpusGen.localPages(spec)
    // plant older captures of every page with garbage html/text and a
    // www-variant duplicate of the root — the engine must pick the latest
    // capture per canonical and fetch each page exactly once
    val older = base.map(p => p.copy(
      warc_ts = new java.sql.Timestamp(p.warc_ts.getTime - 1000000L),
      html = "<html><body><p>stale capture</p></body></html>".getBytes("UTF-8"),
      text = "WRONG"))
    val wwwDup = base.filter(_.url == "https://site0.com/").map(p =>
      p.copy(url = "https://www.site0.com/",
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime - 5000L)))
    val pages = spark.createDataset(base ++ older ++ wwwDup)
    val cfg = CrawlConfig(seeds = Seq("https://site0.com/"), maxDepth = 2,
      maxPages = 20, perHostBudget = 5,
      excludePatterns = Seq("external-data.org", "*.external-data.org"))
    val dir = Files.createTempDirectory("graft-dup-test").toString
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.parityFailures == 0, "latest capture must be chosen (stale text would fail parity)")
    assert(summary.errorsTotal >= 0)
    val pagesOut = CrawlEngine.readPages(spark, dir)
    val n = pagesOut.count()
    assert(pagesOut.select("canonicalUrl").distinct().count() == n, "no duplicate fetches")
  }

  test("exact (canonical, warc_ts, url) tie: deep tie-break by payload bytes, one row, deterministic") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    def row(html: String, text: String) = graft.model.PageRow(
      "https://tie.com/page", ts, s"<html><body><p>$html</p></body></html>".getBytes("UTF-8"),
      text, "eng")
    // two captures IDENTICAL on the winner key but different payloads —
    // the rare path: collapse must pick the lexicographically larger
    // payload (the original max(struct(.., html, ..)) deep-tie spec),
    // emit exactly one row, and stay order-independent
    val pages = spark.createDataset(Seq(
      row("bbb payload wins", "B"), row("aaa payload loses", "A"),
      graft.model.PageRow("https://tie.com/other", ts,
        "<html><body><p>other</p></body></html>".getBytes("UTF-8"), "O", "eng")))
    val prepared = CrawlEngine.preparePages(pages).collect()
    assert(prepared.length == 2, s"one row per canonical: ${prepared.toSeq}")
    val tie = prepared.find(_.getAs[String]("canonicalUrl") == "https://tie.com/page").get
    assert(new String(tie.getAs[Array[Byte]]("html"), "UTF-8").contains("bbb payload wins"),
      "deep tie resolves to the lexicographically larger payload")
    assert(tie.getAs[String]("storedText") == "B")
    // reversed input order → same winner (deterministic by value)
    val prepared2 = CrawlEngine.preparePages(spark.createDataset(Seq(
      row("aaa payload loses", "A"), row("bbb payload wins", "B")))).collect()
    assert(new String(prepared2.head.getAs[Array[Byte]]("html"), "UTF-8").contains("bbb payload wins"))
    // spill-to-table knob (spillIntermediates): winners written to a
    // parquet table instead of localCheckpoint — identical output,
    // including through the tied-group deep collapse
    val spillDir = Files.createTempDirectory("graft-prep-spill").toString
    val spilled = CrawlEngine.preparePages(pages, Some(s"$spillDir/winners")).collect()
    def k(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("canonicalUrl"), new String(r.getAs[Array[Byte]]("html"), "UTF-8"),
        r.getAs[String]("storedText"))
    assert(spilled.map(k).sortBy(_._1).toSeq == prepared.map(k).sortBy(_._1).toSeq,
      "table-spill path must produce identical prepared pages")
  }

  test("adaptive politeness: error-serving host is throttled next wave, then recovers") {
    import spark.implicits._
    val spec = CorpusGen.Spec(2, 20)
    val base = CorpusGen.localPages(spec)
    // drop every other non-root site0 page from the table; their URLs stay
    // linked in the surviving html → deterministic selected-but-missing 404s
    val site0NonRoot = base.filter(p => p.url.contains("site0.com") &&
      p.url != "https://site0.com/" &&
      !p.url.endsWith("/robots.txt") && !p.url.endsWith("/sitemap.xml"))
      .map(_.url).sorted
    val toDrop = site0NonRoot.zipWithIndex.collect { case (u, i) if i % 2 == 0 => u }.toSet
    val pages = spark.createDataset(base.filterNot(p => toDrop.contains(p.url)))
    val maxB = 4
    val cfg = GoldenGen.config(2).copy(
      maxPages = 1000, perHostBudget = maxB,
      adaptivePoliteness = true, minHostBudget = 1)
    val dir = Files.createTempDirectory("graft-adaptive-test").toString
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.errorsTotal > 0, "dropped pages must surface as errors")

    def budgetsAt(w: Int): Map[String, Int] = {
      val p = Paths.get(dir, "budgets", s"wave=$w")
      if (!Files.exists(p)) Map.empty
      else spark.read.parquet(p.toString).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    val allBudgets = (0 until summary.waves).map(w => w -> budgetsAt(w)).toMap
    // site0 must get throttled at some point (budget below the max)
    assert(allBudgets.values.exists(_.get("site0.com").exists(_ < maxB)),
      s"site0.com never throttled: $allBudgets")
    // the wave AFTER a throttle must respect the reduced budget, every host
    val order = CrawlEngine.readOrder(spark, dir).collect()
    val byWaveHost = order.groupBy(o => (o.wave, o.host)).view.mapValues(_.length).toMap
    byWaveHost.foreach { case ((w, h), n) =>
      val allowed = if (w == 0) maxB else allBudgets.getOrElse(w - 1, Map.empty).getOrElse(h, maxB)
      assert(n <= allowed, s"wave=$w host=$h selected $n > budget $allowed")
    }
    // determinism: same run twice → same budget trajectory
    val dir2 = Files.createTempDirectory("graft-adaptive-test2").toString
    CrawlEngine.run(spark, pages, cfg, dir2)
    val budgets2 = (0 until summary.waves).map { w =>
      val p = Paths.get(dir2, "budgets", s"wave=$w")
      if (!Files.exists(p)) Map.empty[String, Int]
      else spark.read.parquet(p.toString).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    assert((0 until summary.waves).forall(w => allBudgets(w) == budgets2(w)))
  }

  test("adaptive politeness: single error halves once, then budget recovers to max") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val filler = "This paragraph pads the page body well past the one-hundred-byte " +
      "minimum-content extraction gate so the page counts as a clean fetch. "
    def page(url: String, links: Seq[String]): graft.model.PageRow = {
      val html = "<html><body><p>" + filler * 2 + "</p>" +
        links.map(l => s"""<a href="$l">x</a>""").mkString + "</body></html>"
      val text = graft.extract.HtmlKit.extractText(
        graft.extract.HtmlKit.parse(html), html).text
      graft.model.PageRow(url, ts, html.getBytes(UTF_8), text, "eng")
    }
    // /a is LINKED but absent from the table → exactly one 404, in wave 1
    val pages = spark.createDataset(Seq(
      page("https://site0.com/", Seq("/a", "/b", "/c")),
      page("https://site0.com/b", Seq("/b1", "/b2", "/b3")),
      page("https://site0.com/c", Seq("/c1")),
      page("https://site0.com/b1", Seq.empty), page("https://site0.com/b2", Seq.empty),
      page("https://site0.com/b3", Seq.empty), page("https://site0.com/c1", Seq.empty)))
    val cfg = CrawlConfig(seeds = Seq("https://site0.com/"), maxDepth = 3,
      maxPages = 100, perHostBudget = 4,
      adaptivePoliteness = true, minHostBudget = 1)
    val dir = Files.createTempDirectory("graft-adaptive-recovery").toString
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.errorsTotal == 1)
    def budgetsAt(w: Int): Map[String, Int] = {
      val p = Paths.get(dir, "budgets", s"wave=$w")
      if (!Files.exists(p)) Map.empty
      else spark.read.parquet(p.toString).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    }
    // wave 1 selects {a,b,c}; a 404s → 4/2 = 2
    assert(budgetsAt(1) == Map("site0.com" -> 2), s"got ${budgetsAt(1)}")
    // wave 2 runs at budget 2 (clean) → recovers to 3
    assert(budgetsAt(2) == Map("site0.com" -> 3), s"got ${budgetsAt(2)}")
    val order = CrawlEngine.readOrder(spark, dir).collect()
    val wave2 = order.filter(_.wave == 2)
    assert(wave2.length == 2, "throttled wave must select exactly the halved budget")
    // wave 3 drains the remaining 2 leaves at budget 3, clean → back at
    // max → host leaves the sparse table
    assert(budgetsAt(3) == Map.empty)
    // selections: 1 root + 3 children (one 404) + 2 + 2 leaves = 8
    assert(order.length == 8)
  }

  test("parallelism invariance: local[2] and local[8] produce identical order and seen set") {
    def leg(master: String, partitions: Int) = isolated(master, partitions) { spark =>
      assert(spark.sparkContext.master == master, "each leg runs on its own context")
      val (summary, dir) = runCrawl(spark)
      (orderLines(spark, dir), seenSet(spark, dir, summary.waves - 1))
    }
    val (o2, s2) = leg("local[2]", 2)
    val (o8, s8) = leg("local[8]", 8)
    assert(o2 == o8, "crawl order must not depend on parallelism")
    assert(s2 == s8, "seen set must not depend on parallelism")
  }

  test("no persisted/checkpointed RDD blocks survive a completed crawl") {
    // Dataset.unpersist is a no-op on localCheckpoint()ed frames — the
    // engine must release the backing RDDs itself (releaseBlocks), or
    // every wave's frontier checkpoint leaks until periodic GC. No
    // persisted RDD left unreleased proves the eager per-wave release is real.
    assert(golden.summary.waves > 1, "multi-wave crawl exercises the per-wave checkpoint path")
    assert(golden.leaked.isEmpty, s"leaked persisted/checkpointed RDDs after run: ${golden.leaked}")
  }

  test("a steady wave runs at most 19 Spark jobs") {
    // windows 1 .. waves-2: a middle wave's body plus the next selection
    // (the window before wave 0 adds crawl prep; the last wave has no
    // next selection). 25 jobs per wave before the wave's counts read
    // checkpoint blocks and crawl_order stopped re-running its sort.
    val steady = golden.jobsPerWave.slice(1, golden.summary.waves - 1)
    assert(steady.nonEmpty, s"the golden crawl needs a steady wave: ${golden.jobsPerWave}")
    assert(steady.forall(_ <= 19), s"jobs per wave: ${golden.jobsPerWave}")
  }

  test("a failure mid-crawl releases every cache and stops the sink pool") {
    isolated() { spark =>
      // the log callback throws at a wave marker, after prep and the robots
      // tables materialized: once while wave 1's selection prefetch is in
      // flight, once after wave 1 consumed it
      Seq("wave=0 sink barrier done", "wave=1 fetch+extract done").foreach { marker =>
        val pages = CorpusGen.dataset(spark, CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost))
        val dir = Files.createTempDirectory("graft-fail").toString
        var e: IllegalStateException = null
        val leaked = LeakProbe.leakedBy(spark) {
          e = intercept[IllegalStateException] {
            CrawlEngine.run(spark, pages, GoldenGen.config(GoldenGen.Hosts), dir,
              log = m => if (m.startsWith(marker)) throw new IllegalStateException(s"planted at $marker"))
          }
        }
        assert(e.getMessage == s"planted at $marker")
        assert(leaked.isEmpty, s"$marker: leaked persisted/checkpointed RDDs: $leaked")
        assertNoLiveThreads("graft-exec-")
      }
    }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => if (p != from) Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }

  /** Pool threads exit asynchronously after shutdown; a leaked pool keeps
    * them forever, so a bounded wait tells the two apart. */
  private def assertNoLiveThreads(prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    def live = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName).toSet
    val deadline = System.nanoTime() + 10000000000L
    while (live.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(live.isEmpty, s"leaked pool threads: $live")
  }
}

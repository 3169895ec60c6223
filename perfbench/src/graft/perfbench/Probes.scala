package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter
import graft.extract.{HtmlKit, TextKit}
import graft.frontier.Frontier
import graft.model.{CrawlConfig, FrontierEntry, PageRow}
import graft.politeness.Robots
import graft.state.SnapshotStore
import graft.urls.UrlKernel

/** Layer probes of the traced run: direct calls to each layer's public
  * functions on the workload's own data, each under a `probe.<layer>.<name>`
  * span. Keys are the per-layer metric names. */
object Probes {

  /** Mean nanoseconds per call of `f` over `items`, cycling through them
    * until at least `minSeconds` have passed. */
  def nsPerCall[A](items: Seq[A], minSeconds: Double = 0.25)(f: A => Any): Double = {
    require(items.nonEmpty, "probe sample is empty")
    var calls = 0L
    val t0 = System.nanoTime()
    while (calls < items.length || (System.nanoTime() - t0) < minSeconds * 1e9) {
      items.foreach(x => f(x))
      calls += items.length
    }
    (System.nanoTime() - t0).toDouble / calls
  }

  /** Median seconds of `reps` calls of a Spark action. */
  def medianSeconds(reps: Int)(action: => Any): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      action
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.length / 2)
  }

  private val Href = "href=\"([^\"]*)\"".r

  /** (page urls, (base url, raw href) pairs) from the pages' html. */
  def urlSample(pages: Seq[PageRow]): (Seq[String], Seq[(String, String)]) = {
    val urls = pages.map(_.url)
    val hrefs = pages.flatMap(p =>
      Href.findAllMatchIn(new String(p.html, UTF_8)).map(m => (p.url, m.group(1))))
    (urls ++ hrefs.map(_._2), hrefs)
  }

  def urls(spans: Spans, sample: (Seq[String], Seq[(String, String)])): Map[String, Any] = {
    val (urls, pairs) = sample
    Map(
      "urls.canonicalize_ns" -> spans.span("probe.urls.canonicalize")(
        nsPerCall(urls)(UrlKernel.canonicalize(_))),
      "urls.resolve_ns" -> spans.span("probe.urls.resolve")(
        nsPerCall(pairs) { case (b, h) => UrlKernel.resolve(b, h) }))
  }

  /** Extraction kernels on html pages, in the engine's fused order:
    * parse → text → links → language → chunks. */
  def extract(spans: Spans, pages: Seq[PageRow]): Map[String, Any] = {
    val html = pages.filter(p => !p.url.endsWith("robots.txt") && !p.url.endsWith("sitemap.xml"))
      .map(p => (new String(p.html, UTF_8), p.url))
    val kb = html.map(_._1.getBytes(UTF_8).length).sum / 1024.0
    val n = html.length
    def usPerKb(ns: Double) = ns * n / kb / 1e3
    val doms = html.map { case (h, u) => (HtmlKit.parse(h), h, u) }
    val texts = doms.map { case (d, h, _) => HtmlKit.extractText(d, h).text }
    Map(
      "extract.parse_us_per_kb" -> usPerKb(spans.span("probe.extract.parse")(
        nsPerCall(html)(p => HtmlKit.parse(p._1)))),
      "extract.text_us_per_kb" -> usPerKb(spans.span("probe.extract.text")(
        nsPerCall(doms) { case (d, h, _) => HtmlKit.extractText(d, h) })),
      "extract.links_us_per_page" -> spans.span("probe.extract.links")(
        nsPerCall(doms) { case (d, _, u) => HtmlKit.extractLinks(d, u) }) / 1e3,
      "extract.lang_us_per_page" -> spans.span("probe.extract.lang")(
        nsPerCall(texts)(TextKit.detectLanguage(_))) / 1e3,
      "extract.chunk_us_per_page" -> spans.span("probe.extract.chunk")(
        nsPerCall(texts)(TextKit.chunkText(_))) / 1e3)
  }

  /** Frontier, politeness and state probes on a finished crawl's state
    * dir: the wave with the largest committed frontier is the input. */
  def crawlState(spark: SparkSession, spans: Spans, pages: Dataset[PageRow], stateDir: String,
                 config: CrawlConfig, work: String): Map[String, Any] = {
    import spark.implicits._
    val store = new SnapshotStore(stateDir)
    try {
      val last = store.current().getOrElse(sys.error(s"no committed wave in $stateDir"))
      val wave = (0 to last).maxBy(w => store.manifestList(w).map(_.rows).sum)
      val frontier = store.loadFrontier(spark, wave).as[FrontierEntry].persist(StorageLevel.MEMORY_AND_DISK)
      val seen = store.loadSeen(spark, wave).persist(StorageLevel.MEMORY_AND_DISK)
      val seenCount = seen.count()
      frontier.count()
      val rules = Robots.rulesTable(spark, pages.toDF()).persist(StorageLevel.MEMORY_AND_DISK)
      rules.count()
      val probeStore = new SnapshotStore(s"$work/probe-state")
      probeStore.init()
      val bits = BloomFilter.optimalNumOfBits(math.max(seenCount, 1000L), Frontier.BloomFpp)
      try Map(
        "frontier.dedupe_s" -> spans.span("probe.frontier.dedupe")(
          medianSeconds(3)(Frontier.dedupeWave(spark, frontier.union(frontier)).count())),
        "frontier.new_only_s" -> spans.span("probe.frontier.new_only")(
          medianSeconds(3)(Frontier.newOnly(spark, frontier, seen, seenCount).count())),
        "frontier.sketch_fpp" -> Frontier.estimatedFpp(seenCount, bits),
        "politeness.select_s" -> spans.span("probe.politeness.select")(
          medianSeconds(3)(Frontier.politenessSelect(spark, frontier, config.perHostBudget,
            config.saltBuckets).count())),
        "politeness.robots_gate_s" -> spans.span("probe.politeness.robots_gate")(
          medianSeconds(3)(Robots.gate(spark, frontier, rules).count())),
        "state.write_frontier_s" -> spans.span("probe.state.write_frontier")(
          medianSeconds(3)(probeStore.writeFrontier(spark, 0, frontier.toDF()))),
        "state.load_seen_s" -> spans.span("probe.state.load_seen")(
          medianSeconds(3)(store.loadSeen(spark, last).count())),
        "state.load_frontier_s" -> spans.span("probe.state.load_frontier")(
          medianSeconds(3)(store.loadFrontier(spark, wave).count())),
        "state.manifest_ms" -> spans.span("probe.state.manifest")(
          nsPerCall(Seq(last), 0.1)(store.manifest(_))) / 1e6)
      finally {
        probeStore.close()
        Seq(frontier, seen, rules).foreach(_.unpersist(blocking = true))
      }
    } finally store.close()
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{IsolatedSpark, LeakProbe}
import graft.crawl.CrawlEngine
import graft.gen.CorpusGen
import graft.tools.GoldenGen

/** The streaming crawl twin must be the batch engine in different clothes:
  * same per-wave release sets under a binding politeness budget + robots
  * gating, same totals, byte parity on every fetched page — and exactly-once
  * release across a mid-crawl kill/restart. */
class StreamingCrawlSpec extends AnyFunSuite with IsolatedSpark {

  // budget 3 binds (30 pages/host); maxPages must NOT bind — the streaming
  // twin keeps the static-budget north-rule semantics, not the results-cap
  private def cfg = GoldenGen.config(GoldenGen.Hosts).copy(maxPages = 100000L)

  private def corpus = CorpusGen.dataset(spark, CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost))

  private def streamedWaveSets(schedDir: String, waves: Int): Vector[Set[String]] =
    (0 until waves).map { w =>
      StreamingScheduler.readOutput(spark, schedDir)
        .filter(col("emittedAtMs") === StreamingCrawl.waveClock(w))
        .select("canonicalUrl").collect().map(_.getString(0)).toSet
    }.toVector

  test("wave-for-wave release parity with the batch engine") {
    val pages = corpus
    val batchDir = Files.createTempDirectory("graft-scrawl-batch").toString
    val sDir = Files.createTempDirectory("graft-scrawl-stream").toString
    var batch: CrawlEngine.CrawlSummary = null
    var s: StreamingCrawl.StreamCrawlSummary = null
    // both twins run in this session — neither may leak persisted or
    // checkpointed RDD blocks (the releaseBlocks discipline, twin-side)
    val leaked = LeakProbe.leakedBy(spark) {
      batch = CrawlEngine.run(spark, pages, cfg, batchDir)
      s = StreamingCrawl.run(spark, pages, cfg, sDir)
    }
    val batchWaves: Vector[Set[String]] = CrawlEngine.readOrder(spark, batchDir).collect()
      .groupBy(_.wave).toVector.sortBy(_._1)
      .map(_._2.map(_.canonicalUrl).toSet)

    assert(s.parityFailures == 0, "extracted text byte-identical on every row")
    assert(s.waves == batch.waves, s"wave count: streaming ${s.waves} vs batch ${batch.waves}")
    assert(s.fetchedTotal == batch.fetchedTotal)
    assert(s.errorsTotal == batch.errorsTotal)
    val sWaves = streamedWaveSets(s"$sDir/scheduled", s.waves)
    batchWaves.zipWithIndex.foreach { case (bset, w) =>
      assert(sWaves(w) == bset,
        s"wave $w: streaming released ${sWaves(w).size} vs batch ${bset.size}; " +
          s"only-streaming=${(sWaves(w) -- bset).take(3)} only-batch=${(bset -- sWaves(w)).take(3)}")
    }
    val leftoverTmp = new java.io.File(sDir).listFiles()
      .filter(_.getName.startsWith("wave-tmp"))
    assert(leftoverTmp.isEmpty,
      s"wave write temp dirs must be cleaned up: ${leftoverTmp.map(_.getName).toSeq}")
    assert(leaked.isEmpty, s"leaked persisted/checkpointed RDDs after both crawls: $leaked")
  }

  test("a failure mid-crawl releases every cache on the way out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    // one page's html raises when read: prep and the robots tables
    // materialize without it, the first wave's fetch reads it and fails
    val pages = corpus.withColumn("html",
      when(col("url") === "https://site1.com/", raise_error(lit("planted page failure")))
        .otherwise(col("html"))).as[graft.model.PageRow]
    val sDir = Files.createTempDirectory("graft-scrawl-fail").toString
    var e: Exception = null
    val leaked = LeakProbe.leakedBy(spark) {
      e = intercept[Exception](StreamingCrawl.run(spark, pages, cfg, sDir))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted page failure")), e.toString)
    assert(leaked.isEmpty, s"leaked persisted/checkpointed RDDs after the failed crawl: $leaked")
    assertNoLiveThreads("graft-exec-")
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

  test("crawl-delay parity: a binding Crawl-delay caps both twins identically, wave for wave") {
    import spark.implicits._
    // site0 declares Crawl-delay: 15 → budget min(3, 30 div 15) = 2 in BOTH
    // engines (the shared CrawlEngine.robotsTables delay budgets)
    val base = CorpusGen.localPages(CorpusGen.Spec(GoldenGen.Hosts, GoldenGen.PagesPerHost))
    val pages = spark.createDataset(base.map { p =>
      if (p.url == "https://site0.com/robots.txt")
        p.copy(html = ("User-agent: *\nDisallow: /private/\nCrawl-delay: 15\n\n" +
          "Sitemap: https://site0.com/sitemap.xml\n").getBytes("UTF-8"))
      else p
    })
    val batchDir = Files.createTempDirectory("graft-scrawl-delay-batch").toString
    val batch = CrawlEngine.run(spark, pages, cfg, batchDir)
    val batchWaves: Vector[Set[String]] = CrawlEngine.readOrder(spark, batchDir).collect()
      .groupBy(_.wave).toVector.sortBy(_._1)
      .map(_._2.map(_.canonicalUrl).toSet)
    val sDir = Files.createTempDirectory("graft-scrawl-delay-stream").toString
    val s = StreamingCrawl.run(spark, pages, cfg, sDir)
    assert(s.waves == batch.waves && s.fetchedTotal == batch.fetchedTotal)
    val sWaves = streamedWaveSets(s"$sDir/scheduled", s.waves)
    batchWaves.zipWithIndex.foreach { case (bset, w) =>
      assert(sWaves(w) == bset, s"wave $w release sets differ under a binding crawl-delay")
    }
    // the cap demonstrably binds in the streamed releases too
    val site0PerWave = (0 until s.waves).map { w =>
      StreamingScheduler.readOutput(spark, s"$sDir/scheduled")
        .filter(col("emittedAtMs") === StreamingCrawl.waveClock(w) && col("host") === "site0.com")
        .count()
    }
    assert(site0PerWave.forall(_ <= 2L), s"site0 releases $site0PerWave exceed the delay cap")
    assert(site0PerWave.exists(_ == 2L), "the delay cap must demonstrably bind")
  }

  test("kill/restart mid-crawl: exactly-once release, identical final set") {
    val pages = corpus
    val sDir = Files.createTempDirectory("graft-scrawl-restart").toString
    // first run killed after two waves (waveLimit), then a fresh run resumes
    // from the streaming checkpoint and finishes the crawl
    val partial = StreamingCrawl.run(spark, pages, cfg, sDir, waveLimit = 2)
    assert(partial.waves == 2)
    val resumed = StreamingCrawl.run(spark, pages, cfg, sDir)
    assert(resumed.parityFailures == 0)

    val released = StreamingScheduler.readOutput(spark, s"$sDir/scheduled")
      .select("canonicalUrl").collect().map(_.getString(0)).toVector
    assert(released.size == released.distinct.size,
      "no URL is ever released twice across the restart")

    val batchDir = Files.createTempDirectory("graft-scrawl-restart-batch").toString
    CrawlEngine.run(spark, pages, cfg, batchDir)
    val batchSeen = CrawlEngine.readOrder(spark, batchDir).collect().map(_.canonicalUrl).toSet
    assert(released.toSet == batchSeen, "final released set == batch seen set")
  }

  test("streaming archive sink: batch byte parity, exactly-once and no torn segments across kill/restart") {
    val pages = corpus
    // batch truth: which canonicals fetch (crawl order), and each capture's
    // exact payload + timestamp from the SHARED pages prep
    val batchDir = Files.createTempDirectory("graft-sarc-batch").toString
    CrawlEngine.run(spark, pages, cfg, batchDir)
    val orderRows = CrawlEngine.readOrder(spark, batchDir).collect()
    val preparedRows = CrawlEngine.preparePages(pages)
      .select("canonicalUrl", "warcTs", "html").collect()
      .map(r => r.getString(0) -> ((r.getTimestamp(1), r.getAs[Array[Byte]](2)))).toMap

    // streamed crawl WITH the archive leg, killed after two waves...
    val sDir = Files.createTempDirectory("graft-sarc-stream").toString
    val aDir = s"$sDir/archive"
    StreamingCrawl.run(spark, pages, cfg, sDir, waveLimit = 2, archiveDir = Some(aDir))
    assert(new java.io.File(aDir).listFiles().count(_.getName.startsWith("wave=")) == 2)
    // ...plus a planted TORN write for the next wave (a kill mid-archive):
    // the resume must rebuild it, never surface it
    val stale = java.nio.file.Paths.get(aDir, ".tmp-wave=00002")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("part-00000.warc.gz"), Array[Byte](1, 2, 3))
    StreamingCrawl.run(spark, pages, cfg, sDir, archiveDir = Some(aDir))

    assert(!java.nio.file.Files.exists(stale), "torn temp dir was rebuilt and flipped")
    val got = graft.sources.WarcKit
      .readArchiveRecords(spark, s"$aDir/wave=*/*.warc.gz").collect()
    assert(got.map(_.url).distinct.length == got.length,
      "no record duplicated across the resume seam")
    val fetchedCanonicals = orderRows.map(_.canonicalUrl).toSet.filter(preparedRows.contains)
    assert(got.map(_.url).toSet == fetchedCanonicals,
      "archive holds exactly the batch engine's fetched captures")
    got.foreach { a =>
      val (ts, html) = preparedRows(a.url)
      assert(a.warc_ts.getTime == ts.getTime, s"capture date for ${a.url}")
      assert(java.util.Arrays.equals(a.html, html), s"payload bytes for ${a.url}")
      assert(a.payloadDigest == graft.sources.WarcKit.payloadDigest(html))
    }
  }
}

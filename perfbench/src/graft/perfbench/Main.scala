package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.{Bench, SparkEntry}
import graft.crawl.CrawlEngine
import graft.gen.CorpusGen
import graft.model.{CrawlConfig, PageRow}
import graft.state.SnapshotStore

/** JVM side of the benchmark: runs one workload through graft's public
  * entry points and writes the raw measurements as one JSON file for
  * `perfbench/run.py`, which derives the metrics and checks the outputs.
  *
  * usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --work <dir> --out <file> [--data <sf dir>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String, data: String)

  // --- workload shapes -----------------------------------------------------
  /** bfs_crawl: Bench's crawl_e2e corpus and config (60 pages per host,
    * richness 4, budget 40 per host per wave, every sink on) on fewer hosts
    * and a shallower depth, so one crawl fits the run. */
  val CrawlHosts = 100
  val CrawlDepth = 2
  /** The traced run's saturated mega wave: Bench's waveSpec shape (200
    * pages per host, richness 20) on fewer hosts. */
  val WaveHosts = 8
  /** corpus_ops: contract leaves in their fixed run order. */
  val Leaves: Seq[String] = Seq(
    "q_exactsubstr_pipeline", "q_minhash_lsh",
    "q_trustrank", "q_join_multi", "q_ann_ivfpq")
  val OpsTables: Seq[String] =
    Seq("documents", "embeddings", "lineitem", "orders", "customer", "nation")
  /** Set-up repetitions whose median is `setup_s`. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val result = a.workload match {
      case "bfs_crawl" => bfsCrawl(a)
      case "corpus_ops" => corpusOps(a)
      case other => sys.error(s"unknown workload '$other'")
    }
    Files.write(Paths.get(a.out), Json.render(result).getBytes(UTF_8))
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("out"), m.getOrElse("data", ""))
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Runs `pass` until the next pass would end past `seconds` (by the last
    * pass's duration); at least `minPasses`. */
  def measure(seconds: Double, minPasses: Int)(pass: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Map[String, Any]]
    var last = 0.0
    while (out.length < minPasses || secondsSince(t0) + last <= seconds) {
      val t = System.nanoTime()
      out += pass(out.length)
      last = secondsSince(t)
    }
    out.toVector
  }

  def errorText(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  // --- crawl passes ------------------------------------------------------------

  def crawlSeeds(hosts: Int): Seq[String] = (0 until hosts).map(h => s"https://${CorpusGen.hostName(h)}/")

  def bfsSpec(hosts: Int, seed: Long): CorpusGen.Spec =
    CorpusGen.Spec(hosts, Bench.BenchPages, seed = seed, richness = Bench.BenchRichness)

  def bfsConfig(hosts: Int): CrawlConfig = Bench.benchConfig.copy(
    seeds = crawlSeeds(hosts), maxDepth = CrawlDepth, maxPages = hosts.toLong * Bench.BenchPages)

  /** One `CrawlEngine.run`: wall time, the `log` lines with their time since
    * the call, and the summary counts. A thrown error is recorded, not
    * rethrown — it counts as failed operations. */
  def crawlPass(spark: SparkSession, pages: Dataset[PageRow], config: CrawlConfig, stateDir: String,
                writeOutputs: Boolean, prePartitionPages: Boolean, spans: Option[Spans]): Map[String, Any] = {
    val events = ArrayBuffer.empty[(Double, String)]
    val startS = spans.map(_.now / 1e9).getOrElse(0.0)
    val t0 = System.nanoTime()
    def body() = CrawlEngine.run(spark, pages, config, stateDir,
      writeOutputs = writeOutputs, prePartitionPages = prePartitionPages,
      log = line => events.synchronized { events += ((secondsSince(t0), line)) })
    val summary =
      try Right(spans.fold(body())(_.span("crawl.run")(body())))
      catch { case e: Throwable => Left(errorText(e)) }
    val wall = secondsSince(t0)
    val base = Map[String, Any]("wall_s" -> wall, "start_s" -> startS,
      "events" -> events.synchronized(events.toVector).map { case (t, l) => Seq(t, l) })
    summary match {
      case Right(s) => base ++ Map("waves" -> s.waves, "fetched" -> s.fetchedTotal,
        "errors" -> s.errorsTotal, "parity_failures" -> s.parityFailures)
      case Left(err) => base + ("error" -> err)
    }
  }

  /** Writes the crawl's `crawl_order` rows and final seen set as text, one
    * row a line, for the harness's order-independent digests. */
  def dumpCrawl(spark: SparkSession, stateDir: String, prefix: String): Map[String, Any] = {
    import spark.implicits._
    val order = CrawlEngine.readOrder(spark, stateDir).collect()
      .map(r => s"${r.wave}\t${r.rank}\t${r.canonicalUrl}\t${r.depth}")
    val store = new SnapshotStore(stateDir)
    val seen =
      try store.current().map(w => store.loadSeen(spark, w).select("canonicalUrl").as[String].collect())
        .getOrElse(Array.empty[String])
      finally store.close()
    Files.write(Paths.get(s"$prefix.order.tsv"), order.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(Paths.get(s"$prefix.seen.tsv"), seen.mkString("", "\n", "\n").getBytes(UTF_8))
    Map("order_file" -> s"$prefix.order.tsv", "seen_file" -> s"$prefix.seen.tsv")
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Set-up repetitions: `body(i)` generates or loads the input; returns
    * each repetition's seconds. */
  def setupReps(body: Int => Unit): Seq[Double] = (0 until SetupReps).map(i => timed(body(i))._2)

  def bfsCrawl(a: Args): Map[String, Any] = {
    val (spark, sessionS) = timed(session(a.cores, a.work))
    import spark.implicits._
    val corpus = s"${a.work}/corpus"
    val setup = setupReps(i => CorpusGen.writeParquet(spark, bfsSpec(CrawlHosts, a.seed), s"$corpus-$i",
      partitions = a.cores * 2))
    (1 until SetupReps).foreach(i => deleteTree(s"$corpus-$i"))
    val pagesPath = s"$corpus-0"
    def pages = spark.read.parquet(pagesPath).as[PageRow]
    val config = bfsConfig(CrawlHosts)

    def pass(k: Int, tag: String, spans: Option[Spans]): Map[String, Any] = {
      val stateDir = s"${a.work}/state-$tag-$k"
      val p = crawlPass(spark, pages, config, stateDir, writeOutputs = true, prePartitionPages = true, spans)
      if (p.contains("error")) p else p ++ dumpCrawl(spark, stateDir, s"${a.work}/crawl-$tag-$k")
    }

    val base = Map[String, Any]("workload" -> a.workload, "setup_s" -> setup, "session_s" -> sessionS,
      "cores" -> a.cores)
    if (!a.trace) {
      // the timed crawl is the first in this JVM, as in a submitted crawl job
      Jvm.startLivePeak()
      val passes = measure(a.seconds, 1)(k => pass(k, "t", scala.None))
      val peak = Jvm.livePeakMb()
      spark.stop()
      base ++ Map("passes" -> passes, "peak_heap_mb" -> peak)
    } else {
      // warm-up pass, then untraced passes on both sides of the traced one,
      // so the overhead estimate does not favour either side of a warming JVM
      val warmupS = timed(pass(0, "w", scala.None))._2
      val before = pass(0, "u", scala.None)
      val tr = traced(spark, a) { spans => pass(0, "tr", Some(spans)) }
      val untraced = Seq(before, pass(1, "u", scala.None))
      val wavePath = s"${a.work}/wave-corpus"
      CorpusGen.writeParquet(spark, waveSpec(a.seed), wavePath, partitions = a.cores * 2)
      val probes = tr.spans.span("probes") {
        Probes.urls(tr.spans, Probes.urlSample(pages.limit(400).collect())) ++
          Probes.extract(tr.spans, spark.read.parquet(wavePath).as[PageRow].limit(200).collect()) ++
          Probes.crawlState(spark, tr.spans, pages, s"${a.work}/state-tr-0", config, a.work)
      }
      spark.stop()
      System.gc()
      base ++ Map("passes" -> Seq(tr.result), "untraced" -> untraced, "probes" -> probes,
        "warmup_s" -> warmupS, "mega" -> megaWave(a, wavePath)) ++ tr.json
    }
  }

  final case class Traced(result: Map[String, Any], spans: Spans, ledger: StageLedger, gcS: Double,
                          peakHeapMb: Double) {
    def json: Map[String, Any] =
      Map("spans" -> spans.toJson, "gc_s" -> gcS, "trace_peak_heap_mb" -> peakHeapMb) ++ ledger.toJson
  }

  /** The traced pass: listener registered, spans recorded, GC time and the
    * live-heap peak taken from the collector beans over the pass. Probes
    * run after it, under the same recorder. */
  def traced(spark: SparkSession, a: Args)(body: Spans => Map[String, Any]): Traced = {
    val spans = new Spans(s"${a.workload}-seed${a.seed}")
    val ledger = new StageLedger(spans)
    spark.sparkContext.addSparkListener(ledger)
    val gc0 = Jvm.gcSeconds
    Jvm.startLivePeak()
    val r = spans.span(s"workload.${a.workload}")(body(spans))
    val peak = Jvm.livePeakMb()
    val gcS = Jvm.gcSeconds - gc0
    ledger.drain()
    Traced(r, spans, ledger, gcS, peak)
  }

  // --- mega wave (bfs_crawl's traced run) -----------------------------------

  def waveSpec(seed: Long): CorpusGen.Spec =
    CorpusGen.Spec(WaveHosts, Bench.WavePages, seed = seed, richness = Bench.WaveRichness)

  def waveSeeds: Seq[String] = for {
    h <- 0 until WaveHosts
    i <- 0 until Bench.WavePages
    if !CorpusGen.isPrivatePage(i)
  } yield CorpusGen.servedBase(h) + CorpusGen.pathFor(i)

  def waveConfig: CrawlConfig = Bench.waveConfig.copy(
    seeds = waveSeeds, maxPages = WaveHosts.toLong * Bench.WavePages)

  /** One leg in its own session: preload the input (untimed), optionally
    * warm up, then `passes` timed single-wave crawls. The blocking
    * unpersist and the collection after `stop` keep the next leg from
    * paying this one's GC. */
  def waveLeg(a: Args, cores: Int, path: String, passes: Int, warmup: Boolean): Map[String, Any] = {
    val spark = session(cores, a.work)
    import spark.implicits._
    try {
      val input = spark.read.parquet(path).as[PageRow].persist(StorageLevel.MEMORY_AND_DISK)
      input.count()
      def pass(tag: String, k: Int) = crawlPass(spark, input, waveConfig,
        s"${a.work}/wave-$cores-$tag-$k", writeOutputs = false, prePartitionPages = false, scala.None)
      if (warmup) pass("w", 0)
      val out = (0 until passes).map(k => pass("t", k))
      input.unpersist(blocking = true)
      Map("cores" -> cores, "passes" -> out)
    } finally {
      spark.stop()
      System.gc()
    }
  }

  /** The saturated single wave at local[nproc], then at local[1] (already
    * warm: same JVM, same generated code). */
  def megaWave(a: Args, path: String): Map[String, Any] = Map(
    "expected_pages" -> waveSeeds.length,
    "legs" -> Map("n" -> waveLeg(a, a.cores, path, 1, warmup = true),
      "1" -> waveLeg(a, 1, path, 1, warmup = false)))

  // --- corpus_ops ------------------------------------------------------------

  def corpusOps(a: Args): Map[String, Any] = {
    val dir = a.data
    val (spark, sessionS) = timed(session(a.cores, a.work))
    val rows = ArrayBuffer.empty[Map[String, Long]]
    val setup = setupReps { _ =>
      rows += OpsTables.map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    }
    val oracle = SparkEntry.oracleSqlFor(dir)

    def pass(tag: String, k: Int, spans: Option[Spans]): Map[String, Any] = {
      val startS = spans.map(_.now / 1e9).getOrElse(0.0)
      val t0 = System.nanoTime()
      val leaves = Leaves.map { leaf =>
        val out = s"${a.work}/ops-$tag-$k/$leaf"
        def body(): Unit = SparkEntry.queries(leaf)(spark, dir).write.mode("overwrite").parquet(out)
        val t = System.nanoTime()
        val err =
          try { spans.fold(body())(_.span(s"pipeline.$leaf")(body())); scala.None }
          catch { case e: Throwable => Some(errorText(e)) }
        Map[String, Any]("leaf" -> leaf, "secs" -> secondsSince(t), "end_s" -> secondsSince(t0),
          "output" -> out, "error" -> err)
      }
      Map("wall_s" -> secondsSince(t0), "start_s" -> startS, "leaves" -> leaves)
    }

    val base = Map[String, Any]("workload" -> a.workload, "setup_s" -> setup, "session_s" -> sessionS,
      "cores" -> a.cores, "table_rows" -> rows.head,
      "oracle_sql" -> Leaves.map(l => l -> oracle.getOrElse(l, "")).toMap)
    val result =
      if (!a.trace) {
        // the timed pass is the first in this JVM, as in a submitted job
        Jvm.startLivePeak()
        val passes = measure(a.seconds, 1)(k => pass("t", k, scala.None))
        base ++ Map("passes" -> passes, "peak_heap_mb" -> Jvm.livePeakMb())
      } else {
        // warm-up pass, then untraced passes on both sides of the traced one
        val warmupS = timed(pass("w", 0, scala.None))._2
        val before = pass("u", 0, scala.None)
        val tr = traced(spark, a)(spans => pass("tr", 0, Some(spans)))
        val untraced = Seq(before, pass("u", 1, scala.None))
        val probes = tr.spans.span("probes") {
          val sample = (0 until 200).map(k => CorpusGen.rowFor(waveSpec(a.seed), k / 100, k % 100 + 2))
          Probes.urls(tr.spans, Probes.urlSample(sample)) ++ Probes.extract(tr.spans, sample)
        }
        base ++ Map("passes" -> Seq(tr.result), "untraced" -> untraced, "probes" -> probes,
          "warmup_s" -> warmupS) ++ tr.json
      }
    spark.stop()
    result
  }
}

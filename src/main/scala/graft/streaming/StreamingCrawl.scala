package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.crawl.CrawlEngine
import graft.frontier.Frontier
import graft.model.{CrawlConfig, FrontierEntry, PageRow}
import graft.pipeline.Rounds.releaseBlocks

/** The batch engine's BFS crawl re-expressed as a STREAMING frontier: the
  * wave loop's only mutable state — the priority backlog and the seen set —
  * lives in [[StreamingScheduler]]'s host-keyed, checkpointed
  * `flatMapGroupsWithState`, while pages prep, robots prep, fetch, fused
  * extraction and link generation (admission chain + robots gate) ARE the
  * batch engine's per-wave kernels (`CrawlEngine.preparePages`,
  * `.robotsTables`, `.fetchJoin`, `.fusedExtract`, `.linkGen`) — one copy
  * of each, so the extracted text and the gating cannot drift apart.
  *
  * Each loop iteration = one wave: the previous wave's gated link
  * discoveries (plus a tick row) land as one file on the scheduler's input,
  * an AvailableNow drain releases at most `perHostBudget` URLs per host in
  * the engine's priority order, those are fetched + extracted, and the new
  * links loop back. The crawl converges when a tick releases nothing.
  *
  * Because the scheduler's state transition IS the batch wave transition
  * (same dedup-merge, same seen anti-join semantics, same priority order,
  * same budget), the per-wave release sets match `CrawlEngine.run`
  * wave-for-wave — pinned by StreamingCrawlSpec. Restart-safety comes from
  * the streaming checkpoint: kill the loop anywhere, re-run, and drained
  * waves are not re-released (exactly-once), so fetches never repeat.
  *
  * Scale shape: no driver-side frontier or seen structure — the driver only
  * moves FILE PATHS between stages; every per-URL structure is either a
  * Dataset or scheduler state sharded by host. Adaptive politeness and
  * max-pages caps stay batch-engine features (this twin keeps the static
  * budget the north rule names).
  */
object StreamingCrawl {

  final case class WaveStat(wave: Int, released: Long, fetched: Long, errors: Long)
  final case class StreamCrawlSummary(waves: Int, fetchedTotal: Long,
                                      errorsTotal: Long, parityFailures: Long,
                                      waveStats: Seq[WaveStat])

  /** Epoch base for the wave clock (any fixed value works — the clock only
    * needs to be strictly increasing per wave). */
  private val WaveClock0 = 1700000000000L
  private[streaming] def waveClock(wave: Int): Long = WaveClock0 + wave.toLong * 60000L

  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      config: CrawlConfig,
      workDir: String,
      waveLimit: Int = 1000,
      // when set, every wave's captures are emitted as a WARC segment set
      // under archiveDir/wave=NNNNN/ via the distributed partitioned
      // writer — the streaming archive sink, exactly-once across
      // kill/restart (deterministic wave dir + write-to-temp + atomic dir
      // flip, the writeWaveFileIfAbsent discipline)
      archiveDir: Option[String] = scala.None
  ): StreamCrawlSummary = {
    import spark.implicits._
    val discDir = s"$workDir/discoveries"
    val schedDir = s"$workDir/scheduled"
    val cpDir = s"$workDir/checkpoint"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(workDir))

    // one release path for every exit: the crawl's prepared pages,
    // winners and robots tables, and the wave in progress's frames
    val crawlCaches = new CrawlEngine.Releases
    val waveCaches = new CrawlEngine.Releases
    try {
    val prepared = CrawlEngine.preparePages(pages, registerRelease = f => crawlCaches.add(f()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    crawlCaches.add(releaseBlocks(prepared))
    // the Crawl-delay caps ride into the scheduler's keyed state via a
    // stream-static broadcast join so the twins release identical tranches
    val robots = CrawlEngine.robotsTables(pages, config, f => crawlCaches.add(f()))
    val delayCaps = robots.delayBudgets.map(_.toDF())
    val discover = CrawlEngine.linkGen(spark, config, robots.gate)

    def toCandidates(entries: Dataset[FrontierEntry], atMs: Long): Dataset[StreamingScheduler.Candidate] =
      entries.map(e => StreamingScheduler.Candidate(e.canonicalUrl, e.url, e.depth,
        e.parentUrl, e.host, e.pathDepth, e.urlHash, new java.sql.Timestamp(atMs)))

    /** One wave's discoveries + the tick, as ONE deterministically-NAMED file
      * (one micro-batch). The name makes replay idempotent: a resumed run
      * re-deriving a wave's links skips the write instead of appending a
      * duplicate discovery file (which would re-invoke hosts and burst the
      * per-wave budget at the resume seam). */
    def writeWaveFileIfAbsent(entries: Dataset[StreamingScheduler.Candidate], w: Int): Unit = {
      val dest = java.nio.file.Paths.get(discDir, f"wave-$w%05d.parquet")
      if (!java.nio.file.Files.exists(dest)) {
        // temp dir inside workDir: same filesystem, so the move stays atomic
        val tmp = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(workDir), "wave-tmp").toString
        entries
          .union(spark.createDataset(Seq(StreamingScheduler.tick(waveClock(w)))))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file written for wave $w"))
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(part.toPath, dest,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // the tmp dir (now only _SUCCESS/.crc siblings) must not accumulate
        // one junk dir per wave in the operator-facing state dir
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }

    // fresh run: wave-0 input = the canonicalized seed list (depth 0);
    // resume: continue at the last wave that released anything (its fetch is
    // re-derived — pure recompute — and later writes are absent-guarded)
    val priorMax: Option[Long] = {
      val m = StreamingScheduler.readOutput(spark, schedDir).agg(max(col("emittedAtMs"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }
    if (priorMax.isEmpty) {
      val seeds = CrawlEngine.seedFrontier(spark, config.seeds)
      writeWaveFileIfAbsent(toCandidates(seeds, waveClock(0)), 0)
    }

    var wave = priorMax.map(m => ((m - WaveClock0) / 60000L).toInt).getOrElse(0)
    var fetchedTotal = 0L
    var errorsTotal = 0L
    var parityFailures = 0L
    val waveStats = scala.collection.mutable.ArrayBuffer.empty[WaveStat]
    var done = false

    while (!done && wave < waveLimit) {
      // release this wave's tranche (drains the file written above; on a
      // restart, already-drained files are skipped by the checkpoint and the
      // backlog resumes exactly where it stopped)
      StreamingScheduler.schedule(spark, discDir, schedDir, cpDir, config.perHostBudget,
        hostCaps = delayCaps)

      val released = StreamingScheduler.readOutput(spark, schedDir)
        .filter(col("emittedAtMs") === waveClock(wave))
        .persist(StorageLevel.MEMORY_AND_DISK)
      waveCaches.add(releaseBlocks(released))
      val relCount = released.count()

      if (relCount == 0L) {
        done = true
      } else {
        // -- fetch + fused extract: the batch kernels, byte parity checked
        // on every row
        val fetched = CrawlEngine.fetchJoin(prepared, released, relCount, config.broadcastWaveMaxRows)
        // no chunks sink here: no chunk rows; the cache holds only the two
        // columns the twin reads
        val extracted = CrawlEngine.fusedExtract(fetched, wave, retryHints = false, chunks = false,
            discover.admission)
          .select("parityOk", "links")
          .persist(StorageLevel.MEMORY_AND_DISK)
        waveCaches.add(releaseBlocks(extracted))

        val (fetchCount, parityFailWave) = CrawlEngine.countAndFailures(extracted, "parityOk")
        parityFailures += parityFailWave
        // the batch engine's convention: fetchedTotal counts RELEASED URLs
        // (errors tracked separately; both mark the URL seen)
        fetchedTotal += relCount
        errorsTotal += relCount - fetchCount // released-but-missing = simulated 404s
        waveStats += WaveStat(wave, relCount, fetchCount, relCount - fetchCount)

        // -- streaming archive sink: this wave's captures → one WARC
        // segment set, written by the DISTRIBUTED partitioned writer
        // (payload bytes never on the driver) into a per-wave temp dir,
        // then atomically flipped to archiveDir/wave=NNNNN. Exactly-once:
        // a resumed run re-deriving a committed wave finds the dir and
        // skips; a kill mid-write leaves only the temp dir, which the
        // retry deletes and rebuilds — no duplicate and no torn segment
        // ever becomes visible under a wave= dir.
        archiveDir.foreach { ad =>
          val waveDir = java.nio.file.Paths.get(ad, f"wave=$wave%05d")
          if (!java.nio.file.Files.exists(waveDir)) {
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ad))
            val tmp = java.nio.file.Paths.get(ad, f".tmp-wave=$wave%05d")
            org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile) // stale partial from a kill
            val records = fetched.map { r =>
              graft.sources.WarcKit.ArchiveRecord("response", r.canonicalUrl, r.warcTs, 200,
                "text/html", r.html, graft.sources.WarcKit.payloadDigest(r.html))
            }
            graft.sources.WarcKit.writeArchivePartitioned(records, tmp.toString, codec = "gz")
            java.nio.file.Files.move(tmp, waveDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }

        wave += 1
        // the admission chain + robots gate (linkGen), looped back as the
        // NEXT wave's discovery file, pre-shrunk with the batch dedup (state
        // would converge anyway — this keeps the file one canonical per
        // URL, like the batch wave's dedupeWave, and makes the loop-back
        // write proportional to distinct discoveries)
        writeWaveFileIfAbsent(
          toCandidates(Frontier.dedupeWave(spark, discover(extracted)), waveClock(wave)), wave)
      }
      waveCaches.releaseAll()
    }

    StreamCrawlSummary(wave, fetchedTotal, errorsTotal, parityFailures, waveStats.toSeq)
    } finally {
      waveCaches.releaseAll()
      crawlCaches.releaseAll()
    }
  }
}

package graft.streaming

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming seen-set semantics: first occurrence emits, duplicates drop —
  * within a batch, across batches, and across query RESTARTS (state
  * checkpointed); deterministic representative under within-batch dups;
  * event-time TTL expiry re-admits URLs (re-crawl policy). */
class StreamingFrontierSpec extends AnyFunSuite with SharedSpark {

  private val T0 = 1700000000000L // fixed epoch base for event time

  private def d(c: String, depth: Int = 1, url: String = "", parent: String = "p",
                atMs: Long = T0) =
    StreamingFrontier.Discovered(c, if (url.isEmpty) c else url, depth, parent,
      graft.urls.UrlKernel.extractDomain(c).getOrElse(""),
      new java.sql.Timestamp(atMs))

  /** Each Seq = one discovery wave = ONE parquet file: with
    * maxFilesPerTrigger=1 a multi-file write would split a wave across
    * micro-batches and the within-batch-dup assertions would race on file
    * listing order. */
  private def writeWave(in: String, rows: Seq[StreamingFrontier.Discovered]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode("append").parquet(in)
  }

  test("exactly-once first-seen across batches and restarts; dedupeWave representative") {
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    // wave 1: a, b — with a within-batch duplicate of `a` at deeper depth
    writeWave(in, Seq(
      d("https://s.com/a", depth = 2, url = "https://s.com/a?z"),
      d("https://s.com/a", depth = 1, url = "https://s.com/a?x"),
      d("https://s.com/b")))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp)
    val got1 = StreamingFrontier.readOutput(spark, out).collect()
    assert(got1.length == 2, "within-batch dup collapses")
    val a1 = got1.find(_.getAs[String]("canonicalUrl") == "https://s.com/a").get
    assert(a1.getAs[Int]("depth") == 1 && a1.getAs[String]("url") == "https://s.com/a?x",
      "min-depth/lexicographic representative (dedupeWave order)")

    // wave 2 in a FRESH run from the same checkpoint: a re-discovered (drop),
    // c new (emit) — seen state must survive the restart
    writeWave(in, Seq(d("https://s.com/a", depth = 3), d("https://s.com/c")))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp)
    val got2 = StreamingFrontier.readOutput(spark, out).collect()
    assert(got2.length == 3, s"only c is new, got ${got2.length}")
    assert(got2.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 1,
      "re-discovered URL never re-emitted after restart")
    assert(got2.exists(_.getAs[String]("canonicalUrl") == "https://s.com/c"))

    // idle re-run: no new input → no output growth
    StreamingFrontier.firstSeenOnly(spark, in, out, cp)
    assert(StreamingFrontier.readOutput(spark, out).count() == 3)
  }

  test("property: the streaming representative is the batch merge winner on supplementary-plane URLs") {
    import spark.implicits._
    // the batch engine's dedupeWave and fold(merge) agree on these inputs
    // (FrontierSpec); the streaming first-seen filter must pick the same
    // entry, its url and parent compared as UTF-8 bytes, not UTF-16 units
    val pieces = Seq("a", "/", "\uE000", "\uFF21", "\u00E9", "\uD83D\uDE00", "\uD800\uDC00")
    def str(g: scala.util.Random, prefix: String) =
      prefix + Seq.fill(1 + g.nextInt(3))(pieces(g.nextInt(pieces.length))).mkString
    val gen = for {
      groups <- Gen.choose(1, 40)
      salt <- Gen.choose(0, 1000)
    } yield {
      val g = new scala.util.Random(salt)
      g.shuffle((0 until groups).flatMap { k =>
        val c = s"https://s.com/c$k"
        Seq.fill(1 + g.nextInt(4))(d(c, depth = 1 + g.nextInt(2), url = str(g, c), parent = str(g, "https://p/")))
      })
    }
    var seed = Seed(7L)
    (1 to 3).foreach { _ =>
      gen(Gen.Parameters.default, seed).foreach { rows =>
        val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-order").toString
        writeWave(s"$root/in", rows)
        StreamingFrontier.firstSeenOnly(spark, s"$root/in", s"$root/out", s"$root/cp")
        val streamed = StreamingFrontier.readOutput(spark, s"$root/out").collect()
          .map(r => (r.getAs[String]("canonicalUrl"), r.getAs[String]("url"), r.getAs[Int]("depth"),
            r.getAs[String]("parentUrl"))).toSet
        val folded = rows.groupBy(_.canonicalUrl).values
          .map(_.reduce(graft.frontier.Frontier.merge[StreamingFrontier.Discovered] _))
          .map(e => (e.canonicalUrl, e.url, e.depth, e.parentUrl)).toSet
        val waved = graft.frontier.Frontier.dedupeWave(spark, spark.createDataset(rows.map(e =>
            graft.model.FrontierEntry(e.canonicalUrl, e.url, e.depth, e.parentUrl, e.host, 0, 0L))))
          .collect().map(e => (e.canonicalUrl, e.url, e.depth, e.parentUrl)).toSet
        assert(streamed == folded, s"${rows.size} discoveries: streaming and fold(merge) disagree")
        assert(streamed == waved, s"${rows.size} discoveries: streaming and dedupeWave disagree")
      }
      seed = seed.next
    }
  }

  test("seen TTL config: dedup still exact within the TTL window") {
    // Pins the TTL-configured PATH (watermark + EventTimeTimeout +
    // setTimeoutTimestamp) with discoveries all inside the TTL window:
    // dedup must be exactly the NoTimeout behavior.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-ttl").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(10L * 60L * 1000L) // 10 min of event time
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b")))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    assert(StreamingFrontier.readOutput(spark, out).count() == 2)
    // one minute later (well inside the TTL): a re-discovered, c new
    writeWave(in, Seq(
      d("https://s.com/a", depth = 5, atMs = T0 + 60000L),
      d("https://s.com/c", atMs = T0 + 60000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.length == 3, "inside the TTL window dedup is exact")
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 1)
  }

  test("seen TTL expiry: an expired URL is forgotten and re-admitted") {
    // Re-crawl-after-expiry, fully event-time deterministic (no wall-clock):
    // a URL whose seen-state outlived the TTL in WATERMARK time is removed
    // (Spark fires hasTimedOut callbacks — in the forced no-data batch after
    // the watermark advances — only for keys WITHOUT input in the batch) and
    // the next discovery re-emits it.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-exp").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L) // 60 s of event time
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b"))) // timeout at T0+60s
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    assert(StreamingFrontier.readOutput(spark, out).count() == 2)

    // t=+120s, unrelated discovery: advances the watermark past the TTL;
    // the follow-up no-data batch expires a and b
    writeWave(in, Seq(d("https://s.com/d", atMs = T0 + 120000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)

    // t=+180s: a re-discovered after expiry → emits AGAIN
    writeWave(in, Seq(d("https://s.com/a", depth = 7, atMs = T0 + 180000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "expired URL re-admitted (re-crawl policy)")
    assert(rows.length == 4)
  }

  test("a duplicate sighting does not cancel the expiry clock") {
    // GroupState clears a key's timeout on every invocation that doesn't
    // re-set it — if the duplicate branch forgot to re-arm, one dup sighting
    // would pin the URL as seen FOREVER. Here `a` is re-seen inside its TTL
    // (dropped), the same wave advances the watermark past the TTL, and a
    // later discovery must still re-admit it.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-rearm").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L)
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b"))) // expiry T0+60s
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    writeWave(in, Seq( // dup of a (inside TTL, drops) + watermark → +120s
      d("https://s.com/a", depth = 5, atMs = T0 + 30000L),
      d("https://s.com/c", atMs = T0 + 120000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    assert(StreamingFrontier.readOutput(spark, out).count() == 3, "dup dropped inside TTL")
    writeWave(in, Seq(d("https://s.com/a", atMs = T0 + 180000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "expiry survives an interleaved duplicate sighting")
    assert(rows.length == 4)
  }

  test("TTL anchors at the FIRST sighting: a same-batch duplicate does not extend it") {
    // Wave 1 carries a@T0 AND a duplicate a@T0+30s in ONE file (one batch).
    // The expiry must be firstSighting+TTL = T0+60s — anchoring at the max
    // sighting (T0+90s) would let within-batch duplicates extend the
    // staleness clock in a way cross-batch duplicates (test above) cannot.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-anchor").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L)
    writeWave(in, Seq(
      d("https://s.com/a", atMs = T0),
      d("https://s.com/a", depth = 5, atMs = T0 + 30000L),
      d("https://s.com/b", atMs = T0)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    assert(StreamingFrontier.readOutput(spark, out).count() == 2)
    // watermark → T0+75s: past the min-anchored expiry (T0+60s), NOT past a
    // max-anchored one (T0+90s); the follow-up no-data batch must expire a
    writeWave(in, Seq(d("https://s.com/z", atMs = T0 + 75000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    // a re-discovered at T0+80s: re-admitted iff the anchor was the FIRST sighting
    writeWave(in, Seq(d("https://s.com/a", atMs = T0 + 80000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "expiry clock must start at the first sighting, not a same-batch duplicate")
  }

  test("a rediscovery past the TTL in EVENT time re-admits before the watermark catches up") {
    // Re-admission is decided by comparing the sighting's event time against
    // the stored expiry — NOT by waiting for the watermark to pass it. Here
    // the rediscovery at T0+65s is past a's expiry (T0+60s) while the
    // watermark still reads T0 (it lags one batch): the re-crawl must happen
    // NOW, not after an extra watermark advance + timeout + third sighting.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-event").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L)
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b"))) // expiry T0+60s
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    writeWave(in, Seq(d("https://s.com/a", atMs = T0 + 65000L))) // watermark still T0
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "event-time TTL expiry re-admits without waiting for the watermark")
    assert(rows.length == 3)
  }

  test("a past-TTL rediscovery re-admits even when a stale duplicate rides the same batch") {
    // the re-admission decision uses the group's MAX sighting (any sighting
    // past the expiry is a re-crawl); anchoring AND the emitted
    // representative use only the PAST-EXPIRY sightings, so the stale
    // duplicate neither suppresses the re-crawl, nor starts its clock
    // early, nor becomes the re-crawl's emitted row (its min depth would
    // otherwise win the merge)
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-mixed").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L)
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b"))) // expiry T0+60s
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    writeWave(in, Seq( // ONE batch: stale dup (inside old window) + fresh rediscovery (past it)
      d("https://s.com/a", depth = 5, atMs = T0 + 30000L),
      d("https://s.com/a", depth = 6, atMs = T0 + 70000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "the past-expiry sighting must re-admit despite the stale same-batch duplicate")
    assert(rows.length == 3)
    val readmitted = rows.filter(_.getAs[String]("canonicalUrl") == "https://s.com/a")
      .maxBy(_.getAs[java.sql.Timestamp]("discoveredAt").getTime)
    assert(readmitted.getAs[Int]("depth") == 6 &&
      readmitted.getAs[java.sql.Timestamp]("discoveredAt").getTime == T0 + 70000L,
      s"the stale min-depth duplicate must not represent the re-crawl: $readmitted")
  }

  test("readOutput of a sink dir with no committed data files reads as empty") {
    // a run killed between sink init and the first batch commit leaves the
    // output dir with only _spark_metadata — resume must see 'empty', not
    // a schema-inference AnalysisException
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-empty").toString
    val out = s"$root/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/_spark_metadata"))
    assert(StreamingFrontier.readOutput(spark, out).count() == 0)
    assert(StreamingScheduler.readOutput(spark, out).count() == 0)
  }

  test("a discovery arriving right after the watermark passes the TTL re-admits immediately") {
    // hasTimedOut callbacks only fire for keys WITHOUT input in a batch; a
    // rediscovery can land in the very batch after the watermark advance,
    // before any cleanup batch saw the key idle. The dup branch must detect
    // expiry-in-watermark-time itself and treat the sighting as the re-crawl.
    val root = java.nio.file.Files.createTempDirectory("graft-sfrontier-imm").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val ttl = Some(60000L)
    writeWave(in, Seq(d("https://s.com/a"), d("https://s.com/b"))) // expiry T0+60s
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    // one invocation, two files in mtime order: z advances the watermark to
    // +120s, then a's rediscovery is processed in the NEXT batch (before any
    // idle batch could expire it) — maxFilesPerTrigger=1 keeps them separate
    writeWave(in, Seq(d("https://s.com/z", atMs = T0 + 120000L)))
    Thread.sleep(100L) // distinct mtimes → deterministic file order
    writeWave(in, Seq(d("https://s.com/a", depth = 9, atMs = T0 + 180000L)))
    StreamingFrontier.firstSeenOnly(spark, in, out, cp, seenTtlMs = ttl)
    val rows = StreamingFrontier.readOutput(spark, out).collect()
    assert(rows.count(_.getAs[String]("canonicalUrl") == "https://s.com/a") == 2,
      "expired-in-watermark-time URL re-admitted by its own rediscovery")
    assert(rows.length == 4)
  }
}

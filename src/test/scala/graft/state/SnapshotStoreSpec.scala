package graft.state

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.crawl.CrawlEngine
import graft.model.FrontierEntry

/** Manifest-list + file-pruning semantics of the Iceberg-style snapshot
  * store: footer stats must be exact, range loads must prune files AND
  * return exactly the filter-equivalent rows. */
class SnapshotStoreSpec extends AnyFunSuite with SharedSpark {

  private def entries(n: Int): Seq[FrontierEntry] =
    (0 until n).map { i =>
      val c = s"https://site${i % 7}.com/p$i"
      FrontierEntry(c, c, 1, "", s"site${i % 7}.com", 1, CrawlEngine.urlHash(c))
    }

  private def committedStore(n: Int): (SnapshotStore, Seq[FrontierEntry]) = {
    import spark.implicits._
    val es = entries(n)
    val store = new SnapshotStore(Files.createTempDirectory("graft-snap-test").toString)
    store.init()
    store.commit(spark, 0, spark.createDataset(es).toDF(),
      spark.createDataset(es.map(_.canonicalUrl)).toDF("canonicalUrl"),
      n.toLong, 0L, 0L, "run", targetFrontierFiles = Some(8))
    (store, es)
  }

  test("manifest list: exact row counts, tight disjoint-ish hash ranges") {
    val (store, es) = committedStore(4000)
    val stats = store.manifestList(0)
    assert(stats.nonEmpty)
    assert(stats.map(_.rows).sum == 4000L, "footer row counts must sum to the frontier size")
    val dataFiles = stats.filter(_.rows > 0)
    dataFiles.foreach(s => assert(s.urlHashMin <= s.urlHashMax))
    // range clustering: file ranges must not all overlap — sort by min and
    // require strictly increasing mins (distinct range-partition bounds)
    val mins = dataFiles.map(_.urlHashMin).sorted
    assert(mins.distinct.size == mins.size, "range-clustered files must cover distinct ranges")
    // global min/max across files == true min/max of the data
    assert(dataFiles.map(_.urlHashMin).min == es.map(_.urlHash).min)
    assert(dataFiles.map(_.urlHashMax).max == es.map(_.urlHash).max)
  }

  test("loadFrontierRange prunes files and returns exactly the matching rows") {
    val (store, es) = committedStore(4000)
    val hashes = es.map(_.urlHash).sorted
    // a range holding ~10% of rows
    val (lo, hi) = (hashes(1800), hashes(2200))
    val pruned = store.filesForRange(0, lo, hi)
    val all = store.manifestList(0).count(_.rows > 0)
    assert(pruned.size < all, s"pruning must skip files (${pruned.size}/$all opened)")
    val got = store.loadFrontierRange(spark, 0, lo, hi)
      .collect().map(_.getAs[Long]("urlHash")).sorted
    val want = hashes.filter(h => h >= lo && h <= hi)
    assert(got.toSeq == want, "pruned load must equal the full-scan filter")
    // empty range → no files opened, zero rows
    assert(store.filesForRange(0, Long.MaxValue - 1, Long.MaxValue).size <= 1)
    // full range → everything
    assert(store.loadFrontierRange(spark, 0, Long.MinValue, Long.MaxValue).count() == 4000L)
  }

  test("unclustered commit: manifest still exact, pruned load still correct") {
    import spark.implicits._
    val es = entries(3000)
    val store = new SnapshotStore(Files.createTempDirectory("graft-snap-unclustered").toString)
    store.init()
    store.commit(spark, 0, spark.createDataset(es).toDF().repartition(6),
      spark.createDataset(es.map(_.canonicalUrl)).toDF("canonicalUrl"),
      3000L, 0L, 0L, "run") // no file target → layout left as-is
    val stats = store.manifestList(0)
    assert(stats.map(_.rows).sum == 3000L)
    val hashes = es.map(_.urlHash).sorted
    val (lo, hi) = (hashes(1000), hashes(1500))
    val got = store.loadFrontierRange(spark, 0, lo, hi)
      .collect().map(_.getAs[Long]("urlHash")).sorted
    assert(got.toSeq == hashes.filter(h => h >= lo && h <= hi),
      "loose stats may skip pruning but must never change results")
  }

  test("crawl with snapshotFileTarget commits prunable clustered snapshots") {
    import spark.implicits._
    val spec = graft.gen.CorpusGen.Spec(3, 30)
    val pages = graft.gen.CorpusGen.dataset(spark, spec)
    val cfg = graft.model.CrawlConfig(
      seeds = (0 until 3).map(h => s"https://${graft.gen.CorpusGen.hostName(h)}/"),
      maxDepth = 3, maxPages = 60, perHostBudget = 3,
      excludePatterns = Seq("external-data.org", "*.external-data.org"),
      snapshotFileTarget = Some(4))
    val dir = Files.createTempDirectory("graft-snap-engine").toString
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    assert(summary.fetchedTotal > 0)
    val store = new SnapshotStore(dir)
    // wave 0's frontier (post-seed expansion) must carry a manifest whose
    // multi-file ranges are distinct (clustered), and a half-range load must
    // open fewer files than the full set
    val stats = store.manifestList(0).filter(_.rows > 0)
    if (stats.size > 1) {
      assert(stats.map(_.urlHashMin).distinct.size == stats.size)
      val probe = store.filesForRange(0, Long.MinValue, stats.head.urlHashMax)
      assert(probe.size < stats.size)
    }
    // and a resumed run over clustered snapshots still reproduces the crawl
    val full = store.loadFrontier(spark, 0).count()
    assert(full == stats.map(_.rows).sum)
  }

  test("compact + expire: seen set survives, old snapshots reclaimed, resume intact") {
    import spark.implicits._
    // full crawl → compact at an interior wave → expire earlier snapshots →
    // the seen set and a resume must be unchanged
    val spec = graft.gen.CorpusGen.Spec(2, 20)
    val pages = graft.gen.CorpusGen.dataset(spark, spec)
    val cfg = graft.model.CrawlConfig(
      seeds = (0 until 2).map(h => s"https://${graft.gen.CorpusGen.hostName(h)}/"),
      maxDepth = 3, maxPages = 40, perHostBudget = 3,
      excludePatterns = Seq("external-data.org", "*.external-data.org"))
    val dir = Files.createTempDirectory("graft-snap-compact").toString
    val summary = CrawlEngine.run(spark, pages, cfg, dir)
    val store = new SnapshotStore(dir)
    val last = summary.waves - 1
    val mid = last - 1
    assert(mid >= 1, s"need >= 3 waves, got ${summary.waves}")

    val seenBefore = store.loadSeen(spark, last).collect().map(_.getString(0)).sorted
    store.compact(spark, mid)
    // compacted read at mid and at last both equal the delta-union baseline
    assert(store.loadSeen(spark, last).collect().map(_.getString(0)).sorted
      .sameElements(seenBefore))
    // expire refuses without a self-contained target, then reclaims
    intercept[IllegalArgumentException](store.expire(mid + 1))
    val removed = store.expire(mid)
    assert(removed == mid, s"expected $mid dirs removed, got $removed")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "snap-0")))
    assert(store.loadSeen(spark, last).collect().map(_.getString(0)).sorted
      .sameElements(seenBefore), "seen set must survive expiry")
    // resume from the last snapshot still works over the expired store
    Files.write(java.nio.file.Paths.get(dir, "CURRENT"), last.toString.getBytes("UTF-8"))
    val resumed = CrawlEngine.run(spark, pages, cfg, dir, resume = true)
    assert(resumed.fetchedTotal == summary.fetchedTotal,
      "resume after compaction+expiry must see the same crawl state")
  }

  test("interrupted compaction: loadSeen fails loudly; compact() recovers both crash shapes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap-crash").toString
    val es = entries(200)
    val store = new SnapshotStore(root)
    store.init()
    store.commit(spark, 0, spark.createDataset(es).toDF(),
      spark.createDataset(es.map(_.canonicalUrl)).toDF("canonicalUrl"), 200L, 0L, 0L, "run")
    store.compact(spark, 0)
    val baseline = store.loadSeen(spark, 0).collect().map(_.getString(0)).sorted.toSeq
    val dest = java.nio.file.Paths.get(s"$root/snap-0/seen-full.parquet")
    val old = java.nio.file.Paths.get(s"$root/snap-0/seen-full.old")
    val tmp = java.nio.file.Paths.get(s"$root/snap-0/.seen-full.tmp")

    // crash shape A: died mid-swap — dest was renamed aside, replacement never landed
    Files.move(dest, old)
    val exA = intercept[IllegalStateException](store.loadSeen(spark, 0))
    assert(exA.getMessage.contains("interrupted compaction"))
    store.compact(spark, 0) // recovery: .old is the durable copy
    assert(store.loadSeen(spark, 0).collect().map(_.getString(0)).sorted.toSeq == baseline)
    assert(!Files.exists(old) && !Files.exists(tmp))

    // crash shape B: died mid-tmp-write with no compacted dest at this wave
    org.apache.commons.io.FileUtils.deleteDirectory(dest.toFile)
    Files.createDirectory(tmp)
    val exB = intercept[IllegalStateException](store.loadSeen(spark, 0))
    assert(exB.getMessage.contains("interrupted compaction"))
    store.compact(spark, 0) // recovery: stale tmp cleared, rebuilt from deltas
    assert(store.loadSeen(spark, 0).collect().map(_.getString(0)).sorted.toSeq == baseline)

    // re-compaction at the same wave (the post-expire() danger case) is clean
    store.compact(spark, 0)
    assert(store.loadSeen(spark, 0).collect().map(_.getString(0)).sorted.toSeq == baseline)
  }

  test("store works through an explicit file:// URI (Hadoop FileSystem path)") {
    import spark.implicits._
    // the whole metadata layer rides the Hadoop FileSystem API — an explicit
    // scheme'd root must behave identically to a bare path (and an hdfs://
    // or s3a:// root resolves through the same code path in deployment)
    val bare = Files.createTempDirectory("graft-snap-uri").toString
    val root = s"file://$bare"
    val es = entries(300)
    val store = new SnapshotStore(root)
    store.init()
    store.commit(spark, 0, spark.createDataset(es).toDF(),
      spark.createDataset(es.map(_.canonicalUrl)).toDF("canonicalUrl"),
      300L, 0L, 0L, "uri-run", targetFrontierFiles = Some(4))
    assert(store.current().contains(0))
    assert(store.manifest(0).runId == "uri-run")
    assert(store.manifestList(0).map(_.rows).sum == 300L)
    assert(store.loadSeen(spark, 0).count() == 300L)
    // CURRENT overwrite-flip (FileContext rename) across a second commit
    store.commit(spark, 1, spark.createDataset(es).toDF(),
      spark.createDataset(Seq.empty[String]).toDF("canonicalUrl"), 300L, 0L, 0L, "uri-run")
    assert(store.current().contains(1))
    // compact + expire exercise rename/delete through the fs layer
    store.compact(spark, 1)
    assert(store.expire(1) == 1)
    assert(store.loadSeen(spark, 1).count() == 300L)
  }

  test("loadFrontier full read is unaffected by the clustered layout") {
    val (store, es) = committedStore(500)
    val got = store.loadFrontier(spark, 0).collect().map(_.getAs[String]("canonicalUrl")).sorted
    assert(got.toSeq == es.map(_.canonicalUrl).sorted)
  }
}

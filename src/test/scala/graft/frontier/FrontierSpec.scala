package graft.frontier

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.model.{FrontierEntry, HostBudget}
import graft.crawl.CrawlEngine

class FrontierSpec extends AnyFunSuite with SharedSpark {

  private def entry(i: Long, host: String = "site0.com", depth: Int = 1): FrontierEntry = {
    val c = s"https://$host/p$i"
    FrontierEntry(c, c, depth, "", host, 1, CrawlEngine.urlHash(c))
  }

  test("newOnly small path (exact anti-join) removes seen") {
    import spark.implicits._
    val candidates = spark.createDataset((0L until 100L).map(entry(_)))
    val seen = (0L until 50L).map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    val out = Frontier.newOnly(spark, candidates, seen, 50L).collect()
    assert(out.length == 50)
    assert(out.forall(e => e.canonicalUrl.drop("https://site0.com/p".length).toLong >= 50))
  }

  test("newOnly bloom path (seen > threshold): exact result despite false positives") {
    import spark.implicits._
    val n = Frontier.BloomThreshold + 5000 // force the bloom branch
    val seenIds = (0L until n)
    val seen = seenIds.map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    // candidates: half seen, half new
    val candidates = spark.createDataset(
      (0L until n by 2).map(entry(_)) ++ (n until n + 3000L).map(entry(_)))
    val out = Frontier.newOnly(spark, candidates, seen, n).collect()
    val ids = out.map(_.canonicalUrl.drop("https://site0.com/p".length).toLong).sorted
    assert(ids.toSeq == (n until n + 3000L), "bloom pre-filter must not lose or leak rows")
  }

  test("bounded bloom: bit budget caps the sketch; capped and skipped paths stay exact") {
    import spark.implicits._
    val n = Frontier.BloomThreshold + 5000
    val seen = (0L until n).map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    val candidates = spark.createDataset(
      (0L until n by 2).map(entry(_)) ++ (n until n + 2000L).map(entry(_)))
    val expected = (n until n + 2000L).toSeq
    // (a) budget forces a much smaller bloom than optimal but still useful fpp
    val capped = Frontier.newOnly(spark, candidates, seen, n, maxBloomBits = 1L << 16)
      .collect().map(_.canonicalUrl.drop("https://site0.com/p".length).toLong).sorted
    assert(capped.toSeq == expected, "capped bloom must not lose or leak rows")
    // (b) budget so small the bloom is useless → skip path (pure anti-join)
    assert(Frontier.estimatedFpp(n, 64) > Frontier.BloomSkipFpp)
    val skipped = Frontier.newOnly(spark, candidates, seen, n, maxBloomBits = 64)
      .collect().map(_.canonicalUrl.drop("https://site0.com/p".length).toLong).sorted
    assert(skipped.toSeq == expected, "bloom-skip fallback must be exact")
  }

  test("SeenBloom: incrementally-merged sketch is exact across waves, including a capacity rebuild") {
    import spark.implicits._
    val sb = new Frontier.SeenBloom()
    val n0 = Frontier.BloomThreshold + 2000
    // wave 1: first crossing of the threshold → full build sized 4×
    var seenIds = (0L until n0).toVector
    var seen = seenIds.map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    val sel1 = spark.createDataset(seenIds.takeRight(500).map(entry(_))).toDF()
    val s1 = sb.update(sel1, 500, n0, seen)
    assert(s1.isDefined, "above threshold must yield a sketch")
    // waves 2..4: deltas merged into the carried sketch — result of the
    // split filter must equal the exact anti-join every wave
    var next = n0
    for (w <- 2 to 4) {
      val delta = (next until next + 700L).toVector
      val selected = spark.createDataset(delta.map(entry(_))).toDF()
      seenIds = seenIds ++ delta
      seen = seenIds.map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
      next += 700
      val sk = sb.update(selected, 700, seenIds.length, seen)
      assert(sk.isDefined)
      // candidates: a mix of seen (must all drop) and new (must all pass)
      val cands = spark.createDataset(
        (0L until next by 97L).map(entry(_)) ++ (next until next + 300L).map(entry(_)))
      val got = Frontier.newOnlyWithSketch(cands, seen, sk).collect()
        .map(_.canonicalUrl.drop("https://site0.com/p".length).toLong).sorted
      assert(got.toSeq == (next until next + 300L),
        s"wave $w: sketch split must not lose (false negative) or leak rows")
    }
    // capacity overflow: a giant delta exceeds the 4× headroom → rebuild
    // from the full union, still exact
    val big = (next until next + 5 * n0).toVector
    val selectedBig = spark.createDataset(big.map(entry(_))).toDF()
    seenIds = seenIds ++ big
    seen = seenIds.map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    next += 5 * n0
    val sk = sb.update(selectedBig, big.length, seenIds.length, seen)
    assert(sk.isDefined)
    val cands = spark.createDataset(
      (0L until next by 997L).map(entry(_)) ++ (next until next + 200L).map(entry(_)))
    val got = Frontier.newOnlyWithSketch(cands, seen, sk).collect()
      .map(_.canonicalUrl.drop("https://site0.com/p".length).toLong).sorted
    assert(got.toSeq == (next until next + 200L), "post-rebuild sketch must stay exact")
  }

  test("newOnlyWithSketch(None) is the pure exact anti-join") {
    import spark.implicits._
    val candidates = spark.createDataset((0L until 100L).map(entry(_)))
    val seen = (0L until 50L).map(i => s"https://site0.com/p$i").toDF("canonicalUrl")
    val out = Frontier.newOnlyWithSketch(candidates, seen, scala.None).collect()
    assert(out.length == 50 &&
      out.forall(_.canonicalUrl.drop("https://site0.com/p".length).toLong >= 50))
  }

  test("estimatedFpp: design-point sanity (10^10 seen never builds a 12 GB driver sketch)") {
    // at the stated 10^10-URL design point the default budget (2^32 bits)
    // yields a useless bloom → the skip rule engages instead of a driver OOM
    assert(Frontier.estimatedFpp(10000000000L, Frontier.DefaultMaxBloomBits) > Frontier.BloomSkipFpp)
    // at 10^8 seen the capped bloom is still a worthwhile pre-filter
    assert(Frontier.estimatedFpp(100000000L, Frontier.DefaultMaxBloomBits) < 0.05)
    // near-optimal sizing reproduces the configured fpp within 2x
    val m = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(1000000L, Frontier.BloomFpp)
    assert(Frontier.estimatedFpp(1000000L, m) < Frontier.BloomFpp * 2)
  }

  test("dedupeWave keeps min-depth, then lexicographically smallest url/parent") {
    import spark.implicits._
    val c = "https://site0.com/x"
    val entries = Seq(
      FrontierEntry(c, c + "?b", 2, "https://p2", "site0.com", 1, 1L),
      FrontierEntry(c, c + "?a", 2, "https://p1", "site0.com", 1, 1L),
      FrontierEntry(c, c + "?c", 1, "https://p9", "site0.com", 1, 1L))
    val out = Frontier.dedupeWave(spark, spark.createDataset(entries)).collect()
    assert(out.length == 1)
    assert(out.head.depth == 1 && out.head.url == c + "?c")
    // same-depth case: smallest url wins
    val out2 = Frontier.dedupeWave(spark, spark.createDataset(entries.take(2))).collect()
    assert(out2.head.url == c + "?a")
  }

  /** URL pieces that straddle the UTF-16 / UTF-8 order split: ASCII, BMP
    * characters at or above U+E000 (private use, fullwidth, U+FFFD), and
    * supplementary-plane characters (surrogate pairs in UTF-16). */
  private val orderPieces = Seq("a", "b", "/", "\uE000", "\uFF21", "\uFFFD", "\u00E9",
    "\uD83D\uDE00", "\uD835\uDD38", "\uD800\uDC00")
  private def orderString(g: scala.util.Random, prefix: String): String =
    prefix + Seq.fill(1 + g.nextInt(3))(orderPieces(g.nextInt(orderPieces.length))).mkString

  test("utf8Order is unsigned UTF-8 byte order (and differs from UTF-16 order)") {
    val g = new scala.util.Random(7)
    var utf16Differs = 0
    (1 to 5000).foreach { _ =>
      val a = orderString(g, "https://h/")
      val b = orderString(g, "https://h/")
      val bytes = java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(Integer.signum(Frontier.utf8Order.compare(a, b)) == Integer.signum(bytes), s"$a vs $b")
      if (Integer.signum(a.compareTo(b)) != Integer.signum(bytes)) utf16Differs += 1
    }
    assert(utf16Differs > 0, "the sample must contain pairs the UTF-16 order gets wrong")
  }

  test("dedupeWave equals a fold of merge on supplementary-plane URLs") {
    import spark.implicits._
    Seq(1, 2, 3).foreach { seed =>
      val g = new scala.util.Random(seed)
      val entries = (0 until 300).flatMap { k =>
        val c = s"https://site0.com/c$k"
        Seq.fill(2 + g.nextInt(4)) {
          FrontierEntry(c, orderString(g, c), 1 + g.nextInt(2), orderString(g, "https://p/"),
            "site0.com", 1, CrawlEngine.urlHash(c))
        }
      }
      val shuffled = g.shuffle(entries)
      val folded = shuffled.groupBy(_.canonicalUrl).values
        .map(_.reduce(Frontier.merge[FrontierEntry] _)).toSet
      val waved = Frontier.dedupeWave(spark, spark.createDataset(shuffled).repartition(4))
        .collect().toSet
      assert(waved == folded, s"seed $seed: dedupeWave and fold(merge) pick different winners")
    }
  }

  test("politenessSelectBudgets: per-host overrides, default elsewhere, salting-invariant") {
    import spark.implicits._
    val entries = for {
      h <- 0 until 3
      i <- 0 until 40
    } yield {
      val c = s"https://site$h.com/${"d/" * (i % 5)}p$i"
      FrontierEntry(c, c, 1, "", s"site$h.com", i % 5, CrawlEngine.urlHash(c))
    }
    val ds = spark.createDataset(entries)
    val budgets = spark.createDataset(Seq(
      graft.model.HostBudget("site0.com", 2),
      graft.model.HostBudget("site2.com", 0)))
    val out = Frontier.politenessSelectBudgets(spark, ds, budgets, defaultBudget = 7, salts = 8)
      .collect()
    val byHost = out.groupBy(_.host).view.mapValues(_.map(_.canonicalUrl).sorted.toSeq).toMap
    assert(byHost.getOrElse("site0.com", Seq.empty).size == 2)
    assert(byHost.getOrElse("site1.com", Seq.empty).size == 7, "absent host uses default")
    assert(!byHost.contains("site2.com"), "zero budget starves the host")
    // overridden hosts still select the TRUE top-k under their budget
    val expected0 = entries.filter(_.host == "site0.com")
      .sorted(Frontier.priorityOrdering).take(2).map(_.canonicalUrl).sorted.toSeq
    assert(byHost("site0.com") == expected0)
    // salting must not change the selected set
    val unsalted = Frontier.politenessSelectBudgets(spark, ds, budgets, 7, salts = 1)
      .collect().map(_.canonicalUrl).sorted.toSeq
    assert(out.map(_.canonicalUrl).sorted.toSeq == unsalted)
  }

  /** Seed-fixed ScalaCheck sampling: `n` cases of `g`. */
  private def forAll[A](n: Int, g: Gen[A])(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  /** Bounded-heap top-k under the total priority order: the selection's
    * per-group kernel as it read before the codegen window. */
  private def heapTopK(it: Iterator[FrontierEntry], k: Int): Vector[FrontierEntry] = {
    if (k <= 0) return Vector.empty
    val heap = new java.util.PriorityQueue[FrontierEntry](k, Frontier.priorityOrdering.reverse)
    it.foreach { e =>
      if (heap.size < k) heap.add(e)
      else if (Frontier.priorityOrdering.lt(e, heap.peek())) { heap.poll(); heap.add(e) }
    }
    Vector.fill(heap.size)(heap.poll()).reverse
  }

  /** The selection as it read before the codegen window: a salted
    * per-(host, salt) heap top-k at the default budget, then each host's
    * heap top-k under its smallest listed budget clamped to the default
    * (the engine's min-merge of budget sources, then the typed cogroup). */
  private def referenceSelect(entries: Seq[FrontierEntry], budgets: Seq[HostBudget],
                              default: Int, salts: Int): Set[FrontierEntry] = {
    val phase1 =
      if (salts <= 1) entries
      else entries.groupBy(e => (e.host, java.lang.Long.remainderUnsigned(e.urlHash, salts.toLong)))
        .values.flatMap(g => heapTopK(g.iterator, default)).toSeq
    val budgetOf = budgets.groupBy(_.host).view.mapValues(_.map(_.budget).min).toMap
    phase1.groupBy(_.host).flatMap { case (h, es) =>
      heapTopK(es.iterator, math.max(0, math.min(budgetOf.getOrElse(h, default), default)))
    }.toSet
  }

  /** A frontier (one entry per canonical URL) over skewed hosts: one giant
    * host holds most entries; paths mix supplementary-plane characters, and
    * hashes collide often so the tie-breaks decide. */
  private val frontierGen: Gen[Seq[FrontierEntry]] = for {
    n <- Gen.choose(1, 400)
    hostIx <- Gen.listOfN(n, Gen.frequency(6 -> Gen.const(0), 4 -> Gen.choose(1, 6)))
    depths <- Gen.listOfN(n, Gen.choose(0, 3))
    pathDepths <- Gen.listOfN(n, Gen.choose(0, 5))
    hashes <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 5L), Gen.choose(Long.MinValue, Long.MaxValue)))
    salt <- Gen.choose(0, 1000)
  } yield {
    val g = new scala.util.Random(salt)
    hostIx.indices.map { i =>
      val host = s"site${hostIx(i)}.com"
      val c = orderString(g, s"https://$host/$i/")
      FrontierEntry(c, c, depths(i), "", host, pathDepths(i), hashes(i))
    }
  }

  private val budgetsGen: Gen[Seq[HostBudget]] =
    Gen.listOf(Gen.zip(Gen.choose(0, 7), Gen.choose(0, 12))).map(_.map { case (h, b) =>
      HostBudget(s"site$h.com", b)
    })

  test("property: politenessSelectBudgets equals the salted heap top-k + budget cogroup") {
    import spark.implicits._
    val gen = for {
      es <- frontierGen
      bs <- budgetsGen
      default <- Gen.choose(1, 9)
      salts <- Gen.oneOf(1, 4, 8)
    } yield (es, bs, default, salts)
    forAll(12, gen) { case (es, bs, default, salts) =>
      val got = Frontier.politenessSelectBudgets(spark, spark.createDataset(es).repartition(3),
        spark.createDataset(bs), default, salts).collect().toSet
      assert(got == referenceSelect(es, bs, default, salts),
        s"${es.size} entries, budgets $bs, default $default, salts $salts")
    }
  }

  test("property: nextFrontier equals dedupeWave then the seen filter, with and without a sketch") {
    import spark.implicits._
    val gen = for {
      es <- frontierGen
      dupes <- Gen.choose(0, 3)
      seenShare <- Gen.choose(0, 10)
      salt <- Gen.choose(0, 1000)
    } yield (es, dupes, seenShare, salt)
    forAll(10, gen) { case (es, dupes, seenShare, salt) =>
      val g = new scala.util.Random(salt)
      // rediscoveries of the same canonical under other spellings and parents
      val candidates = es ++ es.flatMap(e => Seq.fill(g.nextInt(dupes + 1))(
        e.copy(url = orderString(g, e.canonicalUrl), depth = g.nextInt(4),
          parentUrl = orderString(g, "https://p/"))))
      val seenUrls = es.filter(_ => g.nextInt(10) < seenShare).map(_.canonicalUrl)
      val seen = seenUrls.toDF("canonicalUrl")
      val cands = spark.createDataset(g.shuffle(candidates)).repartition(3)
      val reference = Frontier.newOnlyWithSketch(Frontier.dedupeWave(spark, cands), seen, scala.None)
        .collect().toSet
      // a loose sketch, so false positives take the exact path too
      val sketch = org.apache.spark.util.sketch.BloomFilter.create(1000L, 0.3)
      seenUrls.foreach(sketch.putString)
      for (s <- Seq(scala.None, Some(sketch)))
        assert(Frontier.nextFrontier(cands, seen, s).collect().toSet == reference,
          s"${candidates.size} candidates, sketch=${s.isDefined}")
    }
  }

  test("newOnly bloom split equals the exact anti-join (53 hosts)") {
    import spark.implicits._
    val n = 30000 // past BloomThreshold so the sketch path engages
    val entries = (0 until n).map { i =>
      val c = s"https://s${i % 53}.com/page$i"
      FrontierEntry(c, c, 1, "", s"s${i % 53}.com", 2, CrawlEngine.urlHash(c))
    }
    val candidates = spark.createDataset(entries)
    val seen = spark.createDataset(entries.indices.collect { case i if i % 3 == 0 => entries(i).canonicalUrl })
      .toDF("canonicalUrl")
    val seenCount = seen.count()
    val exact = candidates.join(seen, Seq("canonicalUrl"), "left_anti")
      .collect().map(_.getAs[String]("canonicalUrl")).sorted
    val viaBloom = Frontier.newOnly(spark, candidates, seen, seenCount)
      .collect().map(_.canonicalUrl).sorted
    assert(viaBloom.toSeq == exact.toSeq)
  }

  test("politenessSelect: exact global per-host top-k under salting") {
    import spark.implicits._
    // 3 hosts × 40 urls with varying priorities
    val entries = for {
      h <- 0 until 3
      i <- 0 until 40
    } yield {
      val c = s"https://site$h.com/${"d/" * (i % 5)}p$i"
      FrontierEntry(c, c, 1, "", s"site$h.com", i % 5, CrawlEngine.urlHash(c))
    }
    val ds = spark.createDataset(entries)
    val unsalted = Frontier.politenessSelect(spark, ds, budget = 7, salts = 1)
      .collect().map(_.canonicalUrl).sorted
    val salted = Frontier.politenessSelect(spark, ds, budget = 7, salts = 8)
      .collect().map(_.canonicalUrl).sorted
    assert(unsalted.length == 21)
    assert(salted.toSeq == unsalted.toSeq, "salting must not change the selected set")
    // and it's the true top-k per host
    val expected = entries.groupBy(_.host).values.flatMap(
      _.sorted(Frontier.priorityOrdering).take(7)).map(_.canonicalUrl).toSeq.sorted
    assert(unsalted.toSeq == expected)
  }
}

package graft.frontier

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.model.{FrontierEntry, HostBudget}

/** Frontier/seen-set machinery: the reference's atomic check-and-insert
  * DashSet (url_queue.rs:52-70) and visited HashSet
  * (crawler_service.rs:510-625) collapse into ONE persisted seen table plus
  * an anti-join, with a broadcast bloom pre-filter so the 10^10-row link
  * stream doesn't shuffle against the full seen table every wave
  * (SURVEY.md §2.4, §4 "Dedup atomic check-and-insert").
  */
object Frontier extends Serializable {

  /** Above this seen-set size, build a bloom filter and split candidates:
    * definite-new rows (bloom negative) skip the shuffle entirely; only
    * bloom-positive rows do the exact anti-join (false-positive safe). */
  val BloomThreshold = 10000L
  val BloomFpp = 0.01

  /** Hard ceiling on the bloom sketch (bits). The sketch lives on the driver
    * and is broadcast every wave, so it must NOT scale with the seen-set: at
    * the 10^10-URL design point an uncapped 1% bloom is ~12 GB — a driver
    * OOM. 2^32 bits = 512 MiB keeps the broadcast bounded; past the ceiling
    * the fpp degrades gracefully (false positives only cost exact-anti-join
    * traffic, never correctness), and once the capped sketch would pass
    * [[BloomSkipFpp]] it filters so little that the co-partitioned exact
    * anti-join alone is the better plan, so the bloom is skipped entirely. */
  val DefaultMaxBloomBits: Long = 1L << 32
  val BloomSkipFpp = 0.5

  /** Expected false-positive rate of an `m`-bit bloom holding `n` items with
    * the optimal hash count for that load (standard fpp formula). */
  def estimatedFpp(n: Long, m: Long): Double = {
    if (n <= 0) return 0.0
    if (m <= 0) return 1.0
    val k = math.max(1, math.round(m.toDouble / n * math.log(2.0))).toInt
    math.pow(1.0 - math.exp(-k.toDouble * n / m), k)
  }

  /** One-shot seen filter: sizes a bloom over the full `seen` table (capped at
    * `maxBloomBits`) and hands it to [[newOnlyWithSketch]]. */
  def newOnly(
      spark: SparkSession,
      candidates: Dataset[FrontierEntry],
      seen: DataFrame,
      seenCount: Long,
      maxBloomBits: Long = DefaultMaxBloomBits
  ): Dataset[FrontierEntry] = {
    if (seenCount == 0) return candidates
    val capacity = math.max(seenCount, 1000L)
    val bits = math.min(BloomFilter.optimalNumOfBits(capacity, BloomFpp), maxBloomBits)
    // below the threshold, or when the budget-capped bloom would pass >50%
    // of candidates anyway: pure exact anti-join, no driver sketch at all
    val bloom =
      if (seenCount < BloomThreshold || estimatedFpp(seenCount, bits) > BloomSkipFpp) scala.None
      else Some(seen.stat.bloomFilter("canonicalUrl", capacity, bits))
    newOnlyWithSketch(candidates, seen, bloom)
  }

  /** Incrementally-maintained seen-set bloom: the per-wave sketch cost a
    * 10^10-URL crawl can actually afford. [[newOnly]] rebuilds its bloom
    * from the FULL seen table every wave — an O(total-seen) scan per wave
    * that dwarfs the wave itself once the crawl is deep. This maintainer
    * instead sizes the sketch once with headroom (4× the seen count at
    * build time) and folds each wave's SELECTED urls in as a delta sketch
    * built from the wave-sized cache (identical (bits, hashes) parameters,
    * so `mergeInPlace` is exact) — O(wave) per wave, O(log) full rebuilds
    * over a crawl's lifetime. No false negatives by construction: the
    * carried filter holds every previously-seen url, the delta holds this
    * wave's, and a rebuild reads the full newSeen union. False positives
    * only cost exact-anti-join traffic, never correctness — the same
    * contract as [[newOnly]]'s per-wave sketch. Returns None (→ caller
    * takes the pure exact anti-join) below the threshold or when the
    * bit-capped sketch would pass > [[BloomSkipFpp]] anyway. */
  final class SeenBloom extends Serializable {
    // (filter, bits, design capacity, items inserted)
    private var state: Option[(BloomFilter, Long, Long, Long)] = scala.None

    def update(
        selected: DataFrame,
        selCount: Long,
        seenCount: Long,
        newSeen: DataFrame): Option[BloomFilter] = {
      if (seenCount < BloomThreshold) scala.None
      else state match {
        case Some((bf, bits, cap, ins)) if ins + selCount <= cap =>
          // stat.bloomFilter allocates a full bits-sized sketch PER TASK and
          // ORs them — cost O(bits × tasks), not O(wave rows). The wave is
          // small by definition; narrow it to a handful of tasks so the
          // delta costs a wave-scan plus ~4 sketch merges.
          val delta = selected.coalesce(4).stat.bloomFilter("canonicalUrl", cap, bits)
          bf.mergeInPlace(delta)
          state = Some((bf, bits, cap, ins + selCount))
          Some(bf)
        case _ =>
          val cap = math.max(seenCount * 4, BloomThreshold * 4)
          val bits = math.min(BloomFilter.optimalNumOfBits(cap, BloomFpp), DefaultMaxBloomBits)
          if (estimatedFpp(seenCount, bits) > BloomSkipFpp) { state = scala.None; scala.None }
          else {
            val bf = newSeen.stat.bloomFilter("canonicalUrl", cap, bits)
            state = Some((bf, bits, cap, seenCount))
            Some(bf)
          }
      }
    }
  }

  /** The one seen-set split, shared by [[newOnly]]'s one-shot bloom and the
    * engine's carried [[SeenBloom]]: None → the pure exact anti-join; Some →
    * sketch-negative rows skip the shuffle, sketch-positive rows verify
    * exactly, so false positives cost traffic, never correctness. */
  def newOnlyWithSketch(
      candidates: Dataset[FrontierEntry],
      seen: DataFrame,
      sketch: Option[BloomFilter]): Dataset[FrontierEntry] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    sketch match {
      case scala.None =>
        candidates.join(seen, Seq("canonicalUrl"), "left_anti").as[FrontierEntry]
      case Some(bloom) =>
        val bcast = spark.sparkContext.broadcast(bloom)
        val definitelyNew = candidates.filter(e => !bcast.value.mightContainString(e.canonicalUrl))
        val maybeSeen = candidates.filter(e => bcast.value.mightContainString(e.canonicalUrl))
          .join(seen, Seq("canonicalUrl"), "left_anti").as[FrontierEntry]
        definitelyNew.union(maybeSeen)
    }
  }

  /** The dedup MERGE rule: which representative survives when two
    * discoveries share a canonical URL — min depth, then smallest url, then
    * smallest parentUrl, strings compared as UTF-8 bytes ([[utf8Order]], the
    * order [[dedupeWave]]'s `min(struct)` uses). A total, order-independent
    * choice (the reference's nondeterministic HashSet first-wins is replaced
    * by this spec, SURVEY.md §7.5). Generic over [[graft.model.LinkMergeKey]]
    * so the batch engine and the streaming twins (StreamingScheduler,
    * StreamingFrontier) share ONE definition — their parity is by
    * construction, not by copy. */
  def merge[T <: graft.model.LinkMergeKey](a: T, b: T): T =
    if (a.depth != b.depth) { if (a.depth < b.depth) a else b }
    else if (a.url != b.url) { if (utf8Order.lt(a.url, b.url)) a else b }
    else if (utf8Order.lteq(a.parentUrl, b.parentUrl)) a else b

  /** Unsigned UTF-8 byte order on strings — Spark's `UTF8String` order, so
    * the order of SQL `min`/`max`/sorts ([[dedupeWave]], [[priorityCols]]).
    * It equals code-point order, which differs from `String.compareTo`'s
    * UTF-16 order only when a supplementary-plane character (a surrogate
    * pair, 0xD800–0xDFFF) meets a BMP character at or above 0xE000: at the
    * first differing UTF-16 unit, surrogates are moved above that range. */
  val utf8Order: Ordering[String] = new Ordering[String] {
    private def rank(c: Char): Int =
      if (c >= '\uE000') c - 0x800 else if (c >= '\uD800') c + 0x2000 else c
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) Integer.compare(a.length, b.length)
      else Integer.compare(rank(a.charAt(i)), rank(b.charAt(i)))
    }
  }

  /** Deterministic within-wave dedup: one entry per canonical URL under
    * [[merge]], computed as a codegen struct-argmin: [[merge]]'s total
    * order is (depth, url, parentUrl), and the remaining fields
    * (host, pathDepth, urlHash) are functions of canonicalUrl — identical
    * across the group — so `min(struct(depth, url, parentUrl, …))` IS the
    * merge winner, with map-side partial aggregation over unsafe rows
    * instead of a typed object reduceGroups (no per-row serde in the
    * per-wave hot path; round-6 optimization). */
  def dedupeWave(spark: SparkSession, links: Dataset[FrontierEntry]): Dataset[FrontierEntry] = {
    import spark.implicits._
    entries(links.toDF().groupBy("canonicalUrl").agg(min(mergeKey).as("m"))).as[FrontierEntry]
  }

  /** [[FrontierEntry]]'s columns, in its field order. */
  val EntryColumns: Seq[String] =
    Seq("canonicalUrl", "url", "depth", "parentUrl", "host", "pathDepth", "urlHash")

  /** A frontier entry as the struct whose minimum is the [[merge]] winner. */
  private def mergeKey = struct(col("depth"), col("url"), col("parentUrl"),
    col("host"), col("pathDepth"), col("urlHash"))

  /** Frontier-entry columns from a `canonicalUrl` column and a [[mergeKey]] struct `m`. */
  private def entries(byCanonical: DataFrame): DataFrame =
    byCanonical.select(col("canonicalUrl"), col("m.url").as("url"),
      col("m.depth").as("depth"), col("m.parentUrl").as("parentUrl"),
      col("m.host").as("host"), col("m.pathDepth").as("pathDepth"),
      col("m.urlHash").as("urlHash"))

  /** The next frontier: one entry per canonical URL of `candidates` under
    * [[merge]], minus every canonical URL in `seen` — equal to
    * `newOnlyWithSketch(dedupeWave(candidates), seen, sketch)`. Without a
    * sketch the dedupe and the seen filter share ONE exchange keyed by
    * canonical URL: seen rows join the group as markers (a null entry),
    * and a group with a marker is dropped, so every seen row is shuffled
    * once, as the exact anti-join shuffles it. With a sketch the
    * [[newOnlyWithSketch]] split stands: sketch-negative rows skip the seen
    * side entirely. */
  def nextFrontier(candidates: Dataset[FrontierEntry], seen: DataFrame,
                   sketch: Option[BloomFilter]): Dataset[FrontierEntry] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    if (sketch.isDefined) newOnlyWithSketch(dedupeWave(spark, candidates), seen, sketch)
    else {
      val marker = lit(null).cast(candidates.toDF().select(mergeKey).schema.head.dataType)
      val grouped = candidates.toDF().select(col("canonicalUrl"), mergeKey.as("m"))
        .union(seen.select(col("canonicalUrl"), marker.as("m")))
        .groupBy("canonicalUrl")
        .agg(min(col("m")).as("m"), max(col("m").isNull).as("seen"))
      entries(grouped.filter(!col("seen"))).as[FrontierEntry]
    }
  }

  /** The documented deterministic priority: (depth asc, pathDepth desc,
    * urlHash asc, canonicalUrl asc) — total order (SURVEY.md §2.6;
    * reference's sorted path is batch_processor.rs:56-65, depth-first by
    * path specificity; hash+canonical tie-breaks are our spec; canonicalUrl
    * compares as UTF-8 bytes, as in [[priorityCols]]). Generic for the same
    * single-source-of-truth reason as [[merge]]. */
  def priorityOrder[T <: graft.model.LinkPriorityKey]: Ordering[T] =
    Ordering.by((e: T) => (e.depth, -e.pathDepth, e.urlHash, e.canonicalUrl))(
      Ordering.Tuple4(Ordering.Int, Ordering.Int, Ordering.Long, utf8Order))

  val priorityOrdering: Ordering[FrontierEntry] = priorityOrder[FrontierEntry]

  def priorityCols = Seq(col("depth").asc, col("pathDepth").desc, col("urlHash").asc, col("canonicalUrl").asc)

  /** Per-host politeness budget: deterministic top-k within each host by the
    * priority order — EXACTLY the global per-host top-k, independent of
    * partitioning. `salts` is not read: the partial per-partition group
    * limit below bounds every host group (see [[politenessSelectBudgets]]). */
  def politenessSelect(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      budget: Int,
      salts: Int
  ): Dataset[FrontierEntry] = {
    import spark.implicits._
    politenessSelectBudgets(spark, frontier, spark.emptyDataset[HostBudget], budget, salts)
  }

  /** [[politenessSelect]] with ADAPTIVE per-host budgets: each host's cap
    * comes from `budgets` (hosts absent from the table use `defaultBudget`;
    * a host listed twice takes its smallest budget; the engine keeps the
    * table sparse by dropping hosts back at the max). Budgets are
    * THROTTLES: values above `defaultBudget` are clamped to it.
    *
    * Scale shape: one codegen window ranks each host's entries by
    * [[priorityCols]], and the literal bound `rank <= defaultBudget` lets
    * Spark plan it as a two-phase group limit: every map partition keeps
    * only its top `defaultBudget` rows per host before the exchange, so a
    * giant host reaches its one task as at most partitions × default rows.
    * Spark plans that partial limit only while `defaultBudget` is at most
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default);
    * above it a host's whole frontier reaches its task, sorted with
    * spills. The budget table joins only the survivors; an empty table is
    * pruned from the plan. No typed (de)serializer runs. `salts` is not
    * read. */
  def politenessSelectBudgets(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      budgets: Dataset[HostBudget],
      defaultBudget: Int,
      salts: Int
  ): Dataset[FrontierEntry] = {
    import spark.implicits._
    val byPriority = Window.partitionBy("host").orderBy(priorityCols: _*)
    val top = frontier.toDF()
      .withColumn("hostRank", row_number().over(byPriority))
      .filter(col("hostRank") <= defaultBudget)
    val perHost = budgets.toDF().groupBy("host").agg(min("budget").as("budget"))
    val k = least(coalesce(col("budget"), lit(defaultBudget)), lit(defaultBudget))
    top.join(perHost, Seq("host"), "left")
      .filter(col("hostRank") <= k)
      .select(EntryColumns.map(col): _*)
      .as[FrontierEntry]
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection family for training-data curation: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design: signatures are computed in one typed pass (no shuffle);
  * candidate generation shuffles only (band, bucket, id) triples — the
  * classic banding trick keeps the self-join off the full corpus. Exact
  * Jaccard runs ONLY on LSH candidates. All hashing is xxhash64 with fixed
  * seeds — deterministic across partitionings and parallelism levels.
  */
object Dedup {

  private val WsSplit = java.util.regex.Pattern.compile("\\s+")

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // Bands * RowsPerBand == NumHashes
  val ShingleSize = 3

  require(Bands * RowsPerBand == NumHashes)

  /** xxhash64 of a string with a given seed (signature permutations). */
  private def hashSeed(s: String, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), seed)

  /** Word 3-gram shingles of a document. */
  def shingles(text: String, n: Int = ShingleSize): Set[String] = {
    val words = WsSplit.split(text).filter(_.nonEmpty)
    if (words.length < n) Set(words.mkString(" "))
    else words.sliding(n).map(_.mkString(" ")).toSet
  }

  /** MinHash signature: for each of k seeded hash functions, the minimum
    * hash over the document's shingles. The shingle is UTF-8-encoded ONCE
    * and hashed under all k seeds — `hashSeed` per seed would re-encode
    * the same string k times (the values are identical either way; this is
    * the hot loop of every MinHash-family query). */
  def minhashSignature(text: String, k: Int = NumHashes): Array[Long] = {
    val sh = shingles(text)
    val sig = Array.fill(k)(Long.MaxValue)
    sh.foreach { s =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      var i = 0
      while (i < k) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, i + 1L)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  final case class DocSig(doc_id: Long, sig: Array[Long])
  final case class BandBucket(doc_id: Long, band: Int, bucket: Long)

  /** (doc_id, band, bucket) rows — the LSH index. Deterministic. */
  def lshBuckets(spark: SparkSession, docs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): Dataset[BandBucket] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => DocSig(id, minhashSignature(text)) })
      .flatMap { ds =>
        (0 until Bands).iterator.map { b =>
          val slice = ds.sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand)
          BandBucket(ds.doc_id, b, hashSeed(slice.mkString(","), 0x5eedL))
        }
      }
  }

  final case class CandidatePair(a: Long, b: Long)

  /** A (band,bucket) group larger than this emits a STAR on the bucket
    * minimum PLUS a sorted-adjacent CHAIN instead of all pairs: N
    * identical-band docs — ubiquitous boilerplate clusters in web corpora —
    * must cost O(N) candidates, never N². This cap is a LOSSY fallback by
    * construction: an edge survives only if one of its 2(N-1) candidate
    * pairings verifies, so a member-member near-dup whose star/chain
    * candidates all fail Jaccard can be missed in a degenerate bucket
    * (exact duplicates never reach here — the md5 pre-pass removed them —
    * so capped buckets are boilerplate collisions where all-pairs
    * enumeration is precisely the quadratic being defused). */
  val MaxBucket = 2000

  /** Candidate pairs: documents sharing any (band, bucket). The groupByKey
    * is on bucket ids — shuffle payload is 3 longs per (doc, band). Buckets
    * over `maxBucket` are capped to a star (see [[MaxBucket]]); pass
    * `cappedBuckets` to count how many buckets were capped. */
  def candidatePairs(spark: SparkSession, buckets: Dataset[BandBucket],
                     maxBucket: Int = MaxBucket,
                     cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = scala.None
                    ): Dataset[CandidatePair] = {
    import spark.implicits._
    buckets
      .groupByKey(bb => (bb.band, bb.bucket))
      .flatMapGroups { (_, it) =>
        val ids = it.map(_.doc_id).toArray.sorted
        if (ids.length > maxBucket) {
          cappedBuckets.foreach(_.add(1L))
          val anchor = ids(0)
          // star (anchor reaches everyone) + chain (adjacent ids reach each
          // other): 2(N-1) candidates, twice the survival chances of a bare
          // star at the same O(N) cost
          ids.iterator.drop(1).map(b => CandidatePair(anchor, b)) ++
            ids.iterator.zip(ids.iterator.drop(1)).map { case (a, b) => CandidatePair(a, b) }
        } else {
          for { i <- ids.indices.iterator; j <- (i + 1) until ids.length }
            yield CandidatePair(ids(i), ids(j))
        }
      }
      .distinct()
  }

  final case class VerifiedPair(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Near-duplicate edge set: exact-duplicate edges (identical text,
    * jaccard 1.0, member→group-minimum star) plus shingle-Jaccard-verified
    * LSH pairs ≥ threshold among the exact-group REPRESENTATIVES.
    *
    * The exact pre-pass is the quadratic-bucket defuse: a cluster of N
    * byte-identical documents — ubiquitous in web corpora — would land in
    * the same LSH bucket in all bands and cost ~bands·N² candidate pairs;
    * grouping by md5 first feeds ONE representative per identical-text group
    * to LSH and links the rest with O(N) exact edges. Identical texts have
    * identical shingle sets, so the representative's verified pairs stand in
    * for every member: the output's connected components equal those of the
    * full pairwise near-dup graph (the property the keep-list consumes),
    * though redundant member-level near-dup pairs are not enumerated.
    *
    * Verification joins candidates back to texts twice (both joins are on
    * ids — hash joins on the narrow pair table). */
  def verifiedNearDups(spark: SparkSession, docs: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text"): Dataset[VerifiedPair] = {
    import spark.implicits._
    val texts = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // exact pre-pass on (md5, id) KEYS only — the multi-KB text column never
    // enters these shuffles (no collect_list either: a giant identical-text
    // group must never materialize as one wide row)
    val keys = docs.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("h"))
    val reps = keys.groupBy("h").agg(min("id").as("rep"))
    val dupMembers = keys.join(reps, Seq("h")).filter(col("id") =!= col("rep"))
    val exactEdges = dupMembers
      .select(col("rep").as("doc_a"), col("id").as("doc_b"), lit(1.0).as("jaccard"))
      .as[VerifiedPair]
    // representatives = everyone minus dup members; the dup-member table is
    // tiny in real corpora, so this anti-join broadcasts (AQE) instead of
    // shuffling the text column
    val repTexts = texts.join(dupMembers.select("id"), Seq("id"), "left_anti")
    val cands = candidatePairs(spark, lshBuckets(spark, repTexts, "id", "text"))
    val verified = cands.toDF("a", "b")
      .join(texts.withColumnRenamed("id", "a").withColumnRenamed("text", "text_a"), "a")
      .join(texts.withColumnRenamed("id", "b").withColumnRenamed("text", "text_b"), "b")
      .as[(Long, Long, String, String)]
      .map { case (b, a, ta, tb) => // join order put b first
        val sa = shingles(ta); val sb = shingles(tb)
        val inter = sa.intersect(sb).size.toDouble
        val union = sa.size + sb.size - inter
        VerifiedPair(math.min(a, b), math.max(a, b), if (union == 0) 0.0 else inter / union)
      }
      .filter(_.jaccard >= threshold)
    verified.union(exactEdges)
  }

  /** Corpus-side candidates considered per LSH bucket in
    * [[incrementalAdmit]] — a hot bucket (boilerplate cluster in the
    * admitted corpus) contributes at most this many candidate matches per
    * batch document instead of its full population. Deterministic: the K
    * smallest corpus ids win. */
  val MaxProbePerBucket = 64

  /** Incremental near-dup ADMISSION — the production shape of dedup for a
    * continuously-operating crawl at 10^10-url scale: the day's batch is
    * checked against the already-admitted corpus WITHOUT recomputing
    * corpus×corpus (the global [[verifiedNearDups]]/[[dedupKeepList]] pass
    * is a backfill job; this is the per-wave admission gate). Stages:
    *
    *  1. batch-internal exact dedup (md5 keys; min id survives onward),
    *  2. exact-vs-corpus rejection (hash join on md5 keys — text bytes
    *     never enter the exchange),
    *  3. near-vs-corpus: batch band signatures cogrouped against the
    *     corpus LSH index on (band, bucket) — in deployment the corpus
    *     side IS the persisted index table ([[lshBuckets]] output), built
    *     incrementally as batches admit; recomputed from the corpus table
    *     here. Hot buckets are capped corpus-side to the
    *     [[MaxProbePerBucket]] smallest ids (the same counted-cap
    *     discipline as [[candidatePairs]]; bounded memory via a K-heap,
    *     never a full-bucket array),
    *  4. shingle-Jaccard verification of candidates; a batch doc REJECTS
    *     iff its best-Jaccard corpus match ≥ threshold.
    *
    * One row per batch doc: (doc_id, admitted 0/1, reason
    * new|exact|near|batch_exact, match_doc_id, jaccard_milli). Batch-
    * internal NEAR duplicates are deliberately out of scope — both members
    * admit, and the periodic global keep-list collapses them; the
    * admission gate's contract is vs-corpus growth control. */
  def incrementalAdmit(spark: SparkSession, corpus: DataFrame, batch: DataFrame,
                       threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxProbe: Int = MaxProbePerBucket): DataFrame = {
    import spark.implicits._
    val cT = corpus.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val bT = batch.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val nullLong = lit(null).cast("long")

    // 1. batch-internal exact dedup on md5 keys
    val bKeys = bT.select(col("id"), md5(col("text")).as("h"))
    val bReps = bKeys.groupBy("h").agg(min("id").as("rep"))
    val batchExact = bKeys.join(bReps, Seq("h")).filter(col("id") =!= col("rep"))
      .select(col("id"), lit(0).as("admitted"), lit("batch_exact").as("reason"),
        col("rep").as("match_doc_id"), lit(1000L).as("jaccard_milli"))
    val bLead = bT.join(batchExact.select("id"), Seq("id"), "left_anti")

    // 2. exact vs corpus (min corpus id per hash is the reported match)
    val cKeys = cT.select(col("id").as("c_id"), md5(col("text")).as("h"))
    val exactHits = bLead.select(col("id"), md5(col("text")).as("h"))
      .join(cKeys, Seq("h"))
      .groupBy("id").agg(min("c_id").as("match_doc_id"))
    val exactRejects = exactHits.select(col("id"), lit(0).as("admitted"),
      lit("exact").as("reason"), col("match_doc_id"), lit(1000L).as("jaccard_milli"))
    val bRemain = bLead.join(exactHits.select("id"), Seq("id"), "left_anti")
      .localCheckpoint() // consumed twice (bands + the final anti-join)

    // 3. candidate matches: batch bands × capped corpus index per bucket
    val bBands = lshBuckets(spark, bRemain, "id", "text")
    val cBands = lshBuckets(spark, cT, "id", "text")
    val cands = bBands.groupByKey(x => (x.band, x.bucket))
      .cogroup(cBands.groupByKey(x => (x.band, x.bucket))) { case (_, bIt, cIt) =>
        val bs = bIt.map(_.doc_id).toArray
        if (bs.isEmpty) Iterator.empty
        else {
          // K smallest corpus ids, bounded memory (max-heap of size K)
          val heap = scala.collection.mutable.PriorityQueue.empty[Long]
          cIt.foreach { c =>
            if (heap.size < maxProbe) heap.enqueue(c.doc_id)
            else if (c.doc_id < heap.head) { heap.dequeue(); heap.enqueue(c.doc_id) }
          }
          val cs = heap.toArray
          for { b <- bs.iterator; c <- cs.iterator } yield (b, c)
        }
      }.toDF("id", "c_id").distinct()

    // 4. Jaccard verification; best corpus match per batch doc
    val verified = cands
      .join(bRemain.withColumnRenamed("text", "b_text"), "id")
      .join(cT.select(col("id").as("c_id"), col("text").as("c_text")), "c_id")
      .select(col("id"), col("c_id"), col("b_text"), col("c_text"))
      .as[(Long, Long, String, String)]
      .map { case (id, cId, bt, ct) =>
        val sa = shingles(bt); val sb = shingles(ct)
        val inter = sa.intersect(sb).size.toDouble
        val union = sa.size + sb.size - inter
        (id, cId, if (union == 0) 0.0 else inter / union)
      }.toDF("id", "c_id", "j")
    val best = verified.groupBy("id")
      .agg(max(struct(col("j"), (-col("c_id")).as("neg"))).as("w"))
      .select(col("id"), (-col("w.neg")).as("match_doc_id"), col("w.j").as("j"))
    val nearRejects = best.filter(col("j") >= threshold)
      .select(col("id"), lit(0).as("admitted"), lit("near").as("reason"),
        col("match_doc_id"), round(col("j") * 1000).cast("long").as("jaccard_milli"))

    val admitted = bRemain.select("id")
      .join(nearRejects.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit(1).as("admitted"), lit("new").as("reason"),
        nullLong.as("match_doc_id"), nullLong.as("jaccard_milli"))

    batchExact.union(exactRejects).union(nearRejects).union(admitted)
      .withColumnRenamed("id", "doc_id")
  }

  /** 64-bit SimHash over word unigrams (counts weighted). */
  def simhash64(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    WsSplit.split(text).withFilter(_.nonEmpty).foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
    val acc = new Array[Long](64)
    counts.foreach { case (w, c) =>
      val h = hashSeed(w, 7L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += c else acc(j) -= c
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  final case class SimHashRow(doc_id: Long, simhash: Long, prefix: Int)

  /** SimHash fingerprints with a 16-bit prefix bucket (pigeonhole blocking:
    * near-dups within hamming ≤ 3 share at least one of 4 16-bit blocks;
    * emitting all 4 blocks per doc makes the blocking exact). */
  def simhashIndex(spark: SparkSession, docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val fp = simhash64(text)
        (0 until 4).map(blk => SimHashRow(id, fp, ((fp >>> (blk * 16)) & 0xffffL).toInt | (blk << 16)))
      })
      .toDF()
  }

  /** SimHash near-dup pairs: block on 16-bit segments, verify hamming ≤
    * maxDist. Same quadratic-bucket discipline as the MinHash path
    * ([[verifiedNearDups]]/[[candidatePairs]]): an md5 exact-dup pre-pass
    * links identical texts as rep→member stars (hamming 0 — identical text
    * means identical simhash) and feeds ONE representative per group into
    * blocking, and a block group larger than `maxBucket` enumerates star +
    * sorted-adjacent chain candidates (O(N)) instead of all pairs — N
    * near-identical boilerplate docs share all 4 blocks and would otherwise
    * cost ~4N² pairs. Capped buckets are lossy by construction (a
    * member-member edge survives only through a verifying star/chain
    * candidate); the accumulator counts them so a run can report the
    * degradation instead of hiding it. Output components equal the full
    * pairwise graph's for the exact-dup family; near-dup pairs are
    * enumerated at representative level. */
  def simhashNearDups(spark: SparkSession, docs: DataFrame, maxDist: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = MaxBucket,
                      cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = scala.None
                     ): DataFrame = {
    import spark.implicits._
    // exact pre-pass on (md5, id) keys only — text never enters the shuffle
    val keys = docs.select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"))
    val reps = keys.groupBy("h").agg(min("doc_id").as("rep"))
    val dupMembers = keys.join(reps, Seq("h")).filter(col("doc_id") =!= col("rep"))
    val exactEdges = dupMembers
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"), lit(0).as("hamming_dist"))
    val repDocs = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .join(dupMembers.select("doc_id"), Seq("doc_id"), "left_anti")
    val nearEdges = simhashIndex(spark, repDocs, "doc_id", "text").as[SimHashRow]
      .groupByKey(_.prefix)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_.doc_id)
        if (rows.length > maxBucket) {
          cappedBuckets.foreach(_.add(1L))
          val anchor = rows(0)
          val cands = rows.iterator.drop(1).map(r => (anchor, r)) ++
            rows.iterator.zip(rows.iterator.drop(1))
          cands.flatMap { case (a, b) =>
            val d = hamming(a.simhash, b.simhash)
            if (a.doc_id != b.doc_id && d <= maxDist) Iterator.single((a.doc_id, b.doc_id, d))
            else Iterator.empty
          }
        } else {
          for {
            i <- rows.indices.iterator
            j <- (i + 1) until rows.length
            if rows(i).doc_id != rows(j).doc_id && hamming(rows(i).simhash, rows(j).simhash) <= maxDist
          } yield (rows(i).doc_id, rows(j).doc_id, hamming(rows(i).simhash, rows(j).simhash))
        }
      }
      .distinct()
      .toDF("doc_a", "doc_b", "hamming_dist")
    nearEdges.unionByName(exactEdges)
  }

  // ------------------------------------------------ winnowing fingerprint --

  /** Winnowing parameters: k-gram length and window size. Guarantee
    * (Schleimer, Wilkerson, Aiken 2003 — public MOSS paper): any shared
    * substring of at least w + k - 1 normalized chars produces at least one
    * shared fingerprint. */
  val WinnowK = 5
  val WinnowW = 4

  /** Normalize for fingerprinting: lowercase, alphanumerics only (MOSS-style
    * whitespace/punctuation insensitivity). */
  private[pipeline] def winnowNormalize(text: String): Array[Char] =
    text.toLowerCase.iterator.filter(_.isLetterOrDigit).toArray

  /** Rolling-hash document fingerprints: polynomial k-gram hashes over the
    * normalized text, then the rightmost minimum of each w-window (the
    * winnowing rule — rightmost tie-break maximizes window overlap reuse).
    * Pure and deterministic; O(n) per document. */
  def winnowFingerprints(text: String, k: Int = WinnowK, w: Int = WinnowW): Set[Long] = {
    val s = winnowNormalize(text)
    if (s.length < k) return if (s.isEmpty) Set.empty else Set(hashSeed(new String(s), 31L))
    val B = 1000003L
    // precompute B^(k-1) for the rolling update
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    val n = s.length - k + 1
    val hashes = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s(i); i += 1 }
    hashes(0) = finalizeHash(h)
    i = 1
    while (i < n) {
      h = (h - s(i - 1) * bk) * B + s(i + k - 1)
      hashes(i) = finalizeHash(h)
      i += 1
    }
    if (n <= w) return Set(hashes.min)
    val out = scala.collection.mutable.HashSet.empty[Long]
    var win = 0
    while (win <= n - w) {
      // rightmost minimum of hashes[win, win+w)
      var best = win
      var j = win + 1
      while (j < win + w) { if (hashes(j) <= hashes(best)) best = j; j += 1 }
      out += hashes(best)
      win += 1
    }
    out.toSet
  }

  /** splitmix64-style finalizer so k-gram hashes spread over the full Long
    * range (raw polynomial hashes of short alphanumeric grams cluster). */
  private def finalizeHash(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Winnowing fingerprint index: (doc_id, fp) rows — the inverted index a
    * containment search joins against (shared-fp groupBy, no all-pairs). */
  def winnowIndex(spark: SparkSession, docs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => winnowFingerprints(text).iterator.map(fp => (id, fp)) }
      .toDF("doc_id", "fp")
  }

  /** Containment candidates: pairs sharing ≥ minShared fingerprints, with
    * the shared count and containment ratio |A∩B| / min(|A|,|B|). Blocking
    * is the fp inverted index — only docs sharing a fingerprint ever meet —
    * and fingerprints present in more than `maxDocFreq` docs are dropped
    * first (stop-gram guard: one ubiquitous boilerplate gram must not turn
    * the self-join quadratic; real matches share many non-ubiquitous fps). */
  def winnowOverlaps(spark: SparkSession, docs: DataFrame, minShared: Int = 2,
                     maxDocFreq: Int = 100,
                     spillDir: Option[String] = scala.None): DataFrame = {
    val idxAll = winnowIndex(spark, docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rareFps = idxAll.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("fp")
    val idx = idxAll.join(rareFps, Seq("fp"))
    // sizes from the SAME filtered index as the numerator — otherwise a doc
    // whose fingerprints are mostly ubiquitous boilerplate can never reach
    // high containment even when fully copied
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val shared = idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val out = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared") / least(col("fp_a"), col("fp_b"))).as("containment"))
    // eager materialization while idxAll is still cached (so the index is
    // computed once). Default: localCheckpoint — the returned frame is
    // backed by ContextCleaner-managed blocks, freed on GC, no caller-side
    // unpersist contract to forget (repeated invocations must not
    // accumulate executor storage); caveat: non-resilient to executor loss.
    // With `spillDir` set the overlaps are WRITTEN to that table and read
    // back — the durable path a 100-TB deployment opts into; outputs are
    // identical either way (tested).
    val result = spillDir match {
      case Some(dir) =>
        out.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      case scala.None => out.localCheckpoint()
    }
    idxAll.unpersist()
    result
  }

  // --------------------------------------------- components / keep-list ----

  /** Edge cap for the exact driver-side union-find fast path: 2^20 edges ≈
    * 16 MB of longs. Near-dup edge sets are tiny relative to the corpus
    * (dups are the minority and the edge set is star-compressed upstream);
    * paying 3+ Spark jobs of iterative-join overhead per round on a graph
    * that fits in one array is pure waste — the same hybrid split
    * production CC implementations use. */
  val CcDriverEdgeCap = 1 << 20

  /** Connected components over near-dup pairs: (doc_id, component) for
    * every doc paired with another doc, `component` = the smallest doc_id
    * reachable through the pair graph (a self-pair carries no edge). A
    * graph of at most `driverEdgeCap` edges runs exact union-find on the
    * driver; a larger one runs [[WebIndex.componentLabels]], the
    * large-star/small-star kernel — O(log n) rounds at any component
    * diameter, so a long incremental-edit chain needs no round budget.
    * Deterministic: the minimum over a component is order-free. */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
                          driverEdgeCap: Int = CcDriverEdgeCap): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persist the edge list FIRST: callers hand in unpersisted, expensive
    // pipelines (dedupKeepList's LSH+Jaccard verify), and this function
    // consumes them twice — the fast-path probe below plus the
    // distributed kernel's input. Without the cache the priciest stage of
    // the whole dedup path re-executes per consumer, exactly on the large
    // corpora the driver-edge cap exists for.
    val pairsEdges = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .filter(col("doc_a") =!= col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // fast path: ONE job pulls at most cap+1 edges; if the graph fits, run
    // exact union-find on the driver (same min-label result, deterministic)
    val head = pairsEdges.limit(driverEdgeCap + 1).collect()
    if (head.length <= driverEdgeCap) {
      pairsEdges.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      head.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min root wins → component = smallest reachable id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val rows = parent.keys.toArray.sorted.map(id => (id, find(id)))
      import spark.implicits._
      return spark.createDataset(rows.toSeq).toDF("doc_id", "component")
    }
    // the kernel checkpoints its inputs eagerly, so the pair cache can go
    // as soon as it returns
    try WebIndex.componentLabels(pairsEdges.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("host").as("doc_id"), col("label").as("component"))
    finally pairsEdges.unpersist()
  }

  /** End-to-end dedup keep-list: exact duplicates (identical text) and
    * verified near-duplicates (word-3-gram Jaccard ≥ `threshold` via the
    * MinHash-LSH path) collapse into components; the smallest doc_id of
    * each component is kept. Docs in no component keep themselves. Output:
    * (doc_id, keep_id, kept) for EVERY input doc — the projection a
    * training-data pipeline applies before tokenization. */
  def dedupKeepList(spark: SparkSession, docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // verifiedNearDups already carries BOTH edge families: exact-duplicate
    // stars (md5 pre-pass) and rep-level verified near-dup pairs — an edge
    // set whose components equal the full near-dup graph's
    val pairs = verifiedNearDups(spark, docs, threshold).toDF()
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
    val comps = connectedComponents(spark, pairs)
    docs.select(col("doc_id").cast("long"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"))
      .withColumn("kept", col("doc_id") === col("keep_id"))
  }

  /** Exact word-unigram Jaccard between all pairs of a (small) candidate
    * id set — the exact n-gram-Jaccard measure for tests/verification. */
  def unigramJaccard(a: String, b: String): Double = {
    val sa = WsSplit.split(a).filter(_.nonEmpty).toSet
    val sb = WsSplit.split(b).filter(_.nonEmpty).toSet
    val inter = sa.intersect(sb).size.toDouble
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter / union
  }
}

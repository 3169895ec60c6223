package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`), plus
  * embedding-cosine near-duplicate detection.
  *
  * Two paths (SURVEY-style scale split):
  *  - brute-force top-k against a BROADCAST query set: one pass over the
  *    corpus, per-partition bounded heaps, no shuffle of the corpus — the
  *    exact baseline;
  *  - random-hyperplane LSH bucketing as the 10^10-scale path: sign-bit
  *    sketches computed in-row (deterministic seeded hyperplanes), candidates
  *    only within matching buckets.
  *
  * Cosine on unit-normalized vectors = dot product (reference:
  * src/infrastructure/ai/embedding_ops.rs:72-108 — SIMD there, JIT/codegen
  * here).
  */
object Similarity {

  final case class Embedded(vec_id: Long, embedding: Array[Float])
  final case class Neighbor(query_id: Long, rank: Int, neighbor_id: Long, cosine: Double)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Exact top-k cosine neighbors for each query vector (queries broadcast;
    * corpus streamed once; per-partition partial top-k then global merge —
    * the merge shuffles only queries×k rows). Ties broken by neighbor_id
    * ascending for full determinism. */
  def bruteForceTopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(queries)
    val partials = corpus.mapPartitions { it =>
      val qs = bq.value
      // per-query bounded candidate lists
      val heaps = qs.map(_ => scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) } // min-heap on cosine, max on id
      ))
      it.foreach { e =>
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          if (e.vec_id != q.vec_id) {
            val c = cosine(q.embedding, e.embedding)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((c, e.vec_id))
            else {
              val (wc, wid) = h.head
              if (c > wc || (c == wc && e.vec_id < wid)) { h.dequeue(); h.enqueue((c, e.vec_id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qs(qi).vec_id, c, id) }
      }
    }
    // global merge: only |queries| × k × partitions rows reach the shuffle
    partials.toDF("query_id", "cosine", "neighbor_id")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .as[Neighbor]
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded splitmix). */
  def hyperplanes(dims: Int, bits: Int, seed: Long = 0x9e3779b9L): Array[Array[Float]] = {
    var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(bits) {
      Array.fill(dims) {
        // approximate gaussian via sum of uniforms (deterministic, portable)
        val u = (1 to 4).map(_ => (next() >>> 11).toDouble / (1L << 53).toDouble).sum - 2.0
        u.toFloat
      }
    }
  }

  /** Sign-bit LSH sketch of a vector under `planes`. */
  def signSketch(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var bits = 0L
    var i = 0
    while (i < planes.length) {
      if (dot(v, planes(i)) >= 0) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** LSH-bucketed ANN: bucket = sign sketch; exact cosine only within
    * buckets. TWO recall levers, both deterministic: a hamming probe radius
    * within a table, and `tables` INDEPENDENT hyperplane tables (candidate
    * if close in ANY — the classic multi-table LSH construction: a neighbor
    * missed by one table's planes survives with probability 1-(1-p)^L).
    * Multi-table beats a wider radius on hard distributions: 3 tables at
    * radius 1 compare ~10% of pairs where one table at radius 2 compares
    * ~14% — with HIGHER recall (measured in Bench's ann_recall_at_5). */
  /** Default sketch width / probe radius / table count. On hard
    * (near-uniform) embedding distributions the top-k neighbors sit at
    * modest cosine, so recall needs several tables; on real clustered
    * embeddings tighter settings (more bits, 1 table) give a far bigger
    * candidate cut. */
  val DefaultBits = 8
  val DefaultProbeRadius = 1
  val DefaultTables = 3

  def lshTopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int,
      bits: Int = DefaultBits,
      dims: Int = 64,
      probeRadius: Int = DefaultProbeRadius,
      tables: Int = DefaultTables,
      candidateCount: Option[org.apache.spark.util.LongAccumulator] = scala.None
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val planesT: Array[Array[Array[Float]]] =
      Array.tabulate(tables)(t => hyperplanes(dims, bits, seed = 0x9e3779b9L + t * 7919L))
    val bp = spark.sparkContext.broadcast(planesT)
    val bq = spark.sparkContext.broadcast(
      queries.map(q => (q.vec_id, q.embedding, planesT.map(p => signSketch(q.embedding, p)))))
    val candidates = corpus.mapPartitions { it =>
      val qs = bq.value
      val ps = bp.value
      it.flatMap { e =>
        val sks = ps.map(p => signSketch(e.embedding, p))
        qs.iterator.filter { case (qid, _, qsks) =>
          qid != e.vec_id && {
            var t = 0
            var hit = false
            while (t < sks.length && !hit) {
              hit = java.lang.Long.bitCount(sks(t) ^ qsks(t)) <= probeRadius
              t += 1
            }
            hit
          }
        }.map { case (qid, qv, _) =>
          candidateCount.foreach(_.add(1L))
          (qid, cosine(qv, e.embedding), e.vec_id)
        }
      }
    }
    candidates.toDF("query_id", "cosine", "neighbor_id")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .as[Neighbor]
  }

  /** Per-label centroids of an embedding table, micro-quantized. Built on
    * partition-id-ordered partial sums (same pattern as [[trainCentroids]])
    * rather than a typed `Aggregator`, so repeated runs merge the same
    * doubles in the same order — bit-stable, not just
    * quantization-probably-stable.
    * One exploded row per (label, dim). */
  /** DuckDB twin of [[labelCentroids]]: per-(label, dim) mean as an explicit
    * sum/count over the exploded dims (sequential double accumulation, like
    * the partition-ordered partial merge; micro-quantization absorbs the
    * association-order ULPs). Missing dims count as 0 against the full row
    * count, mirroring the Scala kernel's min(dims, v.length) sum over n. */
  val labelCentroidsSql: String =
    """WITH e AS (SELECT CAST(label AS INTEGER) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |x AS (SELECT label, CAST(t.d AS INTEGER) AS dim, coalesce(v[CAST(t.d AS INTEGER) + 1], 0.0) AS val
      |      FROM e, range(64) t(d))
      |SELECT label, dim, CAST(round(sum(val) / count(*) * 1000000) AS BIGINT) AS centroid_micro
      |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin

  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = 64
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label").cast("int").as("label"), col("embedding"))
      .as[(Int, Array[Float])]
    val partials = rows.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val sums = scala.collection.mutable.HashMap.empty[Int, (Array[Double], Array[Long])]
      it.foreach { case (label, v) =>
        val (s, n) = sums.getOrElseUpdate(label, (new Array[Double](dims), new Array[Long](1)))
        val m = math.min(dims, v.length)
        var i = 0
        while (i < m) { s(i) += v(i); i += 1 }
        n(0) += 1L
      }
      sums.iterator.map { case (label, (s, n)) => (label, pid, s, n(0)) }
    }
    mergeInPartitionOrder(spark, partials)
      .flatMap { case (label, s, n) =>
        s.iterator.zipWithIndex.map { case (v, d) =>
          (label, d, math.round(v / n * 1000000.0))
        }
      }
      .toDF("label", "dim", "centroid_micro")
      .orderBy("label", "dim")
  }

  /** Merges per-partition partial sums `(key, partitionId, sums, count)`
    * per key in partition-id order: the same input layout gives the same FP
    * addition order, so repeated runs are bit-identical (reduceGroups would
    * merge in scheduling order). */
  private def mergeInPartitionOrder(
      spark: SparkSession, partials: Dataset[(Int, Int, Array[Double], Long)]
  ): Dataset[(Int, Array[Double], Long)] = {
    import spark.implicits._
    partials.groupByKey(_._1).mapGroups { (key, it) =>
      val parts = it.toArray.sortBy(_._2)
      val s = parts.head._3.clone()
      var n = parts.head._4
      parts.tail.foreach { p =>
        var d = 0
        while (d < s.length) { s(d) += p._3(d); d += 1 }
        n += p._4
      }
      (key, s, n)
    }
  }

  // ------------------------------------------------------------ IVF ANN ----

  /** Nearest centroid by cosine; ties break to the lowest index. */
  def nearestCentroid(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestC = -2.0
    var i = 0
    while (i < centroids.length) {
      val c = cosine(v, centroids(i))
      if (c > bestC) { bestC = c; best = i }
      i += 1
    }
    best
  }

  /** Distributed spherical k-means (Lloyd's) for the IVF coarse quantizer.
    *
    * Deterministic for a given input partitioning: seeds are the `nlist`
    * corpus vectors with the smallest `xxhash64(vec_id)` (a reproducible
    * pseudo-random spread), the assignment tie-break is the lowest centroid
    * index, and per-partition partial sums are merged in partition-id order
    * so repeated runs reduce the same doubles in the same order. (Like any
    * distributed FP aggregate — Spark's own `sum()` included — a DIFFERENT
    * partition layout regroups the additions and can shift centroids by
    * ULPs; the crawl engine's integer/order-based parallelism invariance
    * does not extend to FP training.) Scale shape: each iteration is ONE
    * pass over the corpus producing at most `nlist` partial-sum rows per
    * partition (map-side combine); only `nlist` merged rows ever reach the
    * driver, so training a 10^10-row corpus moves nlist × dims doubles per
    * iteration, not data. Empty clusters keep their previous centroid. The
    * pass is [[trainLloyd]]'s with one spherical codebook. */
  def trainCentroids(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      nlist: Int,
      iters: Int = 5
  ): Array[Array[Float]] = {
    val seeds = seedOrder(spark, corpus, nlist)
    trainLloyd(spark, corpus, Array(ivfBook(seeds, nlist)), iters).head.centroids(0)
  }

  /** One codebook [[trainLloyd]] trains: `centroids(s)(j)` is centroid j
    * of subspace s, which covers dims [s·dsub, (s+1)·dsub). A spherical
    * book (the IVF coarse quantizer: one subspace over all dims) assigns
    * by cosine ([[nearestCentroid]]); the others (PQ's subspaces) by
    * squared L2 ([[nearestL2]]). */
  private final case class LloydBook(
      spherical: Boolean, dsub: Int, centroids: Array[Array[Array[Float]]]) {
    def assign(v: Array[Float], s: Int): Int =
      if (spherical) nearestCentroid(v, centroids(s))
      else nearestL2(v, s * dsub, centroids(s), dsub)
  }

  /** Seed candidates: the first `n` corpus rows in (xxhash64(vec_id),
    * vec_id) order — a reproducible pseudo-random spread. A codebook of k
    * centroids seeds from the first k of them ([[seedsOf]]), so codebooks
    * trained together share ONE collect. */
  private def seedOrder(spark: SparkSession, corpus: Dataset[Embedded], n: Int): Array[Embedded] = {
    import spark.implicits._
    corpus.toDF()
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h"), col("vec_id"))
      .limit(n)
      .select(col("vec_id"), col("embedding")).as[Embedded]
      .collect()
  }

  private def seedsOf(order: Array[Embedded], k: Int): Array[Array[Float]] =
    order.take(k).sortBy(_.vec_id).map(_.embedding)

  private def ivfBook(order: Array[Embedded], nlist: Int): LloydBook = {
    val seeds = seedsOf(order, nlist)
    LloydBook(spherical = true, seeds.headOption.fold(0)(_.length), Array(seeds))
  }

  private def pqBook(order: Array[Embedded], dims: Int, m: Int, ksub: Int): LloydBook = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val dsub = dims / m
    val seeds = seedsOf(order, ksub)
    LloydBook(spherical = false, dsub,
      Array.tabulate(m, seeds.length)((s, j) => seeds(j).slice(s * dsub, (s + 1) * dsub)))
  }

  /** Lloyd's iterations for several codebooks over ONE corpus pass each:
    * every codebook's assignment is independent of the others', so one
    * mapPartitions accumulates the partial sums of every (codebook,
    * subspace, centroid) cell at once, and the partials merge per cell in
    * partition-id order — the same FP addition order per cell as training
    * each codebook alone, so the result is bit-identical to separate runs
    * for a given input layout at 1/B of the corpus passes. Assignment ties
    * break to the lowest index; empty cells keep their previous centroid.
    * Scale shape: ≤ (total cells) rows reach the driver per iteration. */
  private def trainLloyd(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      init: Array[LloydBook],
      iters: Int
  ): Array[LloydBook] = {
    import spark.implicits._
    // flat cell index: book b's cell (s, j) is base(b) + s·k(b) + j
    // (shapes are fixed: iterations replace centroids, never add them)
    val k = init.map(_.centroids.headOption.fold(0)(_.length))
    val base = init.indices.scanLeft(0)((acc, b) => acc + init(b).centroids.length * k(b)).toArray
    var books = init
    var iter = 0
    while (iter < iters) {
      val bc = spark.sparkContext.broadcast(books)
      val partials = corpus.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val bs = bc.value
        val sums = new Array[Array[Double]](base(bs.length))
        for (b <- bs.indices; cell <- base(b) until base(b + 1))
          sums(cell) = new Array[Double](bs(b).dsub)
        val counts = new Array[Long](sums.length)
        it.foreach { e =>
          var b = 0
          while (b < bs.length) {
            val book = bs(b)
            var s = 0
            while (s < book.centroids.length) {
              val cell = base(b) + s * k(b) + book.assign(e.embedding, s)
              val acc = sums(cell)
              val off = s * book.dsub
              var i = 0
              while (i < book.dsub) { acc(i) += e.embedding(off + i); i += 1 }
              counts(cell) += 1L
              s += 1
            }
            b += 1
          }
        }
        Iterator.range(0, sums.length).filter(counts(_) > 0L)
          .map(i => (i, pid, sums(i), counts(i)))
      }
      val totals = mergeInPartitionOrder(spark, partials).collect() // ≤ total cells rows
      val next = books.map(b => b.copy(centroids = b.centroids.map(_.map(identity))))
      totals.foreach { case (cell, sum, n) =>
        val b = base.lastIndexWhere(_ <= cell, books.length - 1)
        val local = cell - base(b)
        next(b).centroids(local / k(b))(local % k(b)) = sum.map(v => (v / n).toFloat)
      }
      books = next
      bc.destroy()
      iter += 1
    }
    books
  }

  /** IVF index build: assign every corpus vector to its coarse-quantizer
    * list. At production scale this DataFrame is written
    * `partitionBy("list")` so a search touching `nprobe` lists prunes
    * `1 - nprobe/nlist` of the files at the scan (partition pruning — the
    * filter never reads the skipped lists' bytes). */
  def assignLists(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      centroids: Array[Array[Float]]
  ): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    corpus.map(e => (e.vec_id, e.embedding, nearestCentroid(e.embedding, bc.value)))
      .toDF("vec_id", "embedding", "list")
  }

  /** IVF-bucketed ANN: k-means coarse quantizer, queries probe their
    * `nprobe` nearest lists, exact cosine only within probed lists.
    *
    * Complements [[lshTopK]]: hyperplane LSH needs no training and handles
    * adversarially uniform data; IVF adapts its buckets to the actual
    * density (clustered real-world embeddings → far better recall per
    * candidate scanned). Training + assignment are the one-time index build,
    * amortized over the query stream; with the assignment persisted
    * partitioned by list (see [[assignLists]]) the per-query scan reads only
    * nprobe/nlist of the corpus. */
  def ivfTopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      trainIters: Int = 5,
      candidateCount: Option[org.apache.spark.util.LongAccumulator] = scala.None
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val centroids = trainCentroids(spark, corpus, nlist, trainIters)
    val bc = spark.sparkContext.broadcast(centroids)
    // inverted probe map: list → queries probing it (broadcast; tiny)
    val probeMap: Map[Int, Array[(Long, Array[Float])]] = queries
      .flatMap { q =>
        centroids.indices
          .sortBy(i => (-cosine(q.embedding, centroids(i)), i))
          .take(nprobe)
          .map(list => (list, (q.vec_id, q.embedding)))
      }
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2)) }
    val bp = spark.sparkContext.broadcast(probeMap)
    val empty = Array.empty[(Long, Array[Float])]
    val candidates = corpus.mapPartitions { it =>
      val cs = bc.value
      val pm = bp.value
      it.flatMap { e =>
        val list = nearestCentroid(e.embedding, cs)
        pm.getOrElse(list, empty).iterator
          .filter { case (qid, _) => qid != e.vec_id }
          .map { case (qid, qv) =>
            candidateCount.foreach(_.add(1L))
            (qid, cosine(qv, e.embedding), e.vec_id)
          }
      }
    }
    candidates.toDF("query_id", "cosine", "neighbor_id")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .as[Neighbor]
  }

  // ------------------------------------------------- scalar quantization ----

  /** Per-dimension SQ8 codebook: (min, max) per dimension over the corpus —
    * trained with ONE aggregation pass (map-side combined; only 2×dims
    * doubles reach the driver). */
  final case class Sq8Codebook(mins: Array[Float], maxs: Array[Float]) {
    def encode(v: Array[Float]): Array[Byte] = {
      val out = new Array[Byte](mins.length)
      var i = 0
      while (i < mins.length) {
        val span = maxs(i) - mins(i)
        val q = if (span <= 0f) 0
          else math.round((math.min(math.max(v(i), mins(i)), maxs(i)) - mins(i)) / span * 255f)
        out(i) = (q & 0xff).toByte
        i += 1
      }
      out
    }
    def decode(c: Array[Byte]): Array[Float] = {
      val out = new Array[Float](mins.length)
      var i = 0
      while (i < mins.length) {
        val span = maxs(i) - mins(i)
        out(i) = mins(i) + (c(i) & 0xff) / 255f * span
        i += 1
      }
      out
    }
    /** Per-dimension quantization error bound: span / (2·255). */
    def errorBound(dim: Int): Float = (maxs(dim) - mins(dim)) / 510f
  }

  /** Train the SQ8 codebook: per-dimension min/max via array-zip aggregation
    * in ONE corpus pass (the classic FAISS SQ8 recipe, public knowledge).
    * Deterministic: min/max are order-free. */
  def trainSq8(spark: SparkSession, corpus: Dataset[Embedded], dims: Int): Sq8Codebook = {
    import spark.implicits._
    val (mins, maxs) = corpus.map(_.embedding)
      .mapPartitions { it =>
        val mn = Array.fill(dims)(Float.MaxValue)
        val mx = Array.fill(dims)(Float.MinValue)
        var any = false
        it.foreach { v =>
          any = true
          var i = 0
          val n = math.min(dims, v.length)
          while (i < n) {
            if (v(i) < mn(i)) mn(i) = v(i)
            if (v(i) > mx(i)) mx(i) = v(i)
            i += 1
          }
        }
        if (any) Iterator.single((mn, mx)) else Iterator.empty
      }
      .reduce { (a, b) =>
        val mn = a._1.zip(b._1).map(p => math.min(p._1, p._2))
        val mx = a._2.zip(b._2).map(p => math.max(p._1, p._2))
        (mn, mx)
      }
    Sq8Codebook(mins, maxs)
  }

  /** Scale-aware exact-re-rank width (the `rerank = -1` AUTO default of
    * the quantized paths): a FIXED shortlist loses top-k exactness as the
    * corpus grows — quantization error can rank a true neighbor below a
    * fixed cut once enough candidates compete (measured on the sf0.1
    * embeddings: recall@5 = 0.94 at the round-4 fixed width 128,
    * 0.98 at scored/8, 1.00 at scored/4 — [[graft.tools.AnnRerankProbe]]).
    * The width scales with the number of quantized-scored rows: a quarter
    * of them, floored at 128 (the old fixed default, so tiny corpora are
    * unchanged) and capped at 8192 — at 10^9 scored rows the re-rank
    * touches a vanishing 8×10^-6 of the corpus, so the code-scan byte
    * story (8/256 for PQ) still dominates; at verify scale the exactness
    * the oracle pins is restored. The byte ledger in Bench discloses the
    * re-rank's float-row fraction alongside the code-scan fraction. */
  private[graft] def autoRerank(scored: Long): Int =
    math.min(8192L, math.max(128L, scored / 4)).toInt

  /** SQ8-compressed ANN with exact re-rank: the 100-TB storage shape — the
    * scan reads 1-byte codes (4× less IO than float32), approximate cosine
    * on DECODED codes selects `rerank` candidates per query, then exact
    * cosine on the true vectors re-ranks the top-k. The candidate pass is
    * the same broadcast-queries/bounded-heap shape as [[bruteForceTopK]];
    * the re-rank join touches only queries×rerank rows. `rerank = -1`
    * (default) sizes the shortlist by [[autoRerank]] over the corpus. */
  def sq8TopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int,
      dims: Int = 64,
      rerank: Int = -1
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val cb = trainSq8(spark, corpus, dims)
    val bcb = spark.sparkContext.broadcast(cb)
    // the compressed table a deployment would persist instead of float32
    val codes = corpus.map(e => (e.vec_id, bcb.value.encode(e.embedding)))
    val bq = spark.sparkContext.broadcast(queries)
    val take = math.max(k, if (rerank > 0) rerank else autoRerank(corpus.count()))
    val approx = codes.mapPartitions { it =>
      val qs = bq.value
      val heaps = qs.map(_ => scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }))
      it.foreach { case (id, code) =>
        val dec = bcb.value.decode(code)
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)
          if (id != q.vec_id) {
            val c = cosine(q.embedding, dec)
            val h = heaps(qi)
            if (h.size < take) h.enqueue((c, id))
            else {
              val (wc, wid) = h.head
              if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((c, id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qs(qi).vec_id, c, id) }
      }
    }.toDF("query_id", "approx_cosine", "neighbor_id")
    exactRerank(spark, corpus, approx, queries, k, take)
  }

  /** Shared exact-re-rank tail for the quantized ANN paths ([[sq8TopK]],
    * [[pqTopK]]): keep the global approx top-`take` per query, join back to
    * the TRUE vectors (queries broadcast — the join touches only
    * queries×take corpus rows), exact cosine, window top-k. */
  private def exactRerank(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      approx: DataFrame,
      queries: Array[Embedded],
      k: Int,
      take: Int
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val candidates = approx
      .withColumn("arank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)))
      .filter(col("arank") <= take)
      .select("query_id", "neighbor_id")
    val qvecs = spark.createDataset(queries.toSeq).toDF("qid", "qvec")
    candidates
      .join(corpus.toDF("neighbor_id", "nvec"), Seq("neighbor_id"))
      .join(broadcast(qvecs), col("query_id") === col("qid"))
      .as[(Long, Long, Array[Float], Long, Array[Float])]
      .map { case (neighborId, queryId, nvec, _, qvec) =>
        (queryId, cosine(qvec, nvec), neighborId)
      }
      .toDF("query_id", "cosine", "neighbor_id")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .as[Neighbor]
  }

  // ----------------------------------------------- product quantization ----

  /** Nearest of `cs` to v[off ..< off + dsub] by squared L2; ties break to
    * the lowest index (the [[nearestCentroid]] rule). */
  private def nearestL2(v: Array[Float], off: Int, cs: Array[Array[Float]], dsub: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var d = 0.0
      var i = 0
      while (i < dsub) { val t = v(off + i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** PQ codebook: the embedding is split into `m` contiguous subspaces of
    * `dsub` dims each; every subspace has its own `ksub`-centroid k-means
    * codebook (the classic Jégou/Douze/Schmid PQ layout — public knowledge).
    * A vector is stored as `m` one-byte codes: at dims=64, m=8 that is an
    * 8-byte row vs 256 bytes of float32 — a 32× smaller scan, the step past
    * [[Sq8Codebook]]'s 4×. `centroids(s)(j)` is subspace s's centroid j. */
  final case class PqCodebook(m: Int, dsub: Int, centroids: Array[Array[Array[Float]]]) {
    /** Nearest centroid of subspace `s` for v[s*dsub ..< (s+1)*dsub] by
      * squared L2 (ties → lowest index, the [[nearestCentroid]] rule). */
    def assign(v: Array[Float], s: Int): Int = nearestL2(v, s * dsub, centroids(s), dsub)
    def encode(v: Array[Float]): Array[Byte] = {
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) { out(s) = (assign(v, s) & 0xff).toByte; s += 1 }
      out
    }
  }

  /** Train all `m` subspace codebooks with Lloyd's in ONE corpus pass per
    * iteration (every subspace's assignment is independent, so one
    * mapPartitions accumulates all m×ksub partial sums at once — m× fewer
    * jobs than training each subspace separately; it is [[trainLloyd]]'s
    * pass with one L2 codebook). Determinism contract is
    * [[trainCentroids]]'s: seeds are the `ksub` vectors with the smallest
    * xxhash64(vec_id) (each contributes its slice to every subspace),
    * assignment ties break to the lowest index, partials merge in
    * partition-id order, empty clusters keep their previous centroid. Scale
    * shape: ≤ m×ksub rows reach the driver per iteration — training a
    * 10^10-row corpus moves m×ksub×dsub doubles, not data. */
  def trainPq(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      dims: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 5
  ): PqCodebook = {
    val book = pqBook(seedOrder(spark, corpus, ksub), dims, m, ksub)
    val trained = trainLloyd(spark, corpus, Array(book), iters).head
    PqCodebook(m, trained.dsub, trained.centroids)
  }

  /** The IVF coarse quantizer and the PQ codebook trained TOGETHER:
    * bit-identical to [[trainCentroids]] + [[trainPq]] for a given input
    * layout, but `iters` corpus passes instead of 2×`iters` and one seed
    * collect (the first max(nlist, ksub) rows of the seed order) instead
    * of two — the two Lloyd's runs are independent, so they share each
    * pass ([[trainLloyd]]). */
  def trainIvfPq(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      nlist: Int,
      dims: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 5
  ): (Array[Array[Float]], PqCodebook) = {
    val order = seedOrder(spark, corpus, math.max(nlist, ksub))
    val Array(ivf, pq) = trainLloyd(spark, corpus,
      Array(ivfBook(order, nlist), pqBook(order, dims, m, ksub)), iters)
    (ivf.centroids(0), PqCodebook(m, pq.dsub, pq.centroids))
  }

  /** PQ-compressed ANN with exact re-rank: asymmetric distance computation
    * (ADC) over m-byte codes selects `rerank` candidates, exact cosine on
    * the true vectors orders the final top-k — [[sq8TopK]]'s shape at an
    * 8×-smaller scan (m bytes vs dims bytes). Per query the scan does table
    * lookups only: dot(q, decode(code)) = Σ_s dotTab(s)(code_s) and
    * ‖decode(code)‖² = Σ_s cnorm2(s)(code_s), both precomputed per
    * (subspace, centroid) — no float decode in the hot loop, the property
    * that makes PQ the 100-TB scan shape. */
  def pqTopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int,
      dims: Int = 64,
      m: Int = 8,
      ksub: Int = 256,
      rerank: Int = -1, // -1 = scale-aware autoRerank over the corpus
      trainIters: Int = 5
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val cb = trainPq(spark, corpus, dims, m, ksub, trainIters)
    val bcb = spark.sparkContext.broadcast(cb)
    // the compressed table a deployment would persist instead of float32
    val codes = corpus.map(e => (e.vec_id, bcb.value.encode(e.embedding)))
    // per-(subspace, centroid) norm² — query-independent
    val cnorm2: Array[Array[Double]] = cb.centroids.map(_.map(c => dot(c, c)))
    // per-query ADC lookup tables: dotTab(q)(s)(j) = dot(q_s, centroid_sj)
    // a corpus smaller than ksub trains fewer centroids — size the tables
    // by the codebook, not the requested ksub
    val dotTabs: Array[Array[Array[Double]]] = queries.map { q =>
      Array.tabulate(cb.m, cb.centroids(0).length) { (s, j) =>
        val c = cb.centroids(s)(j)
        val off = s * cb.dsub
        var d = 0.0
        var i = 0
        while (i < cb.dsub) { d += q.embedding(off + i).toDouble * c(i); i += 1 }
        d
      }
    }
    val qnorms = queries.map(q => norm(q.embedding))
    val bq = spark.sparkContext.broadcast((queries.map(_.vec_id), dotTabs, qnorms, cnorm2))
    val take = math.max(k, if (rerank > 0) rerank else autoRerank(corpus.count()))
    val approx = codes.mapPartitions { it =>
      val (qids, tabs, qn, cn2) = bq.value
      val heaps = qids.map(_ => scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }))
      it.foreach { case (id, code) =>
        var nrm2 = 0.0
        var s = 0
        while (s < code.length) { nrm2 += cn2(s)(code(s) & 0xff); s += 1 }
        val nrm = math.sqrt(nrm2)
        var qi = 0
        while (qi < qids.length) {
          if (id != qids(qi)) {
            val tab = tabs(qi)
            var d = 0.0
            var t = 0
            while (t < code.length) { d += tab(t)(code(t) & 0xff); t += 1 }
            val denom = qn(qi) * nrm
            val c = if (denom == 0.0) 0.0 else d / denom
            val h = heaps(qi)
            if (h.size < take) h.enqueue((c, id))
            else {
              val (wc, wid) = h.head
              if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((c, id)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qids(qi), c, id) }
      }
    }.toDF("query_id", "approx_cosine", "neighbor_id")
    exactRerank(spark, corpus, approx, queries, k, take)
  }

  /** IVF-PQ composed ANN — the standard billion-scale shape (Jégou et al.
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
    * FAISS "IVFx,PQy" index string): IVF pruning decides WHICH rows a query
    * scans (nprobe/nlist of the corpus), PQ ADC decides HOW CHEAPLY each
    * scanned row is scored (m one-byte codes — 32× smaller than the
    * float32 row at dims=64, m=8), and the exact re-rank on true vectors
    * orders the final top-k. Per (query, scanned row) the cost is m table
    * lookups over m bytes — both knives at once, where [[ivfTopK]] scans
    * pruned FLOATS and [[pqTopK]] scans ALL codes. Codebooks reuse the
    * deterministic Lloyd's recipes of the components ([[trainCentroids]] +
    * [[trainPq]] on raw vectors — non-residual PQ, the simpler public
    * variant; residual encoding is a recall refinement, not a structural
    * change), trained together by [[trainIvfPq]]: `trainIters` corpus
    * passes for both codebooks, bit-identical to training each alone. The persisted index a deployment would write is the
    * (list, vec_id, code) table partitioned by list — the scan then reads
    * nprobe/nlist of an already-32×-smaller table. `candidateCount`
    * counts (query, row) pairs ADC-scored — the honest scanned ledger. */
  def ivfPqTopK(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      queries: Array[Embedded],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      dims: Int = 64,
      m: Int = 8,
      ksub: Int = 256,
      // -1 = scale-aware autoRerank over the PROBED row count (nprobe/nlist
      // of the corpus — the rows this path actually ADC-scores)
      rerank: Int = -1,
      trainIters: Int = 5,
      candidateCount: Option[org.apache.spark.util.LongAccumulator] = scala.None
  ): Dataset[Neighbor] = {
    import spark.implicits._
    val (centroids, cb) = trainIvfPq(spark, corpus, nlist, dims, m, ksub, trainIters)
    val bc = spark.sparkContext.broadcast(centroids)
    val bcb = spark.sparkContext.broadcast(cb)
    val codes = corpus.map { e =>
      (nearestCentroid(e.embedding, bc.value), e.vec_id, bcb.value.encode(e.embedding))
    }
    // inverted probe map (list → query indexes probing it) + per-query ADC
    // tables + per-(subspace, centroid) norm² — all broadcast, all tiny
    val probeMap: Map[Int, Array[Int]] = queries.indices
      .flatMap { qi =>
        centroids.indices
          .sortBy(i => (-cosine(queries(qi).embedding, centroids(i)), i))
          .take(nprobe).map(l => (l, qi))
      }
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).toArray) }
    val cnorm2: Array[Array[Double]] = cb.centroids.map(_.map(c => dot(c, c)))
    // a corpus smaller than ksub trains fewer centroids — size the tables
    // by the codebook, not the requested ksub
    val dotTabs: Array[Array[Array[Double]]] = queries.map { q =>
      Array.tabulate(cb.m, cb.centroids(0).length) { (s, j) =>
        val c = cb.centroids(s)(j)
        val off = s * cb.dsub
        var d = 0.0
        var i = 0
        while (i < cb.dsub) { d += q.embedding(off + i).toDouble * c(i); i += 1 }
        d
      }
    }
    val qnorms = queries.map(q => norm(q.embedding))
    val bq = spark.sparkContext.broadcast(
      (queries.map(_.vec_id), dotTabs, qnorms, cnorm2, probeMap))
    val take = math.max(k,
      if (rerank > 0) rerank else autoRerank(corpus.count() * nprobe / nlist))
    val empty = Array.empty[Int]
    val approx = codes.mapPartitions { it =>
      val (qids, tabs, qn, cn2, pm) = bq.value
      val heaps = qids.map(_ => scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }))
      it.foreach { case (list, id, code) =>
        val qis = pm.getOrElse(list, empty)
        if (qis.nonEmpty) {
          var nrm2 = 0.0
          var s = 0
          while (s < code.length) { nrm2 += cn2(s)(code(s) & 0xff); s += 1 }
          val nrm = math.sqrt(nrm2)
          var x = 0
          while (x < qis.length) {
            val qi = qis(x)
            if (id != qids(qi)) {
              candidateCount.foreach(_.add(1L))
              val tab = tabs(qi)
              var d = 0.0
              var t = 0
              while (t < code.length) { d += tab(t)(code(t) & 0xff); t += 1 }
              val denom = qn(qi) * nrm
              val c = if (denom == 0.0) 0.0 else d / denom
              val h = heaps(qi)
              if (h.size < take) h.enqueue((c, id))
              else {
                val (wc, wid) = h.head
                if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((c, id)) }
              }
            }
            x += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qids(qi), c, id) }
      }
    }.toDF("query_id", "approx_cosine", "neighbor_id")
    exactRerank(spark, corpus, approx, queries, k, take)
  }

  /** Embedding-cosine near-duplicate pairs: sign-sketch blocking with 1-bit
    * multi-probe + exact verify ≥ threshold (the near-dup analogue of ANN).
    *
    * Each vector lands in its HOME bucket plus the `bits` one-bit-flipped
    * buckets (bits+1 rows/vector), and a pair is compared whenever one side
    * is home in a bucket the other reaches — i.e. whenever the sketches
    * differ by ≤ 1 bit. Exact-sketch-only blocking misses true near-dups
    * sitting one hyperplane sign apart (a near-boundary pair flips exactly
    * one bit); the probe closes that recall gap deterministically, the same
    * trick [[lshTopK]] uses. Cost: (bits+1)× the blocking shuffle — still
    * O(corpus), never all-pairs.
    *
    * Sketch space is FIXED (2^bits), so bucket population grows linearly
    * with corpus size and one dense embedding cluster (boilerplate pages)
    * concentrates in a handful of buckets: a bucket larger than `maxBucket`
    * enumerates star + sorted-adjacent chain candidates (O(N)) instead of
    * all pairs — the same counted-cap discipline as
    * [[graft.pipeline.Dedup.candidatePairs]]. Capped buckets are lossy by
    * construction (a pair survives only through a verifying star/chain
    * candidate); the accumulator counts them so a run reports the
    * degradation instead of hiding it. */
  def cosineNearDups(
      spark: SparkSession,
      corpus: Dataset[Embedded],
      threshold: Double,
      bits: Int = 16,
      dims: Int = 64,
      maxBucket: Int = Dedup.MaxBucket,
      cappedBuckets: Option[org.apache.spark.util.LongAccumulator] = scala.None
  ): DataFrame = {
    import spark.implicits._
    val planes = hyperplanes(dims, bits)
    val bp = spark.sparkContext.broadcast(planes)
    corpus.flatMap { e =>
        val sk = signSketch(e.embedding, bp.value)
        Iterator.single((e.vec_id, e.embedding, sk, true)) ++
          Iterator.range(0, bits).map(b => (e.vec_id, e.embedding, sk ^ (1L << b), false))
      }
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._1)
        def emit(a: (Long, Array[Float], Long, Boolean),
                 b: (Long, Array[Float], Long, Boolean)): Iterator[(Long, Long, Double)] = {
          if (a._1 != b._1 && (a._4 || b._4)) { // at least one side is home here
            val c = cosine(a._2, b._2)
            if (c >= threshold) Iterator.single((math.min(a._1, b._1), math.max(a._1, b._1), c))
            else Iterator.empty
          } else Iterator.empty
        }
        if (rows.length > maxBucket) {
          cappedBuckets.foreach(_.add(1L))
          val anchor = rows(0)
          (rows.iterator.drop(1).map(r => (anchor, r)) ++
            rows.iterator.zip(rows.iterator.drop(1))).flatMap { case (a, b) => emit(a, b) }
        } else {
          for {
            i <- rows.indices.iterator
            j <- (i + 1) until rows.length
            p <- emit(rows(i), rows(j))
          } yield p
        }
      }
      .distinct() // a hamming-1 pair meets in both homes; enumerate once
      .toDF("vec_a", "vec_b", "cosine")
  }
}

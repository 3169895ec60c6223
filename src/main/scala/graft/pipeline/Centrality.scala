package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Harmonic centrality over the crawl's link graph — the ranking metric
  * Common Crawl publishes for its host-level webgraph (Boldi & Vigna,
  * "Axioms for centrality", Internet Math 2014): `H(v) = Σ_{u≠v} 1/d(u,v)`
  * over finite shortest-path distances INTO v. Unlike PageRank it has no
  * damping parameter and is provably rank-monotone under edge addition,
  * which is why the public webgraph rankings prefer it; a crawler uses it
  * as the seed-quality / frontier-priority signal next to
  * [[CrawlQueries.pageRank]], [[Hits]] and [[TrustRank]] (the reference
  * has no link analysis at all — BFS depth is its only priority input).
  *
  * Two kernels, one loop shape:
  *
  *  - [[harmonicKernel]] — EXACT multi-source BFS (the verification twin).
  *    Sources are packed 64-per-long (the MS-BFS trick, Then et al.,
  *    VLDB 2015): node state is (url, group, bitmask), a round is one
  *    edges⋈frontier join + `bit_or` aggregation, and newly-set bits at
  *    round t contribute `1/t`. All arithmetic is exact-integer
  *    ([[DistScale]] = lcm(1..[[MaxDist]]) so `DistScale/t` is integral) —
  *    bit-identical at any parallelism and independently re-executable by
  *    the DuckDB twin ([[harmonicSql]], a recursive CTE). State is
  *    n²/64 longs: the right tool up to ~10^6 nodes, NOT the 10^8-host
  *    deployment path.
  *
  *  - [[hyperballKernel]] — the scale path (HyperBall: Boldi & Vigna,
  *    WWW 2013 companion): each node carries a [[HllM]]-register
  *    HyperLogLog counter of "nodes that reach me", a round unions
  *    registers along reversed edges (element-wise max — associative,
  *    commutative, idempotent, so map-side combine is exact and re-sends
  *    are free), and the per-round cardinality DELTA estimates
  *    `|ball(t)| - |ball(t-1)|`, accumulated as `Σ Δ_t/t`. Per-node state
  *    is [[HllM]] bytes regardless of corpus size — at 10^8 hosts the
  *    whole state is ~6.4 GB spread over the cluster, and every round is
  *    one keyed join + aggregation. Registers are deterministic (max is
  *    order-free), so the estimates are parallelism-invariant and the
  *    output freezes as a fixture oracle; accuracy vs the exact kernel is
  *    gated in CentralitySpec.
  *
  * Truncation: both kernels run exactly [[MaxDist]] rounds — harmonic
  * centrality truncated at radius 12 (contributions beyond distance 12 are
  * < 1/13 each and the synthetic graph's diameter is smaller; at
  * deployment the HyperBall loop instead stops when no register changes,
  * the paper's criterion).
  */
object Centrality {

  /** BFS radius — both kernels and the SQL twin truncate here. */
  val MaxDist = 12

  /** lcm(1..12): `DistScale / d` is an exact integer for every d ≤ 12,
    * so `h_scaled = Σ_d cnt_d · (DistScale/d)` needs no float math. */
  val DistScale = 27720L

  /** Fetchable page-level link edges (the [[Hits]]/[[TrustRank]] graph). */
  private def pageEdges(spark: SparkSession, dir: String): DataFrame =
    CrawlQueries.linkEdgesRaw(spark, dir).select("src", "dst")
      .filter(col("dst").startsWith("http"))

  // ------------------------------------------------- exact MS-BFS kernel --

  /** Exact truncated harmonic centrality of every node in `edgesIn`
    * (direction: edges are followed forward, so a node's score counts the
    * nodes that can REACH it — the Common Crawl convention). Output per
    * node: `h_scaled` (= [[DistScale]]·H(v), exact integer), `n_reached`
    * (finite-distance sources within [[MaxDist]]), `max_d`. */
  def harmonicKernel(spark: SparkSession, edgesIn: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = edgesIn.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct()
    // dense source index via range-partitioned sort + zipWithIndex (the
    // CrawlEngine total-order-rank idiom — no single-partition window)
    val indexed = nodes.orderBy("url").as[String].rdd.zipWithIndex()
      .toDF("url", "idx").localCheckpoint()
    val init = indexed.select(col("url"),
      (col("idx") / 64).cast("int").as("grp"),
      expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))").as("mask"))
    var seen = init.localCheckpoint()     // bits with d(u,v) ≤ t (self at t=0)
    var frontier = seen                   // bits with d(u,v) = t exactly
    val counts = Vector.newBuilder[DataFrame]
    // hand-written, not Rounds: the returned plan reads every round's
    // frontier (through `counts`); only the superseded seen mask is
    // released, and the last round's mask, which nothing reads, is never built
    for (t <- 1 to MaxDist) {
      frontier = harmonicStep(edges, frontier, seen)
        .localCheckpoint() // lineage cut: constant executed-plan size per round
      counts += frontier.groupBy("url")
        .agg(sum(expr("bit_count(mask)")).cast("long").as("cnt"))
        .withColumn("d", lit(t))
      val prev = seen
      if (t < MaxDist) seen = seen.union(frontier).groupBy("url", "grp")
        .agg(expr("bit_or(mask)").as("mask")).localCheckpoint()
      Rounds.releaseBlocks(prev)
    }
    val reach = counts.result().reduce(_ union _)
      .groupBy("url")
      .agg(sum(expr(s"cnt * ($DistScale div d)")).as("h_scaled"),
        sum("cnt").as("n_reached"),
        max("d").cast("long").as("max_d"))
    indexed.select("url").join(reach, Seq("url"), "left")
      .na.fill(0L, Seq("h_scaled", "n_reached", "max_d"))
      .orderBy("url")
  }

  /** One MS-BFS expansion step (the loop body, factored so PlanCheck can
    * audit the per-round physical plan the kernel actually runs): bits
    * that reach v in ≤ t+1 hops arrive along in-edges of v; the keyed
    * bit_or combines map-side, then the seen-mask left-join keeps only
    * newly-lit bits. */
  private[graft] def harmonicStep(
      edges: DataFrame, frontier: DataFrame, seen: DataFrame): DataFrame = {
    val prop = edges
      .join(frontier.withColumnRenamed("url", "src"), "src")
      .groupBy(col("dst").as("url"), col("grp"))
      .agg(expr("bit_or(mask)").as("m"))
    prop
      // shuffle_hash: same per-round no-sort discipline as pageRankRound
      .join(seen.withColumnRenamed("mask", "old").hint("shuffle_hash"),
        Seq("url", "grp"), "left")
      .withColumn("mask", expr("m & ~coalesce(old, CAST(0 AS BIGINT))"))
      .filter(col("mask") =!= 0)
      .select("url", "grp", "mask")
  }

  /** Contract query `q_harmonic`: exact truncated harmonic centrality per
    * page over the fetchable link graph. */
  def harmonic(spark: SparkSession, dir: String): DataFrame =
    harmonicKernel(spark, pageEdges(spark, dir))

  /** DuckDB twin: a recursive CTE enumerates all walks of length ≤
    * [[MaxDist]] (set-dedup per (src,dst,d) keeps it ≤ n²·[[MaxDist]]
    * states), `min(d)` is the shortest-path distance, and the identical
    * integer `DistScale // d` sum re-derives every output value. */
  def harmonicSql(edgesSelect: String): String =
    s"""WITH RECURSIVE
       |edges AS (SELECT DISTINCT src, dst FROM ($edgesSelect)
       |  WHERE dst LIKE 'http%' AND src <> dst),
       |-- DISTINCT-over-UNION-ALL, not bare UNION: under WITH RECURSIVE,
       |-- DuckDB (≤1.0) gives EVERY top-level-UNION CTE recursive union
       |-- semantics, which appends the second branch without set-dedup
       |nodes AS (SELECT DISTINCT url FROM (
       |  SELECT src AS url FROM edges UNION ALL SELECT dst FROM edges)),
       |walk (src, dst, d) AS (
       |  SELECT src, dst, 1 FROM edges
       |  UNION
       |  SELECT w.src, e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.dst
       |  WHERE w.d < $MaxDist),
       |dist AS (SELECT src, dst, min(d) AS d FROM walk
       |  WHERE src <> dst GROUP BY src, dst)
       |SELECT n.url,
       |  CAST(coalesce(sum($DistScale // d.d), 0) AS BIGINT) AS h_scaled,
       |  CAST(count(d.src) AS BIGINT) AS n_reached,
       |  CAST(coalesce(max(d.d), 0) AS BIGINT) AS max_d
       |FROM nodes n LEFT JOIN dist d ON d.dst = n.url
       |GROUP BY n.url ORDER BY n.url""".stripMargin

  // ------------------------------------------------------ HyperBall kernel --

  /** HLL registers per node (m=64, p=6): standard error 1.04/√64 ≈ 13%. */
  val HllM = 64
  private val HllAlpha = 0.709 // published α₆₄ (Flajolet et al., AofA 2007)
  private val HashSeed = 0x9e3779b97f4a7c15L

  private[pipeline] def hllInit(url: String): Array[Byte] = {
    val regs = new Array[Byte](HllM)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(url), HashSeed)
    val j = (h & (HllM - 1)).toInt
    val w = h >>> 6
    regs(j) = if (w == 0L) 59 else (java.lang.Long.numberOfLeadingZeros(w) - 5).toByte
    regs
  }

  private[pipeline] def hllEstimate(regs: Array[Byte]): Double = {
    var sum = 0.0; var zeros = 0; var i = 0
    while (i < regs.length) {
      sum += java.lang.Math.scalb(1.0, -regs(i).toInt) // exact 2^-r
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = HllAlpha * HllM * HllM / sum
    if (e <= 2.5 * HllM && zeros > 0) HllM * StrictMath.log(HllM.toDouble / zeros)
    else e
  }

  private def regMax(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { out(i) = if (a(i) >= b(i)) a(i) else b(i); i += 1 }
    out
  }

  /** Element-wise register max — associative/commutative/idempotent, so
    * Spark's map-side partial aggregation is exact (the [[Cardinality]]
    * KmvAgg discipline). */
  final class RegMaxAgg
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Array.empty[Byte]
    override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = regMax(buf, in)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = regMax(a, b)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** HyperBall: per node the estimated in-ball size at radius [[MaxDist]]
    * (`est_ball_milli`) and the estimated harmonic centrality
    * (`harmonic_milli` = 1000·Σ Δ_t/t, Δ_t clamped ≥ 0). Deterministic at
    * any parallelism — registers merge by max, estimates are pure
    * per-row functions of the registers — so the output freezes as a
    * fixture oracle. */
  def hyperballKernel(spark: SparkSession, edgesIn: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = edgesIn.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct().localCheckpoint()
    val agg = new RegMaxAgg().toColumn
    // state: url, regs, est of |ball(t)|, harmonic accumulator
    val init = edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url"))).distinct()
      .as[String]
      .map { u =>
        val regs = hllInit(u)
        (u, regs, hllEstimate(regs), 0.0)
      }
      .toDF("url", "regs", "est", "h")
      .localCheckpoint()
    val last = Rounds.iterate(init, MaxDist) { (state, t) =>
      val prop = edges
        .join(state.select(col("url").as("src"), col("regs")), "src")
        .select(col("dst"), col("regs"))
        .as[(String, Array[Byte])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(agg.name("pregs"))
        .toDF("url", "pregs")
      state.join(prop, Seq("url"), "left")
        .as[(String, Array[Byte], Double, Double, Array[Byte])]
        .map { case (u, regs, est, h, pregs) =>
          val merged = if (pregs == null) regs else regMax(regs, pregs)
          val e2 = hllEstimate(merged)
          val delta = math.max(0.0, e2 - est)
          (u, merged, e2, h + delta / t)
        }
        .toDF("url", "regs", "est", "h")
    }
    last.select(col("url"),
        round(col("est") * 1000).cast("long").as("est_ball_milli"),
        round(col("h") * 1000).cast("long").as("harmonic_milli"))
      .orderBy("url")
  }

  /** Contract query `q_harmonic_hll`: the HyperBall sketch over the same
    * fetchable link graph as `q_harmonic` (fixture oracle; accuracy vs
    * the exact kernel is gated in CentralitySpec). */
  def harmonicHll(spark: SparkSession, dir: String): DataFrame =
    hyperballKernel(spark, pageEdges(spark, dir))
}

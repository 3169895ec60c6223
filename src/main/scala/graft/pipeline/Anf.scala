package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate neighborhood function + effective diameter of the host
  * graph (`q_anf`) — the DISTANCE-distribution half of web-graph
  * measurement (Palmer/Gibbons/Faloutsos "ANF", KDD'02; Boldi/Vigna's
  * HyperBall runs exactly this with HLL counters to measure the web's
  * effective diameter): N(r) = Σ_v |ball(v, r)| for r = 0..R, i.e. how
  * many (source, target) pairs are within r hops. [[Bowtie]] answers
  * "WHICH hosts are mutually reachable"; the neighborhood function
  * answers "HOW FAR apart is everything" — the crawl-ops read is wave
  * budgeting (a BFS crawl's wave-r frontier is bounded by N(r)−N(r−1))
  * and the classic small-world check (effective diameter = the smallest
  * radius covering ≥ 90% of all reachable pairs).
  *
  * Mechanism — HyperBall with the HOUSE sketch: per node a KMV bottom-K
  * set ([[Cardinality.KmvAgg]], the same 44-bit md5 hash and the same
  * integer estimator as `q_host_cardinality`) over the member hashes of
  * its ball. Round r unions every node's sketch with its neighbors'
  * round-(r−1) sketches — ball(v, r) = {v} ∪ ⋃_{u∈N(v)} ball(u, r−1)
  * holds exactly, and KMV is a set sketch (order/partitioning-invariant,
  * mergeable by bottom-K union), so the round-r sketch is a pure
  * function of the edge set. KMV over HLL deliberately, as everywhere in
  * this engine: DuckDB can REPLAY it (window top-K per node per round)
  * instead of trusting a frozen output. Nodes whose ball stays under K
  * members are EXACT (the estimator's small branch) — on graphs with
  * balls ≤ K this operator IS exact BFS counting, which is what the spec
  * pins.
  *
  * Output: one row per radius r — n_pairs (Σ per-node estimates),
  * delta vs r−1 (the wave-frontier mass), permille of the final-radius
  * total, and the effective diameter (min r with permille ≥ 900)
  * repeated on every row ([[CorpusDrift]]'s global-metrics convention).
  *
  * 100-TB shape: per round ONE edges⋈sketch keyed join + ONE typed
  * KMV aggregation with map-side partial combine — a hub's union input
  * is deg·K hashes but its reduced state is K longs, so no window over
  * the corpus, no per-node collection growth; per-round lineage cuts.
  * Sketch rows are (host, 8-byte hash) pairs — the shuffle is keys-only.
  * The planted 6-host chain stretches the corpus diameter so the
  * curve's tail (and the 90% threshold) is non-trivial by construction.
  */
object Anf {

  /** Per-node KMV size: balls under 32 members are counted EXACTLY (the
    * whole contract graph), larger balls get the (K−1)·2^44/h_K estimate. */
  val K = 32

  /** Pinned rounds — covers the contract graph's diameter with slack
    * (spec-proven: the curve is flat over the final rounds). */
  val Rounds = 10

  /** Effective-diameter threshold: min r covering ≥ 900‰ of all pairs. */
  val EffPermille = 900L

  /** Planted path graph anf-c0 — … — anf-c5 (own component, diameter 5):
    * forces N(r) to keep growing until r = 5 whatever the corpus shape. */
  private[pipeline] val AnfPlantPairs: Seq[(String, String)] =
    (0 until 5).map(i => (s"anf-c$i.example", s"anf-c${i + 1}.example"))

  private def anfPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      AnfPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Neighborhood function over any (a, b) host-pair frame, undirected. */
  def anf(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val und = Communities.undirected(pairsIn)
    val nodes = und.select(col("a").as("host")).distinct().localCheckpoint()
    val kmv = new Cardinality.KmvAgg(K)
    def ballSum(sk: DataFrame): Long =
      sk.as[(String, Array[Long])]
        .map { case (_, mins) => Cardinality.estimate(mins, K) }
        .reduce(_ + _)
    // r = 0: every ball is exactly {v}
    val singletons = nodes
      .select(col("host"), Cardinality.urlHashCol(col("host")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2).agg(kmv.toColumn.name("mins"))
      .toDF("host", "mins").localCheckpoint()
    val sums = Array.ofDim[Long](Rounds + 1)
    // each round first sums the balls of the sketch it grows
    val last = graft.pipeline.Rounds.iterate(singletons, Rounds) { (sketch, r) =>
      sums(r - 1) = ballSum(sketch)
      val own = sketch.select(col("host"), explode(col("mins")).as("h"))
      val nbr = und
        .join(sketch.withColumnRenamed("host", "b"), "b")
        .select(col("a").as("host"), explode(col("mins")).as("h"))
      own.union(nbr)
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2).agg(kmv.toColumn.name("mins"))
        .toDF("host", "mins")
    }
    sums(Rounds) = ballSum(last)
    val total = sums(Rounds)
    val eff = (0 to Rounds).find(r => sums(r) * 1000L >= EffPermille * total).get.toLong
    (0 to Rounds).map { r =>
      (r.toLong, sums(r), if (r == 0) sums(0) else sums(r) - sums(r - 1),
        sums(r) * 1000L / total, eff)
    }.toDF("r", "n_pairs", "delta", "permille", "eff_diameter")
      .orderBy("r")
  }

  /** Driver-contract query: neighborhood function of the corpus inter-host
    * graph plus the planted diameter-5 chain. */
  def anfQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    anf(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(AnfPlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin: the full HyperBall replay — per round, per node, the
    * bottom-K union (window top-K over the same 44-bit md5 member hashes)
    * and the same integer estimator, as MATERIALIZED chained CTEs. */
  def anfSql(edgesSelect: String): String = {
    val rounds = (1 to Rounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT host, h FROM (
         |    SELECT host, h, row_number() OVER (PARTITION BY host ORDER BY h) AS rn
         |    FROM (
         |      SELECT DISTINCT host, h FROM (
         |        SELECT host, h FROM s${i - 1}
         |        UNION ALL
         |        SELECT e.a AS host, x.h FROM un e JOIN s${i - 1} x ON x.host = e.b)))
         |  WHERE rn <= $K),
         |n$i AS (
         |  SELECT $i AS r, CAST(sum(est) AS BIGINT) AS n_pairs FROM (
         |    SELECT host,
         |      CASE WHEN count(*) < $K THEN count(*)
         |           ELSE ${K - 1} * ${Cardinality.HashSpace} // max(CASE WHEN rn = $K THEN h END)
         |      END AS est
         |    FROM (SELECT host, h, row_number() OVER (PARTITION BY host ORDER BY h) AS rn
         |          FROM s$i)
         |    GROUP BY host))""".stripMargin
    }.mkString(",\n")
    val allN = (0 to Rounds).map(i => s"SELECT * FROM n$i").mkString(" UNION ALL ")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $anfPlantSql)
       |  WHERE a <> b),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |s0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS host,
       |    CAST(('0x' || substr(md5(a), 1, 11)) AS BIGINT) AS h
       |  FROM un),
       |n0 AS (SELECT 0 AS r, CAST(count(*) AS BIGINT) AS n_pairs FROM s0),
       |$rounds,
       |curve AS MATERIALIZED (SELECT * FROM ($allN)),
       |tot AS (SELECT n_pairs AS total FROM curve WHERE r = $Rounds),
       |eff AS (
       |  SELECT min(r) AS eff_diameter FROM curve, tot
       |  WHERE n_pairs * 1000 >= $EffPermille * total)
       |SELECT CAST(c.r AS BIGINT) AS r, c.n_pairs,
       |  CAST(c.n_pairs - coalesce(p.n_pairs, 0) AS BIGINT) AS delta,
       |  CAST(c.n_pairs * 1000 // t.total AS BIGINT) AS permille,
       |  CAST(e.eff_diameter AS BIGINT) AS eff_diameter
       |FROM curve c
       |LEFT JOIN curve p ON p.r = c.r - 1
       |CROSS JOIN tot t CROSS JOIN eff e
       |ORDER BY c.r""".stripMargin
  }
}

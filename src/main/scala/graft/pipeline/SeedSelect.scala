package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy max-coverage seed selection (`q_seed_select`) — which k hosts
  * should seed the crawl so its first waves REACH the most of the known
  * graph? The budgeted-coverage framing of seed choice (max-k-cover greedy
  * with its (1−1/e) guarantee, Nemhauser et al. 1978; seed selection for
  * crawls per Zheng/Dmitriev/Giles "Graph-based seed selection for
  * web-scale crawlers", CIKM'09): coverage of a candidate = its radius-2
  * FORWARD ball (what a crawl seeded there fetches in two waves), and the
  * greedy invariant is MARGINAL gain — the second seed is the one adding
  * the most hosts NOT already covered by the first, which is exactly where
  * naive "top-k by degree/ball size" goes wrong on overlapping
  * neighborhoods (the spec pins that distinction on planted overlapping
  * stars).
  *
  * Mechanism: the radius-2 ball table is built ONCE — self ∪ 1-hop ∪
  * 2-hop distinct (s, t) pairs via one self-join of the edge list — then k
  * greedy rounds, each ONE anti-join of the ball table against the covered
  * set + one map-side-combined count per candidate + one bounded
  * TakeOrdered(1) (ties to the smaller host). Rounds stop early when
  * marginal gain hits zero everywhere (coverage saturated) — both engines
  * emit exactly the non-empty rounds.
  *
  * Output: one row per selected seed — (round, seed, gain, covered) with
  * `covered` the cumulative distinct-host coverage after the pick.
  *
  * 100-TB shape: the ball table is the scale dial — radius 2 keeps it one
  * self-join (at 10^10 urls you build it host-granular, exactly as here,
  * where it is orders of magnitude smaller than the page graph); rounds
  * are k, not corpus-sized; the covered set is hosts-only; per-round
  * lineage cuts. The argmax is a 1-row driver read per round
  * ([[Bowtie]]'s pivot discipline).
  *
  * (Reference scope: rust-scraper takes its seed list as given
  * (cli/args.rs url arguments); this is the operator that CHOOSES that
  * list from a prior crawl's graph.)
  */
object SeedSelect {

  /** Seeds to select. */
  val SeedK = 5

  /** Planted overlapping stars, own component: hub covers 7 hosts
    * (itself + 6 leaves), mid covers 5 (itself + 4 leaves) but only 3
    * MARGINAL after hub (its l5/l6 overlap hub's ball) — the greedy-vs-
    * top-k-by-size distinction made flesh. */
  private[pipeline] val SeedPlantPairs: Seq[(String, String)] =
    (1 to 6).map(i => ("seedsel-hub.example", s"seedsel-l$i.example")) ++
      Seq("seedsel-l5.example", "seedsel-l6.example",
        "seedsel-m1.example", "seedsel-m2.example")
        .map(t => ("seedsel-mid.example", t))

  private def seedPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      SeedPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Greedy max-coverage over any (a, b) directed host-pair frame. */
  def seedSelect(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val dir = pairsIn.filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val hop2 = dir.as("x").join(dir.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("s"), col("y.b").as("t"))
    val ball = dir.select(col("a").as("s"), col("a").as("t"))
      .union(dir.select(col("b").as("s"), col("b").as("t")))
      .union(dir.select(col("a").as("s"), col("b").as("t")))
      .union(hop2)
      .distinct().localCheckpoint()
    var coveredN = 0L
    val picks = Seq.newBuilder[(Long, String, Long, Long)]
    // a ball already covered picks nothing: the round keeps its input and
    // the loop stops
    var exhausted = false
    val (last, _) = Rounds.iterateUntil(ball.select("t").limit(0), SeedK) { (covered, r) =>
      val marginal = ball.join(covered, Seq("t"), "left_anti")
        .groupBy("s").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), asc("s")).limit(1).collect()
      exhausted = marginal.isEmpty
      if (exhausted) covered
      else {
        val (seed, gain) = (marginal(0).getString(0), marginal(0).getLong(1))
        coveredN += gain
        picks += ((r.toLong, seed, gain, coveredN))
        covered.union(ball.filter(col("s") === seed).select("t")).distinct()
      }
    }((_, _) => exhausted)
    Rounds.releaseBlocks(last)
    picks.result().toDF("round", "seed", "gain", "covered").orderBy("round")
  }

  /** Driver-contract query: greedy seeds over the corpus inter-host graph
    * plus the planted overlapping stars. */
  def seedSelectQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    seedSelect(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(SeedPlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin: ball construction + every greedy round re-executed as
    * MATERIALIZED chained CTEs (anti-join marginal count, argmax with the
    * same tie-break, cumulative covered set). */
  def seedSelectSql(edgesSelect: String): String = {
    val rounds = (1 to SeedK).map { i =>
      s"""pk$i AS MATERIALIZED (
         |  SELECT $i AS round, s AS seed, g AS gain FROM (
         |    SELECT b.s, count(*) AS g
         |    FROM ball b
         |    WHERE b.t NOT IN (SELECT t FROM cv${i - 1})
         |    GROUP BY b.s)
         |  ORDER BY g DESC, s ASC LIMIT 1),
         |cv$i AS MATERIALIZED (
         |  SELECT t FROM cv${i - 1}
         |  UNION
         |  SELECT b.t FROM ball b JOIN pk$i p ON b.s = p.seed)""".stripMargin
    }.mkString(",\n")
    val allPk = (1 to SeedK)
      .map(i => s"SELECT round, seed, gain, (SELECT count(*) FROM cv$i) AS covered FROM pk$i")
      .mkString(" UNION ALL ")
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $seedPlantSql)
       |  WHERE a <> b),
       |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM pairs0),
       |ball AS MATERIALIZED (
       |  SELECT DISTINCT s, t FROM (
       |    SELECT a AS s, a AS t FROM e0
       |    UNION ALL SELECT b, b FROM e0
       |    UNION ALL SELECT a, b FROM e0
       |    UNION ALL SELECT x.a, y.b FROM e0 x JOIN e0 y ON x.b = y.a)),
       |cv0 AS (SELECT CAST(NULL AS VARCHAR) AS t WHERE 1 = 0),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round, seed,
       |  CAST(gain AS BIGINT) AS gain, CAST(covered AS BIGINT) AS covered
       |FROM ($allPk) ORDER BY round""".stripMargin
  }
}

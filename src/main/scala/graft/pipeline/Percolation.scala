package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hub-removal attack tolerance of the host graph (`q_percolation`) —
  * Albert/Jeong/Barabási's "Error and attack tolerance of complex
  * networks" (Nature 2000) run as a dataflow: remove the top-k
  * highest-degree hosts (simultaneous targeted attack, k = 0..[[MaxK]],
  * static original-degree ranking — the paper's protocol) and measure the
  * giant weak component that survives. Scale-free graphs are robust to
  * random failure but FRAGILE to hub attack — and for a crawl fleet the
  * hubs are literal single points of failure: one CDN/link-hub host going
  * dark (or robots-blocking the crawler) orphans whole neighborhoods the
  * frontier can then only reach via sitemaps. The curve says how much of
  * the reachable web each successive hub loss costs — the dependency
  * audit behind seed diversification ([[SeedSelect]]) and mirror coverage.
  *
  * Per k, one row: (k, removed_host — the k-th host removed, '-' at k=0,
  * n_hosts remaining, giant component size, giant_permille vs the ORIGINAL
  * node count — the paper's S(k)/N presentation, denominator stable on
  * purpose).
  *
  * Mechanism: degree ranking computed ONCE on the intact graph (one
  * bounded K-row driver read, the [[Bowtie]] pivot discipline); per k one
  * anti-filtered edge set and one run of the shared star-alternation
  * components kernel ([[WebIndex.componentLabels]]); the K+1 independent
  * levels run as concurrent driver-thread jobs (guide-§2.6 overlap — see
  * the note in [[percolation]]). The K+1
  * component runs are the price of the curve and K is a pinned constant —
  * at 100 TB each run is host-granular (the [[WebIndex]] scale note), and
  * the curve is recomputed at audit cadence, not per wave. Isolated survivors are
  * singleton components and can never be the giant at these k (the spec
  * pins the edge set stays non-empty across the horizon).
  *
  * The planted dumbbell — two 5-cliques joined ONLY through a bridge hub
  * wired to all ten — is the textbook fragile structure: it is the intact
  * graph's giant (11 hosts) and its bridge is the global top hub, so the
  * k=1 attack visibly shatters the giant into two 5-cliques and the crown
  * passes to the corpus component. Fragility made a checked number.
  */
object Percolation {

  /** Attack horizon: rows for k = 0..MaxK removed hubs. */
  val MaxK = 4

  /** Planted dumbbell: two 5-cliques bridged by one hub wired to all 10
    * members (degree 10 — the designed global top hub). */
  private[pipeline] val DumbbellPairs: Seq[(String, String)] = {
    def clique(tag: String) = for {
      i <- 0 until 5; j <- i + 1 until 5
    } yield (s"perc-$tag$i.example", s"perc-$tag$j.example")
    val members = (0 until 5).map(i => s"perc-a$i.example") ++
      (0 until 5).map(i => s"perc-b$i.example")
    clique("a") ++ clique("b") ++ members.map(m => ("perc-bridge.example", m))
  }

  private def dumbbellSql: String =
    "SELECT a, b FROM (VALUES " +
      DumbbellPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** The attack curve over any (a, b) host-pair frame. */
  def percolation(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val und = Communities.undirected(pairsIn)
    val n0 = und.select(col("a")).distinct().count()
    // static original-degree attack ranking — ONE bounded K-row driver read
    val ranking = und.groupBy(col("a").as("host")).agg(count(lit(1)).as("d"))
      .orderBy(desc("d"), asc("host")).limit(MaxK).collect()
      .map(_.getString(0)).toSeq
    // the K+1 levels are INDEPENDENT measurements — each one an
    // (a, b)-symmetric filter of the shared checkpointed edge set plus one
    // run of the star-alternation kernel — so they run as CONCURRENT
    // driver-thread jobs (guide §2.6: overlap independent jobs; Spark's
    // FIFO scheduler back-fills each level's tiny-task tail with the next
    // level's stages). At audit-graph scale a level's wall time is almost
    // entirely per-job fixed cost, so the curve's wall time collapses to
    // roughly the slowest single level instead of the sum of all levels —
    // measured ~2× faster than the previous sequential warm-start chain,
    // whose saved CC rounds were cheaper than the serialization it forced.
    // Per level only the LABELS are computed ([[WebIndex.componentLabels]],
    // prepared = true): the giant is the max label-group count — the full
    // sized/sorted [[WebIndex.components]] report is never built per level.
    val rows = Par.all((0 to MaxK).map { k => () =>
      val removed = ranking.take(k)
      val kept =
        if (k == 0) und
        else und.filter(!col("a").isin(removed: _*) && !col("b").isin(removed: _*))
      val labels = WebIndex.componentLabels(kept, prepared = true)
      val giant = labels.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      (k.toLong, if (k == 0) "-" else ranking(k - 1), n0 - k, giant,
        giant * 1000L / n0)
    })
    rows.toDF("k", "removed_host", "n_hosts", "giant", "giant_permille")
      .orderBy("k")
  }

  /** Driver-contract query: the attack curve over the corpus inter-host
    * graph plus the planted dumbbell. */
  def percolationQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    percolation(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(DumbbellPairs.toDF("a", "b")))
  }

  /** DuckDB twin: the static attack ranking plus, per k, an INDEPENDENT
    * exact component method — recursive-CTE transitive closure (component
    * = min reachable host, the [[WebIndex.hostComponentsSql]] discipline;
    * no diameter assumption, matching the convergent Spark kernel) over
    * the filtered edge set. */
  def percolationSql(edgesSelect: String): String = {
    def perK(k: Int): String =
      s"""k${k}e AS MATERIALIZED (
         |  SELECT a, b FROM un
         |  WHERE a NOT IN (SELECT host FROM rk WHERE rn <= $k)
         |    AND b NOT IN (SELECT host FROM rk WHERE rn <= $k)),
         |k${k}reach(host, r) AS (
         |  SELECT DISTINCT a, a FROM k${k}e
         |  UNION
         |  SELECT w.host, e.b FROM k${k}reach w JOIN k${k}e e ON e.a = w.r),
         |k${k}lab AS MATERIALIZED (
         |  SELECT host, min(r) AS label FROM k${k}reach GROUP BY host),
         |g$k AS (
         |  SELECT $k AS k, CAST(max(cnt) AS BIGINT) AS giant FROM (
         |    SELECT count(*) AS cnt FROM k${k}lab GROUP BY label))""".stripMargin
    val allG = (0 to MaxK).map(k => s"SELECT * FROM g$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $dumbbellSql)
       |  WHERE a <> b),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |n0 AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS n FROM un),
       |rk AS MATERIALIZED (
       |  SELECT host, row_number() OVER (ORDER BY d DESC, host ASC) AS rn FROM (
       |    SELECT a AS host, count(*) AS d FROM un GROUP BY a)),
       |${(0 to MaxK).map(perK).mkString(",\n")}
       |SELECT CAST(g.k AS BIGINT) AS k,
       |  CASE WHEN g.k = 0 THEN '-'
       |       ELSE (SELECT host FROM rk WHERE rn = g.k) END AS removed_host,
       |  CAST(n0.n - g.k AS BIGINT) AS n_hosts, g.giant,
       |  CAST(g.giant * 1000 // n0.n AS BIGINT) AS giant_permille
       |FROM ($allG) g CROSS JOIN n0
       |ORDER BY g.k""".stripMargin
  }
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Random-failure tolerance of the host graph (`q_random_percolation`) —
  * the OTHER half of Albert/Jeong/Barabási (Nature 2000), the error-
  * tolerance curve [[Percolation]]'s targeted attack contrasts with:
  * remove each host independently with probability p (Bernoulli site
  * percolation) and measure the surviving giant weak component. Scale-free
  * graphs barely notice random loss at these p while a single-hub attack
  * shatters them — run TOGETHER the two curves tell the crawl operator
  * whether observed frontier shrinkage looks like background host churn
  * (random curve's prediction) or a structural event: a CDN/hub outage or
  * a mass robots block (attack curve's prediction).
  *
  * Determinism: "random" is the 44-bit md5 host hash — a host is removed
  * at level p iff hash44(host) < p·2⁴⁴/1000, so removal is independent,
  * uniform, nested across levels (monotone by construction), and replays
  * bit-for-bit in the oracle. Levels are [[Levels]] permille.
  *
  * Per level one row: (p_permille, n_removed — original hosts whose hash
  * fell below the threshold, n_hosts surviving, giant, giant_permille vs
  * the ORIGINAL node count — the paper's S/N with a stable denominator).
  *
  * Scale shape: identical to [[Percolation]] — host-granular, one filtered
  * edge set + one run of the shared star-alternation component kernel per
  * level, the |Levels| pinned runs scheduled as concurrent driver-thread
  * jobs at audit cadence; the
  * removal counts for ALL levels come from ONE conditional aggregate (no
  * per-level driver reads).
  * Isolated survivors (hosts that keep their hash but lose every edge)
  * are singletons and never the giant at these p — same caveat as the
  * attack curve, same spec pin.
  */
object RandomPercolation {

  /** Failure levels in permille of removal probability. */
  val Levels: Seq[Int] = Seq(0, 125, 250, 500)

  /** Removal threshold for level p: hash44(host) < p·2⁴⁴/1000. */
  def threshold(p: Int): Long = p.toLong * (1L << 44) / 1000L

  /** The error-tolerance curve over any (a, b) host-pair frame. */
  def randomPercolation(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val und = Communities.undirected(pairsIn)
    val hosts = und.select(col("a").as("host")).distinct()
      .withColumn("h", Cardinality.urlHashCol(col("host"))).localCheckpoint()
    // one conditional aggregate yields n0 and every level's removal count
    val cnt = hosts.agg(
      count(lit(1)).as("n0"),
      Levels.map(p =>
        sum(when(col("h") < threshold(p), 1L).otherwise(0L)).as(s"r$p")): _*).head()
    val n0 = cnt.getLong(0)
    val removedAt = Levels.zipWithIndex.map { case (p, i) => p -> cnt.getLong(i + 1) }.toMap
    // the levels are INDEPENDENT measurements — each one an
    // (a, b)-symmetric hash-threshold filter of the shared checkpointed
    // edge set plus one run of the star-alternation kernel — run as
    // CONCURRENT driver-thread jobs (guide-§2.6 overlap, the
    // [[Percolation]] schedule): wall time collapses to roughly the
    // slowest level instead of the sum. Per level only the LABELS are
    // computed ([[WebIndex.componentLabels]], prepared = true); giant =
    // max label-group count.
    val rows = Par.all(Levels.map { p => () =>
      val thr = threshold(p)
      val kept =
        if (p == 0) und
        else und.filter(Cardinality.urlHashCol(col("a")) >= thr &&
          Cardinality.urlHashCol(col("b")) >= thr)
      val labels = WebIndex.componentLabels(kept, prepared = true)
      val giant = labels.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      (p.toLong, removedAt(p), n0 - removedAt(p), giant, giant * 1000L / n0)
    })
    rows.toDF("p_permille", "n_removed", "n_hosts", "giant", "giant_permille")
      .orderBy("p_permille")
  }

  /** Driver-contract query: the error curve over the corpus inter-host
    * graph plus [[Percolation]]'s planted dumbbell — the SAME graph as the
    * attack curve, so the two outputs contrast directly. */
  def randomPercolationQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    randomPercolation(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(Percolation.DumbbellPairs.toDF("a", "b")))
  }

  /** DuckDB twin: same hash thresholds; per level an INDEPENDENT exact
    * component method — recursive-CTE transitive closure
    * ([[WebIndex.hostComponentsSql]] discipline, no diameter assumption,
    * matching the convergent Spark kernel). */
  def randomPercolationSql(edgesSelect: String): String = {
    def h(c: String): String = s"CAST(('0x' || substr(md5($c), 1, 11)) AS BIGINT)"
    def perP(p: Int): String = {
      val thr = threshold(p)
      s"""p${p}e AS MATERIALIZED (
         |  SELECT a, b FROM un
         |  WHERE ${h("a")} >= $thr AND ${h("b")} >= $thr),
         |p${p}reach(host, r) AS (
         |  SELECT DISTINCT a, a FROM p${p}e
         |  UNION
         |  SELECT w.host, e.b FROM p${p}reach w JOIN p${p}e e ON e.a = w.r),
         |p${p}lab AS MATERIALIZED (
         |  SELECT host, min(r) AS label FROM p${p}reach GROUP BY host),
         |g$p AS (
         |  SELECT $p AS p, CAST(max(cnt) AS BIGINT) AS giant FROM (
         |    SELECT count(*) AS cnt FROM p${p}lab GROUP BY label))""".stripMargin
    }
    val dumbbell = "SELECT a, b FROM (VALUES " +
      Percolation.DumbbellPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"
    val allG = Levels.map(p => s"SELECT * FROM g$p").mkString(" UNION ALL ")
    val remCases = Levels.map(p =>
      s"CAST((SELECT count(*) FROM hosts WHERE h < ${threshold(p)}) AS BIGINT)" +
        s" AS r$p").mkString(", ")
    val remPick = Levels.map(p => s"WHEN g.p = $p THEN rm.r$p").mkString(" ")
    s"""WITH RECURSIVE edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $dumbbell)
       |  WHERE a <> b),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |hosts AS MATERIALIZED (
       |  SELECT a AS host, ${h("a")} AS h FROM (SELECT DISTINCT a FROM un)),
       |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts),
       |rm AS (SELECT $remCases),
       |${Levels.map(perP).mkString(",\n")}
       |SELECT CAST(g.p AS BIGINT) AS p_permille,
       |  CAST(CASE $remPick END AS BIGINT) AS n_removed,
       |  CAST(n0.n - (CASE $remPick END) AS BIGINT) AS n_hosts,
       |  g.giant,
       |  CAST(g.giant * 1000 // n0.n AS BIGINT) AS giant_permille
       |FROM ($allG) g CROSS JOIN n0 CROSS JOIN rm
       |ORDER BY g.p""".stripMargin
  }
}

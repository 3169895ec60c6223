package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weisfeiler-Leman color refinement (`q_wl_colors`) — 1-WL iterated
  * neighborhood hashing (Weisfeiler & Leman 1968; Shervashidze et al.'s
  * WL kernels, JMLR 2011) over the undirected host graph: start from
  * degree colors, then repeatedly hash (own color, sorted multiset of
  * neighbor colors). The refinement census per round is the structural-
  * role profile of the web graph — hosts sharing a color after r rounds
  * are indistinguishable by any r-hop structural probe, which is exactly
  * the equivalence MIRROR/TEMPLATE farms create ([[Mirrors]] finds
  * content twins; WL finds STRUCTURE twins — a farm of interchangeable
  * doorway hosts collapses into one color class no matter how its pages
  * differ), and the round where the census stops growing is the graph's
  * effective structural depth.
  *
  * One row per round 0..[[Rounds]]: `round`, `n_hosts`, `n_colors`
  * (distinct classes), `max_class` (largest class — the biggest
  * interchangeable-host pool), `singletons` (structurally unique hosts),
  * `converged` (1 when the class count stopped growing vs the previous
  * round). Colors are 44-bit md5 hashes of canonical strings, so both
  * engines derive identical classes.
  *
  * Scale shape (100 TB): per round ONE keyed neighbor aggregation
  * (sorted neighbor-color list per host — work bounded by degree, the
  * adjacency-local discipline) + one keyed census; [[Rounds]] is a
  * pinned constant, each round lineage-cut. The oracle re-executes
  * every round as materialized chained CTEs (same hash, same canonical
  * string).
  */
object WlColors {

  /** Refinement rounds after the degree coloring. */
  val Rounds = 3

  /** Round censuses over any (a, b) host-pair frame. */
  def wlColors(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val und = Communities.undirected(pairsIn.filter(col("a") =!= "" && col("b") =!= ""))
    val rows = Vector.newBuilder[(Long, Long, Long, Long, Long, Long)]
    var prev = -1L
    def census(colors: DataFrame, r: Int): Unit = {
      val c = colors.groupBy("color").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), sum("n"), max("n"),
          sum(when(col("n") === 1, 1L).otherwise(0L))).head()
      val nColors = c.getLong(0)
      rows += ((r.toLong, c.getLong(1), nColors, c.getLong(2), c.getLong(3),
        if (nColors == prev) 1L else 0L))
      prev = nColors
    }
    val degrees = und.groupBy(col("a").as("host"))
      .agg(count(lit(1)).cast("string").as("color")).localCheckpoint()
    // each round first takes the census of the coloring it refines
    val last = graft.pipeline.Rounds.iterate(degrees, Rounds) { (colors, r) =>
      census(colors, r - 1)
      val nbr = und
        .join(colors.select(col("host").as("b"), col("color").as("cb")), "b")
        .groupBy(col("a").as("host"))
        .agg(array_join(sort_array(collect_list(col("cb"))), ",").as("nbrs"))
      colors.join(nbr, "host")
        .select(col("host"),
          Cardinality.urlHashCol(concat(col("color"), lit("|"), col("nbrs"))).cast("string").as("color"))
    }
    census(last, Rounds)
    rows.result()
      .toDF("round", "n_hosts", "n_colors", "max_class", "singletons", "converged")
      .orderBy("round")
  }

  /** Contract query `q_wl_colors` over the corpus inter-host graph. */
  def wlColorsQuery(spark: SparkSession, dir: String): DataFrame =
    wlColors(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b")))

  /** DuckDB twin: every refinement round re-executed as materialized
    * chained CTEs — same canonical string, same 44-bit hash. */
  def wlColorsSql(edgesSelect: String): String = {
    val rounds = (1 to Rounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT c.host,
         |    CAST(CAST(('0x' || substr(md5(c.color || '|' || n.nbrs), 1, 11)) AS BIGINT)
         |         AS VARCHAR) AS color
         |  FROM c${r - 1} c JOIN (
         |    SELECT un.a AS host,
         |      array_to_string(list_sort(list(x.color)), ',') AS nbrs
         |    FROM un JOIN c${r - 1} x ON x.host = un.b
         |    GROUP BY un.a) n ON n.host = c.host),
         |s$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |    CAST(sum(n) AS BIGINT) AS n_hosts,
         |    CAST(count(*) AS BIGINT) AS n_colors,
         |    CAST(max(n) AS BIGINT) AS max_class,
         |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons
         |  FROM (SELECT color, count(*) AS n FROM c$r GROUP BY color))""".stripMargin
    }.mkString(",\n")
    val all = (0 to Rounds).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    val conv = (0 to Rounds).map { r =>
      if (r == 0) "0"
      else s"CASE WHEN (SELECT n_colors FROM s$r) = (SELECT n_colors FROM s${r - 1}) THEN 1 ELSE 0 END"
    }.zipWithIndex.map { case (e, r) => s"WHEN round = $r THEN $e" }.mkString(" ")
    s"""WITH e0 AS ($edgesSelect),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM e0 WHERE dst LIKE 'http%')
       |  WHERE a <> b AND a <> '' AND b <> ''),
       |un AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |c0 AS MATERIALIZED (
       |  SELECT a AS host, CAST(count(*) AS VARCHAR) AS color FROM un GROUP BY a),
       |s0 AS (
       |  SELECT CAST(0 AS BIGINT) AS round,
       |    CAST(sum(n) AS BIGINT) AS n_hosts,
       |    CAST(count(*) AS BIGINT) AS n_colors,
       |    CAST(max(n) AS BIGINT) AS max_class,
       |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons
       |  FROM (SELECT color, count(*) AS n FROM c0 GROUP BY color)),
       |$rounds
       |SELECT round, n_hosts, n_colors, max_class, singletons,
       |  CAST(CASE $conv ELSE 0 END AS BIGINT) AS converged
       |FROM ($all) ORDER BY round""".stripMargin
  }
}

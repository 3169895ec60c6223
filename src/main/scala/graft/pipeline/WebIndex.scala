package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-archive index operators over the crawl's url/link surface:
  *
  *  - [[cdxIndex]] — the SURT-keyed CDX-style url index every web-scale
  *    crawl ships alongside its page store (the reference keeps a flat
  *    visited set + per-page files, url_queue.rs / file_exporter.rs; at
  *    10^10 urls the lookup structure is a SORTED index keyed by a
  *    canonical sort-friendly form of the url, the convention web archives
  *    settled on: reversed host + ')' + path + sorted query).
  *  - [[reciprocalLinks]] — per-host reciprocal-outlink ratio, the classic
  *    link-farm signal (organic endorsement is largely one-way; spam rings
  *    link each other back), feeding the same policy layer as
  *    [[graft.pipeline.Reputation]] / hostRank.
  *
  * Both are engine-portable by construction — plain regex (character
  * classes only, valid java.util.regex AND RE2), split/sort/reverse array
  * ops, and non-negative integer arithmetic — so the DuckDB twins are full
  * independent recomputes over the frozen edge fixture, not frozen outputs.
  *
  * 100-TB shape: the SURT key is a pure codegen projection; the index
  * build is `repartitionByRange(urlkey)` + sort-within-partitions — the
  * one global sort a 100-TB index genuinely needs, with AQE balancing the
  * range splits (the contract query's ORDER BY is that same range-sort
  * shape at driver-collect scale). Reciprocal links is a distinct over
  * host pairs (keys-only, map-side combined) + one self-join on the
  * reversed key — hash exchanges on (a, b) only, never url-sized rows.
  */
object WebIndex {

  /** Planted urls exercising every SURT rule the organic corpus does not
    * reach (mixed case, default ports, www-strip, multi-param sort,
    * valueless params, fragments, host-only paths). ONE definition feeds
    * both engines: [[surtPlant]] (Spark) and [[surtPlantSql]] (DuckDB). */
  private[pipeline] val SurtPlantUrls: Seq[String] = Seq(
    "https://WWW.Example.COM:443/A/B?b=2&a=1&z",
    "http://example.com:80",
    "https://sub.api.example.com/v1/items?id=9&fmt=json#frag",
    "http://example.com/path/only/",
    "https://example.com/?z=1&y=2&x=3")

  private def surtPlant(spark: SparkSession): DataFrame = {
    import spark.implicits._
    SurtPlantUrls.toDF("url")
  }

  /** Single-line on purpose (interpolated into stripMargin templates). */
  private def surtPlantSql: String =
    "SELECT url FROM (VALUES " +
      SurtPlantUrls.map(u => s"('$u')").mkString(", ") + ") v(url)"

  /** SURT (Sort-friendly URI Reordering Transform) key of a url column:
    * lowercase; host with default ports (:80/:443) and a leading `www.`
    * stripped, labels reversed and comma-joined; `)`; path (`/` when
    * empty); query params byte-sorted (a bare or empty `?` drops). The
    * fragment never participates. Session/tracking-param stripping is a
    * deployment policy layered on top, deliberately not baked into the
    * key. Pure codegen'd Columns — no UDF. */
  def surtKeyCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = lower(url)
    val host = regexp_replace(
      regexp_replace(regexp_extract(u, "^https?://([^/?#]+)", 1), ":(80|443)$", ""),
      "^www[.]", "")
    val rev = array_join(reverse(split(host, "[.]")), ",")
    val path0 = regexp_extract(u, "^https?://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(u, "[?]([^#]*)", 1)
    val sortedQ = array_join(array_sort(split(q, "&")), "&")
    concat(rev, lit(")"), path,
      when(q === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** CDX-style index over any single-column `url` frame (factored for
    * direct testing): (url, urlkey, digest), sorted by urlkey — the
    * archive lookup order. */
  def cdx(urls: DataFrame): DataFrame =
    urls.filter(col("url").startsWith("http"))
      .distinct()
      .select(col("url"), surtKeyCol(col("url")).as("urlkey"),
        md5(col("url")).as("digest"))
      .orderBy("urlkey", "url")

  /** Driver-contract query: the CDX index over the corpus link graph's
    * node set plus the SURT plant. */
  def cdxIndex(spark: SparkSession, dir: String): DataFrame = {
    val edges = CrawlQueries.linkEdgesRaw(spark, dir)
    cdx(edges.select(col("src").as("url"))
      .union(edges.select(col("dst").as("url")))
      .union(surtPlant(spark)))
  }

  /** DuckDB twin of [[cdxIndex]]: the SURT rule re-spelled in DuckDB's
    * list/regex vocabulary (string_split is literal where Spark's split is
    * regex — `[.]` vs `.` — list_reverse/list_sort mirror reverse/
    * array_sort; both regexp engines run the identical character-class
    * patterns) over the frozen edge fixture plus the same plant. */
  def cdxIndexSql(edgesSelect: String): String =
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |urls AS (
       |  SELECT DISTINCT url FROM (
       |    SELECT src AS url FROM edges UNION ALL
       |    SELECT dst FROM edges UNION ALL
       |    $surtPlantSql)
       |  WHERE url LIKE 'http%'),
       |parts AS (
       |  SELECT url,
       |    regexp_replace(regexp_replace(
       |      regexp_extract(lower(url), '^https?://([^/?#]+)', 1),
       |      ':(80|443)$$', ''), '^www[.]', '') AS host,
       |    regexp_extract(lower(url), '^https?://[^/?#]+([^?#]*)', 1) AS path0,
       |    regexp_extract(lower(url), '[?]([^#]*)', 1) AS q
       |  FROM urls)
       |SELECT url,
       |  array_to_string(list_reverse(string_split(host, '.')), ',') || ')' ||
       |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |    (CASE WHEN q = '' THEN ''
       |          ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
       |    AS urlkey,
       |  md5(url) AS digest
       |FROM parts
       |ORDER BY urlkey, url""".stripMargin

  /** Planted host pairs guaranteeing both reciprocity outcomes exist
    * regardless of the organic graph: a↔b is a reciprocal ring edge, a→c
    * is unreciprocated (c has no outlinks so it emits no row at all). */
  private[pipeline] val RecipPlantPairs: Seq[(String, String)] = Seq(
    ("spam-farm-a.example", "spam-farm-b.example"),
    ("spam-farm-b.example", "spam-farm-a.example"),
    ("spam-farm-a.example", "independent.example"))

  private def recipPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      RecipPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** Reciprocal-outlink ratio over any (a, b) host-pair frame: per host,
    * distinct outlinked hosts, how many link back, and the ratio in
    * exact permille (non-negative `div` — identical to DuckDB `//`). */
  def reciprocal(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.filter(col("a") =!= col("b")).distinct()
    val rev = pairs.select(col("b").as("a"), col("a").as("b"))
    val out = pairs.groupBy("a").agg(count(lit(1)).as("out_hosts"))
    val rec = pairs.join(rev, Seq("a", "b"), "left_semi")
      .groupBy("a").agg(count(lit(1)).as("reciprocal_hosts"))
    out.join(rec, Seq("a"), "left")
      .na.fill(0L, Seq("reciprocal_hosts"))
      .select(col("a").as("host"), col("out_hosts"), col("reciprocal_hosts"),
        expr("(1000 * reciprocal_hosts) div out_hosts").as("recip_permille"))
      .orderBy("host")
  }

  /** Driver-contract query: reciprocity over the corpus inter-host link
    * graph plus the plant. */
  def reciprocalLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hostPairs = CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(RecipPlantPairs.toDF("a", "b"))
    reciprocal(hostPairs)
  }

  /** Hard ceiling on large-star/small-star alternation rounds before
    * [[components]] fails loudly. The alternation contracts every
    * component to a star in O(log² n) rounds worst-case and ~log n in
    * practice (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — 40 rounds covers any graph this engine could
    * meet; hitting the ceiling means a bug, and silence would mean
    * silently under-merged components, so the guard throws. */
  val CcMaxRounds = 40

  /** Planted 3-host ring connected to nothing else — the corpus graph is
    * organically one giant component plus leaves, so a second non-trivial
    * component must be planted for the operator to demonstrably separate
    * anything. */
  private[pipeline] val CcPlantPairs: Seq[(String, String)] = Seq(
    ("ring-x.example", "ring-y.example"),
    ("ring-y.example", "ring-z.example"))

  private def ccPlantSql: String =
    "SELECT a, b FROM (VALUES " +
      CcPlantPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ") +
      ") v(a, b)"

  /** One large-star round: every node u connects its strictly-larger
    * neighbors to the minimum of its closed neighborhood — tall trees
    * flatten toward local minima. Input/output: a distinct (u, v)
    * edge set with no self-loops. Keys-only shuffles (one keyed min
    * aggregation + one hash join on u). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("lu"), least(col("mv"), col("u")).as("m"))
    sym.join(mins, sym("u") === mins("lu"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: orient every edge large→small, then every node
    * hangs its smaller neighbors (and itself) off the minimum — stars
    * merge through shared members. Same shuffle shape as [[largeStar]]. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min("v").as("m"))
      .select(col("u").as("su"), col("m"))
    oriented.join(mins, oriented("u") === mins("su"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("su").as("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One full alternation round (factored so PlanCheck can audit the
    * per-round physical plan the kernel actually runs). */
  private[graft] def ccRound(e: DataFrame): DataFrame = smallStar(largeStar(e))

  /** Connected components over any (a, b) host-pair frame by
    * large-star/small-star alternation (Kiveris et al., SoCC 2014 — the
    * MapReduce-native CC algorithm): each round is two keyed
    * min-aggregations + two hash joins over the current edge set, and the
    * edge set contracts to one star per component, centered on the
    * component's lexicographically smallest host (a total order both
    * engines share, so the result is deterministic at any parallelism).
    * Rounds run UNTIL CONVERGENCE — O(log n) rounds regardless of
    * component diameter (a diameter-10^6 link chain costs ~20 rounds, not
    * 10^6) — with per-round lineage cuts for a constant plan size, a
    * [[CcMaxRounds]] ceiling that throws rather than under-merge, and a
    * final star-shape audit (every center rootless, every member exactly
    * one center) that makes silent non-convergence structurally
    * impossible. Site-cluster / mirror-farm grouping is the crawl-policy
    * read: budget and reputation should attach to the CLUSTER, not the
    * host alias. */
  def components(pairsIn: DataFrame): DataFrame = {
    val labels = componentLabels(pairsIn)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("component_size"))
    labels.join(sizes, "label")
      .select(col("host"), col("label").as("component"), col("component_size"))
      .orderBy("host")
  }

  /** Label assignment only — one (host, label) row per node, no sizes
    * join, no output sort: the form the nested percolation curves consume
    * per level (they need the giant's size, not [[components]]' sorted
    * sized report — the every-level global sort + sizes join was pure
    * per-level overhead).
    *
    * `prepared = true` asserts the caller's frame is ALREADY symmetric,
    * distinct and self-loop-free (the percolation curves filter a frame
    * this kernel built, and both filter predicates are symmetric in
    * (a, b)), so the symmetrize+distinct shuffle is skipped. */
  private[graft] def componentLabels(pairsIn: DataFrame,
                                     prepared: Boolean = false): DataFrame = {
    val und = if (prepared) pairsIn else Communities.undirected(pairsIn)
    val nodes = und.select(col("a").as("host")).distinct().localCheckpoint()
    val e0 = und.select(col("a").as("u"), col("b").as("v")).distinct().localCheckpoint()
    var eCount = e0.count()
    // fixpoint test: the alternation's potential strictly decreases until
    // the star state, so set-equality with the previous round is exactly
    // convergence. Counts carry across rounds (one count job per round)
    // and the keys-only anti-join runs only when counts agree.
    val (e, converged) = Rounds.iterateUntil(e0, CcMaxRounds)((x, _) => ccRound(x)) { (prev, next) =>
      val nextCount = next.count()
      val same = nextCount == eCount && next.except(prev).isEmpty
      eCount = nextCount
      same
    }
    // the seed edge set is this kernel's own (many-levels callers: the
    // percolation curves run this loop K+1 times per query)
    Rounds.releaseBlocks(e0)
    if (!converged) throw new IllegalStateException(
      s"components: star alternation did not converge in $CcMaxRounds rounds " +
        "— refusing to return possibly under-merged components")
    // star-shape audit: no center may itself point anywhere, and no
    // member may carry two centers — a violated invariant here means the
    // convergence test lied, and the only safe behavior is to fail.
    // Both invariants are checked in ONE job (per-u distinct-center census
    // left-joined against the center set), not two — the audit runs per
    // percolation level, so its per-call job count is paid K+1 times
    val audit = e.groupBy("u").agg(countDistinct("v").as("nv"))
      .join(e.select(col("v").as("u")).distinct().withColumn("ctr", lit(1)),
        Seq("u"), "left")
      .agg(count(when(col("nv") > 1, 1)).as("multi_center"),
        count(col("ctr")).as("center_with_out_edge")).head()
    require(audit.getLong(1) == 0L,
      "components: a star center has an outgoing edge after convergence")
    require(audit.getLong(0) == 0L,
      "components: a node carries two star centers after convergence")
    val parents = e.select(col("u").as("host"), col("v").as("plabel"))
    nodes.join(parents, Seq("host"), "left")
      .select(col("host"), coalesce(col("plabel"), col("host")).as("label"))
  }

  /** Driver-contract query: components over the corpus inter-host graph
    * plus the planted ring. */
  def hostComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    components(CrawlQueries.linkEdgesRaw(spark, dir)
      .filter(col("dst").startsWith("http"))
      .select(Cardinality.hostCol(col("src")).as("a"),
        Cardinality.hostCol(col("dst")).as("b"))
      .union(CcPlantPairs.toDF("a", "b")))
  }

  /** DuckDB twin of [[hostComponents]]: an INDEPENDENT exact method — a
    * recursive-CTE transitive closure, component = min reachable host —
    * rather than a replay of the Spark kernel's star alternation. Both
    * compute the true fixpoint, so agreement cross-checks the algorithm,
    * not just the arithmetic (and unlike the retired bounded-round
    * recurrence, neither side carries a diameter assumption). Closure is
    * quadratic in component size — exactly right at oracle scale, never
    * the cluster path. */
  def hostComponentsSql(edgesSelect: String): String =
    s"""WITH RECURSIVE edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs0 AS (
       |  SELECT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $ccPlantSql)
       |  WHERE a <> b),
       |und AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT a, b FROM pairs0 UNION ALL SELECT b, a FROM pairs0)),
       |reach(host, r) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT w.host, e.b FROM reach w JOIN und e ON e.a = w.r),
       |lab AS (SELECT host, min(r) AS label FROM reach GROUP BY host),
       |sizes AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS component_size
       |  FROM lab GROUP BY label)
       |SELECT l.host, l.label AS component, s.component_size
       |FROM lab l JOIN sizes s ON s.label = l.label
       |ORDER BY l.host""".stripMargin

  /** DuckDB twin of [[reciprocalLinks]]: same host mapping as the other
    * hygiene twins, same plant, full recompute. */
  def reciprocalLinksSql(edgesSelect: String): String =
    s"""WITH edges AS (SELECT src, dst FROM ($edgesSelect)),
       |pairs AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS a,
       |           regexp_extract(dst, '^https?://([^/]+)', 1) AS b
       |    FROM edges WHERE dst LIKE 'http%'
       |    UNION ALL
       |    $recipPlantSql)
       |  WHERE a <> b),
       |outd AS (
       |  SELECT a, CAST(count(*) AS BIGINT) AS out_hosts FROM pairs GROUP BY a),
       |recd AS (
       |  SELECT p.a, CAST(count(*) AS BIGINT) AS reciprocal_hosts
       |  FROM pairs p JOIN pairs r ON p.a = r.b AND p.b = r.a
       |  GROUP BY p.a)
       |SELECT o.a AS host, o.out_hosts,
       |  CAST(coalesce(r.reciprocal_hosts, 0) AS BIGINT) AS reciprocal_hosts,
       |  CAST((1000 * coalesce(r.reciprocal_hosts, 0)) // o.out_hosts AS BIGINT)
       |    AS recip_permille
       |FROM outd o LEFT JOIN recd r ON o.a = r.a
       |ORDER BY host""".stripMargin
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Redirect-chain resolution — the follow-the-Location step every fetcher
  * performs (reference: `wreq::redirect::Policy::limited(10)` at
  * src/application/http_client/client.rs:111,405 and the
  * 301|302|307|308 → NeedsRedirect(location) arm of
  * src/infrastructure/crawler/url_validator.rs:96-106). The reference
  * resolves chains one URL at a time inside the HTTP client; a crawl-scale
  * corpus wants the batch inverse: given a fetch log (url, status,
  * location), resolve EVERY chain to its terminal in one dataflow so
  * canonicalization, frontier dedup, and WARC revisit records can join
  * against `final_url`.
  *
  * Scale shape — pointer doubling, not chain walking: the redirect EDGES
  * (3xx rows only, a few percent of any real log) self-compose
  * [[DoublingRounds]] = ⌈log2 cap⌉ times (`f ∘ f`), so a 10-hop cap costs 4
  * keyed equi self-joins over (src, cur, d) triples ([[Navigation.chainHops]],
  * the one doubling loop) — keys only, no payloads — instead of 10
  * sequential joins over the full log. Each round
  * exactly doubles the followed distance until the chain settles on a
  * non-redirect node, so hop counts come out exact, not approximate.
  * Classification then needs two hash semi-joins (is the terminal itself a
  * redirect source? is it a known fetched url?). Nothing in the plan grows
  * with chain population beyond those keyed shuffles.
  *
  * Outcomes mirror the reference's ValidationResult arms: `ok` (2xx),
  * `gone` (404|410), `error` (other non-redirect statuses and redirects
  * without a Location), and for followed redirects `resolved` (terminal is
  * a fetched url, ≤ [[HopCap]] hops), `dangling` (terminal was never
  * fetched), `too_many` (loops and chains past the cap — reqwest's
  * TooManyRedirects, loops included).
  *
  * The fetch log is derived deterministically from the documents table by
  * the same salted-md5 mechanism as [[Freshness.recrawlSchedule]] (distinct
  * salts), plus a planted matrix covering every decision branch: a 3-hop
  * chain, a 2-loop, a self-loop, a 12-edge chain probing both sides of the
  * hop cap, a dangling off-site Location, a path-absolute relative
  * Location, an unfollowed 303, and a 410. Both engines re-derive the log
  * and re-run all four doubling rounds — the DuckDB oracle is a true
  * independent recompute (unrolled chained CTEs, the pageRank discipline).
  */
object Redirects {

  /** Reference client policy: at most 10 redirects followed. */
  val HopCap = 10

  /** ⌈log2⌉ rounds so every ≤ 16-step chain settles exactly; anything still
    * unsettled after 16 composed steps is past the cap regardless. */
  val DoublingRounds = 4

  private val RedirSalt = ":graft-redir-v1"
  private val StatSalt = ":graft-rstat-v1"
  private val RelSalt = ":graft-rrel-v1"

  /** Planted (url, status, location) rows — every branch of the decision
    * matrix the organic 25%-redirect log cannot guarantee. Shared verbatim
    * with [[redirectResolveSql]]. */
  private[pipeline] val PlantRows: Seq[(String, Long, String)] = {
    val P = "http://plant.example"
    Seq(
      (s"$P/chain/a", 301L, s"$P/chain/b"), // 3-hop chain → resolved
      (s"$P/chain/b", 302L, s"$P/chain/c"),
      (s"$P/chain/c", 307L, s"$P/t"),
      (s"$P/t", 200L, null),
      (s"$P/loop/1", 301L, s"$P/loop/2"), // 2-loop → too_many
      (s"$P/loop/2", 301L, s"$P/loop/1"),
      (s"$P/self", 308L, s"$P/self"), // self-loop → too_many
      (s"$P/dangle", 302L, "http://offsite.example/x"), // → dangling
      (s"$P/rel", 301L, "/rel-target"), // path-absolute Location → resolved
      (s"$P/rel-target", 200L, null),
      (s"$P/see-other", 303L, s"$P/t"), // 303 is NOT followed (reference arm)
      (s"$P/gone", 410L, null)) ++
      // 12-edge chain: deep/2 resolves at exactly the 10-hop cap,
      // deep/1 (11 hops) and deep/0 (12) exceed it
      (0 to 11).map(i => (s"$P/deep/$i", 301L, s"$P/deep/${i + 1}")) :+
      (s"$P/deep/12", 200L, null)
  }

  /** The synthesized fetch log: one row per organic url (25% redirect to the
    * next doc's url — consecutive redirecting ids form multi-hop chains —
    * 25% of those via a path-absolute Location; terminals split
    * 200/404/503) plus [[PlantRows]]. */
  def redirectLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"),
        col("doc_id").cast("long").cast("string").as("ids"), col("source"))
      .withColumn("url", concat(lit("http://"), col("source"), lit(".example/d/"), col("ids")))
    val nxt = base.select((col("id") - 1).as("pid"), col("url").as("next_url"))
    val organic = base
      .withColumn("rd", substring(md5(concat(col("ids"), lit(RedirSalt))), 1, 1))
      .withColumn("sd", substring(md5(concat(col("ids"), lit(StatSalt))), 1, 1))
      .withColumn("ld", substring(md5(concat(col("ids"), lit(RelSalt))), 1, 1))
      .join(nxt, col("id") === col("pid"), "left")
      .select(col("url"),
        when(col("rd") < "4",
          expr("CASE ascii(sd) % 4 WHEN 0 THEN 301 WHEN 1 THEN 302 WHEN 2 THEN 307 ELSE 308 END"))
          .otherwise(when(col("sd") < "c", 200).when(col("sd") < "e", 404).otherwise(503))
          .cast("long").as("status"),
        when(col("rd") < "4",
          when(col("ld") < "4" || col("next_url").isNull,
            concat(lit("/moved/"), (col("id") + 1).cast("string")))
            .otherwise(col("next_url")))
          .otherwise(lit(null).cast("string")).as("location"))
    organic.unionByName(PlantRows.toDF("url", "status", "location"))
  }

  private val FollowedStatuses = Seq(301L, 302L, 307L, 308L)

  /** Resolve every chain in `log` and classify every row. Output:
    * (url, status, outcome, final_url, hops) — `final_url` is the url
    * itself for non-redirects, the chain terminal for resolved/dangling,
    * and '' for too_many; `hops` is exact (0 for non-redirects, cap+1
    * sentinel for too_many). */
  def resolve(logIn: DataFrame): DataFrame = {
    // the log frame feeds three subtrees (followed edges, the known-url
    // census, the final classification join) — materialize it once
    val log = logIn.localCheckpoint()
    // followed edges, Location resolved path-absolute → same-host absolute
    val edges = log
      .filter(col("status").isin(FollowedStatuses: _*) && col("location").isNotNull)
      .select(col("url").as("src"),
        when(col("location").startsWith("/"),
          concat(regexp_extract(col("url"), "^(https?://[^/]+)", 1), col("location")))
          .otherwise(col("location")).as("dst"))
    // edges is a cheap filter over the checkpointed log
    val r = Navigation.chainHops(edges, DoublingRounds)
    val srcs = edges.select(col("src").as("m_src")).distinct()
    val known = log.select(col("url").as("m_url")).distinct()
    val overCap = col("m_src").isNotNull || col("hops") > HopCap
    val cls = r
      .join(srcs, col("terminal") === col("m_src"), "left")
      .join(known, col("terminal") === col("m_url"), "left")
      .select(col("src"),
        when(overCap, "too_many")
          .when(col("m_url").isNotNull, "resolved").otherwise("dangling").as("routcome"),
        when(overCap, "").otherwise(col("terminal")).as("rfinal"),
        when(overCap, lit(HopCap + 1L)).otherwise(col("hops")).cast("long").as("rhops"))
    val followed = col("status").isin(FollowedStatuses: _*) && col("location").isNotNull
    log.join(cls, log("url") === cls("src"), "left")
      .select(log("url"), col("status"),
        when(col("status").between(200L, 299L), "ok")
          .when(followed, col("routcome"))
          .when(col("status").isin(404L, 410L), "gone")
          .otherwise("error").as("outcome"),
        when(followed, col("rfinal")).otherwise(log("url")).as("final_url"),
        when(followed, col("rhops")).otherwise(lit(0L)).cast("long").as("hops"))
      .orderBy("url")
  }

  /** Contract query: resolve the synthesized fetch log. */
  def redirectResolve(spark: SparkSession, dir: String): DataFrame =
    resolve(redirectLog(spark, dir))

  /** Independent DuckDB recompute: re-derives the fetch log from the same
    * salted md5 digits + planted VALUES, then re-runs the SAME four
    * pointer-doubling rounds as unrolled chained CTEs and re-classifies. */
  val redirectResolveSql: String = {
    val plantValues = PlantRows.map { case (u, s, l) =>
      val loc = if (l == null) "NULL" else s"'$l'"
      s"('$u', $s, $loc)"
    }.mkString(", ")
    val round = (k: Int) =>
      s"""r$k AS (
         |  SELECT a.src, coalesce(b.cur, a.cur) AS cur, a.d + coalesce(b.d, 0) AS d
         |  FROM r${k - 1} a LEFT JOIN r${k - 1} b ON a.cur = b.src)"""
    s"""WITH ids AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id,
       |         CAST(CAST(doc_id AS BIGINT) AS VARCHAR) AS ids, source
       |  FROM documents),
       |u AS (
       |  SELECT id, 'http://' || source || '.example/d/' || ids AS url,
       |         substring(md5(ids || '$RedirSalt'), 1, 1) AS rd,
       |         substring(md5(ids || '$StatSalt'), 1, 1) AS sd,
       |         substring(md5(ids || '$RelSalt'), 1, 1) AS ld
       |  FROM ids),
       |nxt AS (SELECT id - 1 AS pid, url AS next_url FROM u),
       |organic AS (
       |  SELECT u.url,
       |    CAST(CASE WHEN rd < '4' THEN
       |        CASE ascii(sd) % 4 WHEN 0 THEN 301 WHEN 1 THEN 302
       |             WHEN 2 THEN 307 ELSE 308 END
       |      ELSE CASE WHEN sd < 'c' THEN 200 WHEN sd < 'e' THEN 404
       |                ELSE 503 END END AS BIGINT) AS status,
       |    CASE WHEN rd < '4' THEN
       |        CASE WHEN ld < '4' OR n.next_url IS NULL
       |             THEN '/moved/' || CAST(u.id + 1 AS VARCHAR)
       |             ELSE n.next_url END
       |      ELSE NULL END AS location
       |  FROM u LEFT JOIN nxt n ON u.id = n.pid),
       |plants AS (SELECT u AS url, CAST(s AS BIGINT) AS status, l AS location
       |           FROM (VALUES $plantValues) v(u, s, l)),
       |log AS (SELECT * FROM organic UNION ALL SELECT * FROM plants),
       |edges AS (
       |  SELECT url AS src,
       |    CASE WHEN location LIKE '/%'
       |         THEN regexp_extract(url, '^(https?://[^/]+)', 1) || location
       |         ELSE location END AS cur,
       |    CAST(1 AS BIGINT) AS d
       |  FROM log
       |  WHERE status IN (301, 302, 307, 308) AND location IS NOT NULL),
       |r0 AS (SELECT * FROM edges),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |${round(4)},
       |cls AS (
       |  SELECT r.src,
       |    CASE WHEN s.src IS NOT NULL OR r.d > $HopCap THEN 'too_many'
       |         WHEN k.url IS NOT NULL THEN 'resolved'
       |         ELSE 'dangling' END AS routcome,
       |    CASE WHEN s.src IS NOT NULL OR r.d > $HopCap THEN ''
       |         ELSE r.cur END AS rfinal,
       |    CAST(CASE WHEN s.src IS NOT NULL OR r.d > $HopCap THEN ${HopCap + 1}
       |              ELSE r.d END AS BIGINT) AS rhops
       |  FROM r4 r
       |  LEFT JOIN (SELECT DISTINCT src FROM edges) s ON r.cur = s.src
       |  LEFT JOIN (SELECT DISTINCT url FROM log) k ON r.cur = k.url)
       |SELECT l.url, l.status,
       |  CASE WHEN l.status BETWEEN 200 AND 299 THEN 'ok'
       |       WHEN l.status IN (301, 302, 307, 308) AND l.location IS NOT NULL
       |            THEN c.routcome
       |       WHEN l.status IN (404, 410) THEN 'gone'
       |       ELSE 'error' END AS outcome,
       |  CASE WHEN l.status IN (301, 302, 307, 308) AND l.location IS NOT NULL
       |       THEN c.rfinal ELSE l.url END AS final_url,
       |  CAST(CASE WHEN l.status IN (301, 302, 307, 308) AND l.location IS NOT NULL
       |            THEN c.rhops ELSE 0 END AS BIGINT) AS hops
       |FROM log l LEFT JOIN cls c ON l.url = c.src
       |ORDER BY l.url""".stripMargin
  }
}

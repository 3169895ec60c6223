package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.HtmlKit

/** HTML-level navigation signals — the two redirect/series mechanisms
  * HTTP headers never carry, both crawl-semantics gaps in the reference
  * (it follows only transport redirects):
  *
  *  - **Meta refresh** (`q_meta_refresh`): `<meta http-equiv=refresh>`
  *    is the soft redirect; the crawl convention (search engines
  *    document it) treats a small delay (≤ [[RedirectMaxDelay]] s) as a
  *    301-equivalent edge. Chains of soft redirects resolve to their
  *    terminal with the SAME pointer-doubling discipline as
  *    [[Redirects]] — O(log chain) rounds, never a row-at-a-time walk.
  *
  *  - **Pagination** (`q_pagination`): `link rel=next/prev` series. A
  *    member's series id and position fall out of pointer doubling over
  *    the REVERSED next-edges (head = the prev-less start; position =
  *    hops from head) — one generic chain kernel serves both queries.
  *
  * Scale shape: extraction is per-row; [[chainHops]] is
  * ceil(log2(maxChain)) self-joins on keyed columns (the [[Redirects]]
  * bound); series stats are one keyed groupBy. The digit universes
  * exercise quoted/uppercase/self-reload/decoy refresh forms and
  * variable-length series with non-members; DuckDB re-derives both
  * outputs as closed-form ladders. */
object Navigation {

  val Pages = 240
  val RedirectMaxDelay = 5
  /** Doubling rounds — resolves chains up to 2^6 hops. */
  val DoublingRounds = 6

  /** Generic chain resolution: for every src in `edges` (src, dst — at
    * most one out-edge per src), where it stands after `rounds` rounds of
    * pointer doubling with cumulative distance: `terminal` and exact
    * `hops` for a chain of at most 2^rounds hops; past that (or on a
    * cycle) the node 2^rounds hops on, and that distance. The one
    * doubling loop: [[Redirects.resolve]] runs it too. */
  def chainHops(edges: DataFrame, rounds: Int = DoublingRounds): DataFrame =
    Rounds.iterate(edges.select(col("src"), col("dst").as("cur"), lit(1L).as("d")), rounds) {
      (r, _) =>
        // a SELF-join each round: without the per-round cut the plan tree
        // would double per round
        val b = r.select(col("src").as("b_src"), col("cur").as("b_cur"), col("d").as("b_d"))
        r.join(b, r("cur") === b("b_src"), "left")
          .select(col("src"), coalesce(col("b_cur"), col("cur")).as("cur"),
            (col("d") + coalesce(col("b_d"), lit(0L))).as("d"))
    }.select(col("src"), col("cur").as("terminal"), col("d").as("hops"))

  // ------------------------------------------------------- meta refresh --

  private def pageUrl(i: Int) = s"https://nav.example/p$i"

  /** Page html for digit i: refresh class c = i%8 (plain relative,
    * quoted-absolute uppercase URL= key, self-reload, name= decoy,
    * over-delay uppercase http-equiv, none×3). */
  private[pipeline] def refreshHtml(i: Int): String = {
    val meta = (i % 8) match {
      case 0 => s"""<meta http-equiv="refresh" content="${i % 12};url=/p${i + 1}">"""
      case 1 => s"""<meta http-equiv="refresh" content="0; URL='https://nav.example/p${i + 1}'">"""
      case 2 => s"""<meta http-equiv="refresh" content="3">"""
      case 3 => s"""<meta name="refresh" content="0;url=/px">"""
      case 4 => s"""<meta http-equiv="REFRESH" content="7;url=/p${i + 1}">"""
      case _ => ""
    }
    s"""<html><head><title>p$i</title>$meta</head><body><p>page $i</p></body></html>"""
  }

  /** Contract query `q_meta_refresh`: per page the parsed declaration,
    * the redirect classification, and the chain terminal. */
  def metaRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parsed = spark.range(Pages).as[Long].map { id =>
      val u = pageUrl(id.toInt)
      HtmlKit.extractMetaRefresh(refreshHtml(id.toInt), u) match {
        case Some((delay, tgt)) => (id, u, true, delay.toLong, tgt.orNull)
        case scala.None => (id, u, false, -1L, null: String)
      }
    }.toDF("id", "url", "has_refresh", "delay", "target")
      .withColumn("is_redirect",
        col("has_refresh") && col("target").isNotNull &&
          col("delay") <= RedirectMaxDelay)
      .localCheckpoint() // consumed by the edge set AND the final join
    val term = chainHops(
      parsed.filter(col("is_redirect")).select(col("url").as("src"), col("target").as("dst")))
    parsed.join(term.withColumnRenamed("src", "url"), Seq("url"), "left")
      .select(col("id"), col("url"), col("has_refresh"),
        when(col("has_refresh"), col("delay")).as("delay"),
        col("target"), col("is_redirect"),
        coalesce(col("terminal"), col("url")).as("terminal"),
        coalesce(col("hops"), lit(0L)).as("hops"))
      .orderBy("id")
  }

  /** DuckDB twin: closed-form ladder — c0 redirects (delay ≤ max) land
    * on a c1 page which always redirects once more, so terminals are
    * local arithmetic, no graph walk. */
  val metaRefreshSql: String =
    s"""WITH t AS (
       |  SELECT i, i % 8 AS c, i % 12 AS dly FROM range(0, $Pages) r(i)),
       |v AS (
       |  SELECT i, c,
       |    (c IN (0, 1, 2, 4)) AS has_refresh,
       |    CASE WHEN c = 0 THEN dly WHEN c = 1 THEN 0
       |         WHEN c = 2 THEN 3 WHEN c = 4 THEN 7 ELSE NULL END AS delay,
       |    CASE WHEN c IN (0, 1, 4) THEN 'https://nav.example/p' || (i + 1)
       |         ELSE NULL END AS target,
       |    (c = 1 OR (c = 0 AND dly <= $RedirectMaxDelay)) AS is_redirect
       |  FROM t)
       |SELECT CAST(i AS BIGINT) AS id, 'https://nav.example/p' || i AS url,
       |  has_refresh, CAST(delay AS BIGINT) AS delay, target, is_redirect,
       |  CASE WHEN c = 0 AND is_redirect THEN 'https://nav.example/p' || (i + 2)
       |       WHEN c = 1 THEN 'https://nav.example/p' || (i + 1)
       |       ELSE 'https://nav.example/p' || i END AS terminal,
       |  CAST(CASE WHEN c = 0 AND is_redirect THEN 2
       |       WHEN c = 1 THEN 1 ELSE 0 END AS BIGINT) AS hops
       |FROM v ORDER BY i""".stripMargin

  // -------------------------------------------------------- pagination --

  private def seriesUrl(s: Int, pos: Int) = s"https://nav.example/s${s}p$pos"

  /** Page html: series s = i/6, pos = i%6, member iff pos < len(s) =
    * 2 + s%5; members declare rel=next/prev (prev carries an extra rel
    * token — token-list matching must still see it). */
  private[pipeline] def paginationHtml(i: Int): String = {
    val s = i / 6; val pos = i % 6; val len = 2 + s % 5
    if (pos >= len)
      s"""<html><head><title>x</title></head><body><p>standalone $i</p></body></html>"""
    else {
      val next = if (pos < len - 1) s"""<link rel="next" href="/s${s}p${pos + 1}">""" else ""
      val prev = if (pos > 0) s"""<link rel="prev nofollow" href="/s${s}p${pos - 1}">""" else ""
      s"""<html><head><title>s$s</title>$next$prev</head><body><p>$i</p></body></html>"""
    }
  }

  /** Contract query `q_pagination`: per page its series id (the head
    * url), 0-based position, series length, membership. */
  def pagination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parsed = spark.range(Pages).as[Long].map { id =>
      val s = (id / 6).toInt; val pos = (id % 6).toInt
      val u = seriesUrl(s, pos)
      val (next, prev) = HtmlKit.extractRelNav(paginationHtml(id.toInt), u)
      (id, u, next.orNull, prev.orNull)
    }.toDF("id", "url", "next", "prev")
      .localCheckpoint() // feeds the reversed edge set AND the final join
    // position = hops from the head along REVERSED next-edges; the head
    // itself has no prev, so it is absent from the edge set
    val fromHead = chainHops(
      parsed.filter(col("prev").isNotNull)
        .select(col("url").as("src"), col("prev").as("dst")))
      .select(col("src").as("url"), col("terminal").as("head"), col("hops").as("pos"))
    val inSeries = col("next").isNotNull || col("prev").isNotNull
    val members = parsed
      .join(fromHead, Seq("url"), "left")
      .select(col("id"), col("url"), inSeries.as("in_series"),
        when(inSeries, coalesce(col("head"), col("url"))).otherwise(col("url")).as("series_id"),
        when(inSeries, coalesce(col("pos"), lit(0L))).otherwise(lit(0L)).as("position"))
    val sizes = members.filter(col("in_series"))
      .groupBy(col("series_id")).agg(count(lit(1)).as("series_len"))
    members.join(sizes, Seq("series_id"), "left")
      .select(col("id"), col("url"), col("in_series"), col("series_id"),
        col("position"), coalesce(col("series_len"), lit(1L)).as("series_len"))
      .orderBy("id")
  }

  /** DuckDB twin: pure digit arithmetic — head, position, length, and
    * membership all derive from (i/6, i%6). */
  val paginationSql: String =
    s"""WITH t AS (
       |  SELECT i, i // 6 AS s, i % 6 AS pos, 2 + (i // 6) % 5 AS len
       |  FROM range(0, $Pages) r(i))
       |SELECT CAST(i AS BIGINT) AS id,
       |  'https://nav.example/s' || s || 'p' || pos AS url,
       |  (pos < len) AS in_series,
       |  CASE WHEN pos < len THEN 'https://nav.example/s' || s || 'p0'
       |       ELSE 'https://nav.example/s' || s || 'p' || pos END AS series_id,
       |  CAST(CASE WHEN pos < len THEN pos ELSE 0 END AS BIGINT) AS position,
       |  CAST(CASE WHEN pos < len THEN len ELSE 1 END AS BIGINT) AS series_len
       |FROM t ORDER BY i""".stripMargin
}

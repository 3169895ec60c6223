package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Systematic probability-proportional-to-size corpus sampling
  * (`q_pps_sample`) — subsample documents to a TOKEN budget, the step every
  * training-data pipeline runs between curation and tokenization: sampling
  * documents uniformly biases the token mix toward short pages, so the
  * inclusion probability must be proportional to each document's token
  * weight. Systematic PPS (Madow 1949) does it with pure integer
  * arithmetic: lay the documents on a line in a hash-shuffled order, each
  * occupying its weight in tokens; walk the line with a fixed stride
  * `step = W div S` from a deterministic offset; a document is selected
  * iff a grid point lands inside its interval (`hits` counts multiplicity —
  * the importance weight for an unbiased estimator is w/(hits·step)).
  * Every quantity is an integer and the shuffle key is a content hash, so
  * the sample is a pure function of the corpus — DuckDB replays it exactly.
  *
  * 100-TB shape — the distributed prefix sum: the naive formulation is ONE
  * global window cumsum (a single-reducer sort, the classic scale killer).
  * Here the line order is (hash, doc_id), and the hash's top [[BucketBits]]
  * bits pre-partition the line into 2^[[BucketBits]] contiguous segments:
  * each bucket cumsums independently (parallel window over its own
  * partition), and the exclusive bucket offsets come from a 2^B-row
  * aggregate — broadcast back. Work per task is its bucket; nothing sorts
  * the corpus globally. The DuckDB twin deliberately uses the DIRECT
  * single-window formulation, so the two-phase machinery is checked against
  * the textbook definition, not against itself.
  *
  * (Reference scope: rust-scraper exports every page it keeps
  * (file_exporter.rs) — budgeted subsampling is the operation its corpus
  * consumers run next at fleet scale; weight = the same normalized word
  * count [[ShingleJaccard]]/TextAnalysis use.)
  */
object PpsSample {

  /** Target sample size (grid points over the whole line). */
  val SampleTarget = 64L

  /** Hash bits used to segment the line: 2^5 = 32 contiguous buckets. */
  val BucketBits = 5

  /** Fixed deterministic offset salt: the grid phase is
    * `hash44("graft-pps") mod step` — no RNG, replayable anywhere. */
  val OffsetSalt = "graft-pps"

  /** Normalized word-count weight, ≥ 1 — same normalize discipline as
    * [[ShingleJaccard]] so both engines count identically. */
  private def weightCol(text: Column): Column =
    greatest(lit(1L),
      size(split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")).cast("long"))

  /** Systematic PPS over a (doc_id: long, text) frame: returns the selected
    * docs with their weight, exclusive line position, and grid multiplicity. */
  def sample(docs: DataFrame, target: Long = SampleTarget): DataFrame = {
    val weighted = docs.select(
      col("doc_id"),
      weightCol(col("text")).as("w"),
      Cardinality.urlHashCol(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", expr(s"h div ${1L << (44 - BucketBits)}"))

    // phase 1: per-bucket inclusive cumsum — parallel across buckets
    val inBucket = weighted.withColumn("cum_in",
      sum(col("w")).over(Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // phase 2: exclusive bucket offsets from the 2^B-row totals (broadcast)
    val offsets = weighted.groupBy("bucket").agg(sum(col("w")).as("bw"))
      .withColumn("bucket_off",
        coalesce(sum(col("bw")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "bucket_off")

    val lined = inBucket.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("w"),
        (col("bucket_off") + col("cum_in") - col("w")).as("start"))

    // grid: step = W div target, offset = hash44(salt) mod step. The +2·step
    // shift keeps both ceil numerators strictly positive so Spark's
    // truncating `div` and DuckDB's flooring `//` agree.
    val wTotal = lined.agg(sum(col("w"))).head().getLong(0)
    require(wTotal >= target, s"corpus weight $wTotal below sample target $target")
    val step = wTotal / target
    val offset = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(OffsetSalt).substring(0, 11), 16) % step

    lined
      .withColumn("hits", expr(
        s"(start + w - $offset + ${2 * step} - 1) div $step - (start - $offset + ${2 * step} - 1) div $step"))
      .filter(col("hits") >= 1)
      .select(col("doc_id"), col("w"), col("start"), col("hits"))
      .orderBy("doc_id")
  }

  /** Contract query `q_pps_sample` over the documents table. */
  def ppsSample(spark: SparkSession, dir: String): DataFrame =
    sample(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text")))

  /** DuckDB twin: the DIRECT textbook formulation — one global window
    * cumsum over the same (hash, doc_id) line order, same integer grid —
    * independently recomputing what the two-phase bucketed plan produces. */
  val ppsSampleSql: String = {
    val salt = OffsetSalt
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    greatest(1, len(str_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))) AS w,
       |    CAST(('0x' || substr(md5(CAST(CAST(doc_id AS BIGINT) AS VARCHAR)), 1, 11)) AS BIGINT) AS h
       |  FROM documents),
       |lined AS (
       |  SELECT doc_id, w,
       |    CAST(coalesce(sum(w) OVER (ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
       |  FROM d),
       |g AS (
       |  SELECT CAST(sum(w) // $SampleTarget AS BIGINT) AS step FROM d),
       |o AS (
       |  SELECT step,
       |    CAST(('0x' || substr(md5('$salt'), 1, 11)) AS BIGINT) % step AS off
       |  FROM g)
       |SELECT doc_id, w, start,
       |  (start + w - off + 2 * step - 1) // step - (start - off + 2 * step - 1) // step AS hits
       |FROM lined, o
       |WHERE (start + w - off + 2 * step - 1) // step - (start - off + 2 * step - 1) // step >= 1
       |ORDER BY doc_id""".stripMargin
  }
}

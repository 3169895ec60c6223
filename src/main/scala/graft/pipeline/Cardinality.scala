package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-host distinct-URL cardinality sketching — the frontier-budgeting
  * primitive a 10^10-URL crawl needs continuously: "how many distinct urls
  * does this host expose?" drives per-host politeness budgets, trap
  * suspicion ([[UrlTemplates]]) and revisit allocation, and at that scale it
  * must come from a SKETCH, not a count(DISTINCT url) over the full frontier
  * (which shuffles every url once per report).
  *
  * The sketch is K-minimum-values (Bar-Yossef et al. 2002): keep the K
  * smallest distinct hash values per host; with the K-th smallest at h_K
  * over a hash space of size S, estimate ≈ (K-1)·S/h_K. KMV is chosen over
  * HyperLogLog deliberately: same bounded per-key state (K longs), same
  * one-pass mergeability (a typed [[KmvAgg]] Aggregator — map-side partial
  * combine for free), but every step is exact integer arithmetic over an
  * md5-derived hash both engines compute bit-identically — so the DuckDB
  * twin can REPLAY the sketch (window top-K per host) instead of trusting a
  * frozen output. HLL's register layout is engine-specific and would force
  * a fixture.
  *
  * Hash: first 11 hex chars of md5(url) parsed as an integer — 44 bits, so
  * (K-1)·2^44 stays far inside int64 for the division (Spark `div` ==
  * DuckDB `//` on non-negative longs). Estimator branches: fewer than K
  * distinct hashes → the sketch IS the exact distinct-hash count; at K →
  * the (K-1)·S div h_K estimate. `n_urls` (exact) rides along purely to
  * score the sketch (`err_permille`); a deployment reports the sketch
  * alone — that is the point.
  */
object Cardinality {

  /** Sketch size: K smallest distinct hashes kept per host — 512 bytes of
    * state, rel. std error ≈ 1/√(K−2) ≈ 12.7% (K=16 measured a 2.3× max
    * tail over 20k hosts in HygieneSmoke; 64 halves the band twice over
    * for 3× the bytes — still constant per host). */
  val K = 64
  /** Hash space: 11 hex chars = 44 bits. */
  val HashSpace: Long = 1L << 44

  /** Typed KMV aggregator: buffer = sorted distinct hash values, ≤ k of
    * them — constant-size state per key regardless of how many urls the
    * host has, merged associatively (the Aggregator contract gives map-side
    * partial aggregation, so a 10^10-row frontier ships at most k longs per
    * (partition, host) into the shuffle). */
  final class KmvAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.empty[Long]
    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(buf, h)
      if (pos >= 0) buf // already present (distinct semantics)
      else {
        val ins = -pos - 1
        if (ins >= k) buf // larger than every kept minimum
        else {
          val n = math.min(buf.length + 1, k)
          val out = new Array[Long](n)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // merge two sorted distinct arrays, keep k smallest
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      var last = Long.MinValue
      var first = true
      while (o < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (first || v != last) { out(o) = v; o += 1; last = v; first = false }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** KMV estimate from a finished sketch (shared by the query and specs). */
  def estimate(mins: Array[Long], k: Int): Long =
    if (mins.length < k) mins.length.toLong
    else (k - 1).toLong * HashSpace / mins(k - 1)

  /** The project's one 44-bit hash (`hash44`: the first 11 hex digits of
    * md5) as a Column. The sketch, its streaming twin
    * [[graft.streaming.StreamingCardinality]] and every salted or
    * sampling hash in the pipeline call it, so their values agree by
    * construction. Callers cast a non-string input to string. */
  def urlHashCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(url), 1, 11), 16, 10).cast("long")

  /** Host-of-url as a Column (same rule as the DuckDB twin). */
  def hostCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  /** Sketch + score over any single-column `url` frame (factored for
    * direct testing). */
  def hostCardinality(urls: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val u = urls
      .filter(col("url").startsWith("http"))
      .select(hostCol(col("url")).as("host"), col("url"))
      .distinct()
    val hashed = u
      .select(col("host"), urlHashCol(col("url")).as("h"))
      .as[(String, Long)]
    val kmv = new KmvAgg(K)
    val sketch = hashed
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(kmv.toColumn.name("mins"))
      .map { case (host, mins) => (host, estimate(mins, K)) }
      .toDF("host", "kmv_estimate")
    // u is already distinct on (host, url) — a plain count suffices
    val exact = u.groupBy("host").agg(count(lit(1)).as("n_urls"))
    sketch.join(exact, "host")
      .select(col("host"), col("n_urls"), col("kmv_estimate"),
        expr("abs(kmv_estimate - n_urls) * 1000 div n_urls").as("err_permille"))
      .orderBy("host")
  }

  /** Driver-contract query: sketch the corpus link graph's node set plus
    * the planted 180-url trap host (the one host big enough to leave the
    * exact branch and exercise the estimator). */
  def hostCardinalityQuery(spark: SparkSession, dir: String): DataFrame =
    hostCardinality(UrlTemplates.corpusUrlsWithPlant(spark, dir))

  /** DuckDB twin of [[hostCardinalityQuery]]: the SAME hash, sketch (window
    * top-K per host) and integer estimator recomputed independently over
    * the frozen edge fixture plus its own plant — a replay, not a frozen
    * output. */
  def hostCardinalitySql(edgesSelect: String): String =
    s"""WITH ${UrlTemplates.corpusUrlsSqlCtes(edgesSelect)},
       |u AS (
       |  SELECT DISTINCT regexp_extract(url, '^https?://([^/]+)', 1) AS host, url
       |  FROM urls WHERE url LIKE 'http%'),
       |h AS (
       |  SELECT DISTINCT host, CAST(('0x' || substr(md5(url), 1, 11)) AS BIGINT) AS h
       |  FROM u),
       |r AS (
       |  SELECT host, h, row_number() OVER (PARTITION BY host ORDER BY h) AS rn
       |  FROM h),
       |st AS (
       |  SELECT host, count(*) AS nh, max(CASE WHEN rn = $K THEN h END) AS hk
       |  FROM r WHERE rn <= $K GROUP BY host),
       |ex AS (
       |  SELECT host, CAST(count(DISTINCT url) AS BIGINT) AS n_urls FROM u GROUP BY host),
       |est AS (
       |  SELECT s.host, e.n_urls,
       |    CAST(CASE WHEN s.nh < $K THEN s.nh
       |              ELSE (${K - 1} * $HashSpace) // s.hk END AS BIGINT) AS kmv_estimate
       |  FROM st s JOIN ex e USING (host))
       |SELECT host, n_urls, kmv_estimate,
       |  CAST(abs(kmv_estimate - n_urls) * 1000 // n_urls AS BIGINT) AS err_permille
       |FROM est ORDER BY host""".stripMargin
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded bottom-k hash-sample quantile sketch (`q_quantile_sketch`) — the
  * SCALE twin of the exact percentile rollup ([[Relational3.eventPercentiles]],
  * `q_event_percentiles`). The exact query ranks every row with a window
  * `row_number` — a full per-group sort whose hottest group is the straggler
  * at 100 TB (per-host fetch latency: one CDN host can carry billions of
  * events). This operator replaces the total order with ORDER STATISTICS OF
  * A UNIFORM SAMPLE: keep the K rows whose portable 44-bit `md5(event_id)`
  * hash is smallest per group (the KMV discipline [[Cardinality]] uses for
  * distinct counts, here carrying the VALUE along), then read nearest-rank
  * quantiles off the ≤K-row sample. The hash is independent of the value, so
  * the sample is uniform; sample-quantile rank error is O(1/√K) (Chernoff),
  * ~3σ ≈ 4 rank points at K=256 for the p95 — gated in QuantileSketchSpec.
  *
  * Why hash-bottom-k and not a rank sketch (GK, KLL, t-digest): those are
  * ORDER-DEPENDENT (GK) or randomized (KLL/t-digest) — a shuffle-order
  * change or a seed changes the output, so no independent engine can verify
  * a run. Bottom-k by a content hash is a pure FUNCTION of the input set:
  * permutation/partitioning-invariant, mergeable (min-K union), and the
  * DuckDB twin REPLAYS it (window top-K per group over the same md5) rather
  * than trusting a frozen output — determinism is what buys the oracle.
  *
  * 100-TB shape: the sampler is a typed Aggregator — constant K·3-long state
  * per (partition, group) with map-side partial combine, so the shuffle
  * carries ≤ K triples per group per map partition, never the event
  * population. After warm-up a map partition rejects most rows with ONE
  * comparison against its current k-th smallest hash. The exact count rides
  * along from the same one-pass aggregation to report sample coverage; a
  * deployment reports the sketch alone — that is the point. (Reference
  * scope: rust-scraper's metrics.rs keeps per-domain latency EWMAs on one
  * process; percentile latency per host is what its adaptive paths would
  * consume at fleet scale.)
  */
object QuantileSketch {

  /** Sample bound: K smallest-hash rows kept per group — 6 KB of state.
    * Rel. rank error for quantile q is ~ √(q(1-q)/K): ±1.4% (1σ) at the
    * median, K=256. */
  val K = 256

  /** Per-row sample state: (hash, event_id, value_milli) packed stride-3
    * into one Array[Long], sorted ascending by (hash, event_id). Packing
    * keeps the Aggregator buffer a primitive array — one Tungsten binary
    * field, no per-element object headers in the shuffle. */
  final class BottomKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long, Long), Array[Long], Array[Long]] {
    private def lt(h1: Long, i1: Long, h2: Long, i2: Long): Boolean =
      h1 < h2 || (h1 == h2 && i1 < i2)
    override def zero: Array[Long] = Array.empty[Long]
    override def reduce(buf: Array[Long], row: (Long, Long, Long)): Array[Long] = {
      val (h, id, v) = row
      val n = buf.length / 3
      // common case after warm-up: full buffer, hash beyond the k-th smallest
      if (n >= k && !lt(h, id, buf((n - 1) * 3), buf((n - 1) * 3 + 1))) return buf
      // binary search insertion point by (hash, id)
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(buf(mid * 3), buf(mid * 3 + 1), h, id)) lo = mid + 1 else hi = mid
      }
      if (lo < n && buf(lo * 3) == h && buf(lo * 3 + 1) == id) return buf // distinct ids
      val outN = math.min(n + 1, k)
      val out = new Array[Long](outN * 3)
      System.arraycopy(buf, 0, out, 0, lo * 3)
      out(lo * 3) = h; out(lo * 3 + 1) = id; out(lo * 3 + 2) = v
      System.arraycopy(buf, lo * 3, out, (lo + 1) * 3, (outN - lo - 1) * 3)
      out
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val na = a.length / 3; val nb = b.length / 3
      val outN = math.min(na + nb, k)
      val out = new Array[Long](outN * 3)
      var i = 0; var j = 0; var o = 0
      while (o < outN && (i < na || j < nb)) {
        val takeA = j >= nb || (i < na && lt(a(i * 3), a(i * 3 + 1), b(j * 3), b(j * 3 + 1)))
        val (src, p) = if (takeA) (a, i) else (b, j)
        // skip a duplicate (hash, id) arriving from both sides
        val dup = o > 0 && out((o - 1) * 3) == src(p * 3) && out((o - 1) * 3 + 1) == src(p * 3 + 1)
        if (!dup) {
          out(o * 3) = src(p * 3); out(o * 3 + 1) = src(p * 3 + 1); out(o * 3 + 2) = src(p * 3 + 2)
          o += 1
        }
        if (takeA) i += 1 else j += 1
      }
      if (o == outN) out else java.util.Arrays.copyOf(out, o * 3)
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Nearest-rank quantile over a finished packed sketch: sort the ≤K sample
    * values by (value, id) — the SAME total order the exact query uses — and
    * pick rank `(n·q + 99) div 100`. Shared by the query and the spec. */
  def quantileOf(sketch: Array[Long], qPercent: Int): Long = {
    val n = sketch.length / 3
    require(n > 0, "quantile of an empty sketch")
    val byValue = Array.tabulate(n)(i => (sketch(i * 3 + 2), sketch(i * 3 + 1))).sorted
    byValue(((n.toLong * qPercent + 99) / 100).toInt - 1)._1
  }

  /** Sketch + quantiles over any (grp: String, id: Long, v: Long) frame
    * (factored for direct testing). Output: one row per group with the
    * exact row count, realized sample size, and p50/p95/p99 estimates. */
  def sketchQuantiles(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val hashed = rows
      .select(col("grp"),
        Cardinality.urlHashCol(col("id").cast("string")).as("h"),
        col("id"), col("v"))
      .as[(String, Long, Long, Long)]
    val agg = new BottomKAgg(K)
    hashed
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3, t._4))
      .agg(agg.toColumn.name("sketch"), count(lit(1)).as("n").as[Long])
      .map { case (grp, sketch, n) =>
        (grp, n, sketch.length / 3,
          quantileOf(sketch, 50), quantileOf(sketch, 95), quantileOf(sketch, 99))
      }
      .toDF("grp", "n", "sample_k", "p50_est_milli", "p95_est_milli", "p99_est_milli")
      .orderBy("grp")
  }

  /** Contract query `q_quantile_sketch`: per-event-type value percentiles
    * from the bounded sample — same milli conversion and null rule as the
    * exact `q_event_percentiles`, directly comparable column-for-column. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type").as("grp"), col("event_id").cast("long").as("id"),
        round(col("value") * 1000).cast("long").as("v"))
      .filter(col("v").isNotNull)
    sketchQuantiles(events)
      .withColumnRenamed("grp", "event_type")
  }

  /** DuckDB twin: REPLAYS the sketch — same 44-bit md5(event_id) hash, same
    * bottom-K membership (window top-K by (hash, id)), same (value, id)
    * nearest-rank rule — an independent recompute, not a fixture. */
  val quantileSketchSql: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(event_id AS BIGINT) AS id,
       |         CAST(round(value * 1000) AS BIGINT) AS v,
       |         CAST(('0x' || substr(md5(CAST(CAST(event_id AS BIGINT) AS VARCHAR)), 1, 11)) AS BIGINT) AS h
       |  FROM events WHERE value IS NOT NULL),
       |r AS (
       |  SELECT event_type, id, v,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h, id) AS rn
       |  FROM e),
       |s AS (SELECT event_type, id, v FROM r WHERE rn <= $K),
       |kk AS (SELECT event_type, CAST(count(*) AS INT) AS sample_k FROM s GROUP BY event_type),
       |rv AS (
       |  SELECT event_type, v,
       |         row_number() OVER (PARTITION BY event_type ORDER BY v, id) AS vr
       |  FROM s),
       |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY event_type)
       |SELECT n.event_type, n.n, kk.sample_k,
       |  max(CASE WHEN vr = (sample_k * 50 + 99) // 100 THEN v END) AS p50_est_milli,
       |  max(CASE WHEN vr = (sample_k * 95 + 99) // 100 THEN v END) AS p95_est_milli,
       |  max(CASE WHEN vr = (sample_k * 99 + 99) // 100 THEN v END) AS p99_est_milli
       |FROM rv JOIN kk USING (event_type) JOIN n USING (event_type)
       |GROUP BY n.event_type, n.n, kk.sample_k
       |ORDER BY n.event_type""".stripMargin
}

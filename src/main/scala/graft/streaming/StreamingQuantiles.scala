package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.{Cardinality, QuantileSketch}

/** Structured Streaming twin of [[graft.pipeline.QuantileSketch]]:
  * continuous per-group percentile tracking over a measurement stream —
  * the live per-host fetch-latency p95/p99 the adaptive paths
  * ([[graft.pipeline.Aimd]] concurrency, [[graft.crawl.RetryAfter]]
  * backoff, timeout selection) would consume while a crawl runs, instead
  * of a periodic batch pass over the full measurement log.
  *
  * Keyed state is the batch sketch itself — ≤ [[QuantileSketch.K]] packed
  * (hash, id, value) triples plus a counter per GROUP, forever: the sketch
  * is what keeps per-key streaming state bounded while the measurement
  * population is unbounded (the [[StreamingCardinality]] argument, for
  * order statistics). Reduce/merge are the SAME
  * [[QuantileSketch.BottomKAgg]] code the batch query aggregates with, and
  * membership is decided by the same content hash — so after any drain the
  * streaming sketch is bit-identical to the batch sketch over the union of
  * inputs: arrival order and file slicing cannot change a bottom-k-by-hash
  * set (the parity property the spec pins).
  *
  * Exactly-once: file-source micro-batches + checkpointed state, the
  * [[StreamingAnchors]] discipline — a rerun with no new files emits
  * nothing, a restart resumes the sketches. Consumers read the LAST event
  * per group (`n` is cumulative).
  */
object StreamingQuantiles {

  final case class Measurement(grp: String, id: Long, v: Long)

  final case class QuantileEstimate(grp: String, n: Long, sample_k: Int,
                                    p50_est: Long, p95_est: Long, p99_est: Long)

  /** Per-group state: the packed bottom-k sample plus the cumulative
    * population count. */
  final case class SketchState(sketch: Array[Long], n: Long)

  /** Drain all currently-available measurement files into the estimate
    * log, exactly once: one refreshed estimate per group per micro-batch
    * that touched it. */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    val agg = new QuantileSketch.BottomKAgg(QuantileSketch.K)
    // one measurement wave per micro-batch
    SinkIO.drain[Measurement](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source
        .select(col("grp"),
          Cardinality.urlHashCol(col("id").cast("string")).as("h"),
          col("id"), col("v"))
        .as[(String, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[SketchState, QuantileEstimate](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (grp: String, rows: Iterator[(String, Long, Long, Long)], state: GroupState[SketchState]) =>
            val prev = state.getOption.getOrElse(SketchState(Array.empty[Long], 0L))
            var sk = prev.sketch
            var n = prev.n
            rows.foreach { case (_, h, id, v) => sk = agg.reduce(sk, (h, id, v)); n += 1L }
            state.update(SketchState(sk, n))
            Iterator.single(QuantileEstimate(grp, n, sk.length / 3,
              QuantileSketch.quantileOf(sk, 50),
              QuantileSketch.quantileOf(sk, 95),
              QuantileSketch.quantileOf(sk, 99)))
        }
    }
  }

  /** The current estimate per group from the accumulated event log: the
    * last (max cumulative n) event per group. */
  def current(spark: SparkSession, outputDir: String): org.apache.spark.sql.DataFrame = {
    val log = SinkIO.read[QuantileEstimate](spark, outputDir)
    log.groupBy("grp")
      .agg(max(struct(col("n"), col("sample_k"), col("p50_est"), col("p95_est"),
        col("p99_est"))).as("last"))
      .select(col("grp"), col("last.n").as("n"), col("last.sample_k").as("sample_k"),
        col("last.p50_est").as("p50_est"), col("last.p95_est").as("p95_est"),
        col("last.p99_est").as("p99_est"))
      .orderBy("grp")
  }
}

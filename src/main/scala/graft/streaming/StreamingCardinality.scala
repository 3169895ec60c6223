package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.Cardinality

/** Structured Streaming twin of [[graft.pipeline.Cardinality]]: continuous
  * per-host distinct-URL estimation over the discovery stream. Each
  * micro-batch of newly discovered urls folds into per-host keyed KMV
  * state and emits the host's refreshed estimate — the live "how big is
  * this host" signal frontier budgeting consumes while the crawl runs,
  * instead of a periodic batch pass over the whole frontier.
  *
  * The state is the POINT, and it is the opposite of
  * [[StreamingDelta]]'s honest-but-unbounded per-URL ledger: exactly
  * [[Cardinality.K]] longs + one counter per HOST, forever, no TTL needed
  * — a sketch is the only way per-key streaming state stays bounded when
  * the keyed population (urls per host) is unbounded. Merge/reduce are the
  * SAME [[Cardinality.KmvAgg]] code the batch query aggregates with, and
  * the hash is the same shared column, so the streaming sketch after any
  * drain is bit-identical to the batch sketch over the union of inputs —
  * KMV is a set sketch, so arrival order and file slicing cannot change
  * it (the parity property the spec pins).
  *
  * Exactly-once: file-source micro-batches + checkpointed state, the
  * [[StreamingAnchors]] discipline — a rerun with no new files emits
  * nothing, a restart resumes the sketches. Consumers read the LAST event
  * per host (`sightings` is cumulative, so max(sightings) identifies it
  * without a batch id).
  */
object StreamingCardinality {

  final case class Sighting(url: String)

  final case class HostEstimate(host: String, sightings: Long,
                                sketch_size: Int, kmv_estimate: Long)

  /** Per-host state: the KMV minima plus a cumulative sighting counter
    * (the counter orders a host's emitted events, nothing more). */
  final case class KmvState(mins: Array[Long], sightings: Long)

  /** Drain all currently-available url files into the estimate log,
    * exactly once: one (host, estimate) event per host per micro-batch
    * that touched it. */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    val agg = new Cardinality.KmvAgg(Cardinality.K)
    // one discovery wave per micro-batch
    SinkIO.drain[Sighting](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source
        .filter(col("url").startsWith("http"))
        .select(Cardinality.hostCol(col("url")).as("host"),
          Cardinality.urlHashCol(col("url")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[KmvState, HostEstimate](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (host: String, rows: Iterator[(String, Long)], state: GroupState[KmvState]) =>
            val prev = state.getOption.getOrElse(KmvState(Array.empty[Long], 0L))
            var mins = prev.mins
            var n = prev.sightings
            rows.foreach { case (_, h) => mins = agg.reduce(mins, h); n += 1L }
            state.update(KmvState(mins, n))
            Iterator.single(HostEstimate(host, n, mins.length,
              Cardinality.estimate(mins, Cardinality.K)))
        }
    }
  }

  /** The current estimate per host from the accumulated event log: the
    * last (max cumulative sightings) event per host; an uncommitted sink
    * reads as empty ([[SinkIO.read]]). */
  def current(spark: SparkSession, outputDir: String): org.apache.spark.sql.DataFrame = {
    val log = SinkIO.read[HostEstimate](spark, outputDir)
    log.groupBy("host")
      .agg(max(struct(col("sightings"), col("sketch_size"), col("kmv_estimate"))).as("last"))
      .select(col("host"), col("last.sightings").as("sightings"),
        col("last.sketch_size").as("sketch_size"),
        col("last.kmv_estimate").as("kmv_estimate"))
      .orderBy("host")
  }
}

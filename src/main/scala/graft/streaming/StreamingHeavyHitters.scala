package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.{Cardinality, HeavyHitters}

/** Structured Streaming twin of [[HeavyHitters]]: continuous hot-host
  * tracking over the link-sighting stream. The batch operator answers
  * "which hosts dominated the corpus" after the fact; the crawl loop
  * needs the answer WHILE the frontier grows — the politeness layer
  * throttles, the resharder splits, and the trap heuristics wake on
  * hosts that become hot mid-crawl.
  *
  * State discipline (the [[StreamingCardinality]] argument, frequency
  * flavor): per-host exact counters are unbounded in the host population,
  * so the state is a bucketed Misra–Gries summary — hosts are keyed into
  * [[Buckets]] hash buckets and each bucket holds ≤ [[HeavyHitters.Capacity]]
  * counters + one item count, forever. Folding micro-batches through
  * [[HeavyHitters.mgUpdate]] IS the one-pass MG run over the concatenated
  * stream (MG is a streaming algorithm), so after any drain the bucket
  * summary equals a sequential MG over that bucket's full history in
  * arrival order. The no-false-negative guarantee is per-bucket and
  * STRONGER than the batch pass-1's: all sightings of host h land in
  * bucket(h), so h's bucket-local share ≥ its global share, and any host
  * with ≥ 1% global share survives a capacity-128 bucket summary. The
  * emitted candidate set therefore always covers the true heavy hitters;
  * exact counts come from the batch confirm pass ([[HeavyHitters.heavyHosts]]
  * pass 2) at the consumer's cadence — sketch online, confirm offline,
  * the standard split.
  *
  * Exactly-once: file-source micro-batches + checkpointed state — a
  * rerun with no new files emits nothing, a restart resumes the
  * summaries. Consumers read the LAST event set per bucket (`n_bucket`
  * is cumulative, so max identifies it). */
object StreamingHeavyHitters {

  /** Host-hash bucket count — bounds total state at Buckets × (K+1). */
  val Buckets = 16

  final case class Sighting(url: String)

  /** One summary entry event: bucket, cumulative bucket item count at
    * emit time, surviving host and its MG counter (a lower bound on the
    * host's bucket count, within n_bucket/(K+1) of exact). */
  final case class HotCandidate(bucket: Int, n_bucket: Long, host: String, cnt: Long)

  /** Per-bucket state: the surviving counters + cumulative item count. */
  final case class MgState(hosts: Array[String], cnts: Array[Long], n: Long)

  /** Drain all currently-available url files, exactly once: after each
    * micro-batch every touched bucket re-emits its full summary. */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // one discovery wave per micro-batch
    SinkIO.drain[Sighting](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source
        .filter(col("url").startsWith("http"))
        .select(Cardinality.hostCol(col("url")).as("host"))
        .filter(col("host") =!= "")
        .select(col("host"), pmod(hash(col("host")), lit(Buckets)).as("bucket"))
        .as[(String, Int)]
        .groupByKey(_._2)
        .flatMapGroupsWithState[MgState, HotCandidate](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (bucket: Int, rows: Iterator[(String, Int)], state: GroupState[MgState]) =>
            val prev = state.getOption.getOrElse(MgState(Array.empty, Array.empty, 0L))
            val m = scala.collection.mutable.HashMap.empty[String, Long]
            prev.hosts.indices.foreach(i => m.update(prev.hosts(i), prev.cnts(i)))
            var n = prev.n
            rows.foreach { case (h, _) =>
              HeavyHitters.mgUpdate(m, h, HeavyHitters.Capacity); n += 1L
            }
            val entries = m.toArray.sortBy(_._1)
            state.update(MgState(entries.map(_._1), entries.map(_._2), n))
            entries.iterator.map { case (h, c) => HotCandidate(bucket, n, h, c) }
        }
    }
  }

  /** Current candidate set from the accumulated event log: the latest
    * (max cumulative n_bucket) summary per bucket, flattened. Guaranteed
    * superset of every host holding ≥ 1/(Capacity+1) of its bucket —
    * in particular every ≥1%-global-share host. */
  def currentCandidates(spark: SparkSession, outputDir: String): org.apache.spark.sql.DataFrame = {
    val log = SinkIO.read[HotCandidate](spark, outputDir)
    val latest = log.groupBy("bucket").agg(max("n_bucket").as("n_bucket"))
    log.join(latest, Seq("bucket", "n_bucket"))
      .select("bucket", "n_bucket", "host", "cnt")
      .orderBy("bucket", "host")
  }
}

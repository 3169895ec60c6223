package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.pipeline.CircuitBreaker

/** Streaming circuit breaker — the live twin of
  * [[graft.pipeline.CircuitBreaker]]: fetch intents stream in as waves
  * (one file = one micro-batch), each host's breaker memory
  * ([[CircuitBreaker.BreakerState]]) lives in `flatMapGroupsWithState`
  * keyed state, and every intent leaves with its decision. The
  * transition function is THE SAME `CircuitBreaker.step` the batch fold
  * executes — the twin relationship is by construction, and the spec
  * additionally proves batch parity, checkpoint-restart resume (a
  * breaker mid-cooldown stays mid-cooldown across a kill), and
  * exactly-once re-delivery.
  *
  * Scale shape: state is three small fields per HOST (bounded by the
  * host population, not the url population — the cheap kind of keyed
  * streaming state); intents shuffle once on the host key; the parquet
  * sink commits per micro-batch (exactly-once with the checkpoint). */
object StreamingBreaker {

  final case class Intent(host: String, tick: Long, ok: Boolean)
  final case class Decision(host: String, tick: Long, ok: Boolean,
                            state: String, action: String)

  /** Drain everything in `inputDir` (one file per micro-batch), folding
    * each host's intents tick-sorted through the shared transition. */
  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // one wave per micro-batch
    SinkIO.drain[Intent](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      source.as[Intent]
        .groupByKey(_.host)
        .flatMapGroupsWithState[CircuitBreaker.BreakerState, Decision](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (host: String, rows: Iterator[Intent],
           state: GroupState[CircuitBreaker.BreakerState]) =>
            var s = if (state.exists) state.get else CircuitBreaker.Initial
            val out = rows.toSeq.sortBy(_.tick).map { in =>
              val (next, stateBefore, action) = CircuitBreaker.step(s, in.ok)
              s = next
              Decision(host, in.tick, in.ok, stateBefore, action)
            }
            state.update(s)
            out.iterator
        }
    }
  }

  /** Committed decisions ([[SinkIO.read]]: empty before the first commit). */
  def readOutput(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[Decision](spark, outputDir)
}

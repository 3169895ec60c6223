package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Dedup

/** Structured Streaming twin of [[graft.pipeline.Dedup.incrementalAdmit]]:
  * continuous corpus admission. Each micro-batch of newly crawled documents
  * is admission-checked against the seed corpus PLUS everything admitted by
  * earlier micro-batches — the index GROWS as the stream runs, which is the
  * property the batch operator's static-corpus signature cannot express and
  * the reason this twin exists: a near-duplicate of a document admitted ten
  * minutes ago must reject, not just a near-duplicate of the seed corpus.
  *
  * This is the repo's one `foreachBatch` twin, deliberately: admission is a
  * multi-stage dataflow (two hash joins, a cogroup, a verification join)
  * over a sink that feeds back into the next batch's input — the
  * micro-batch-as-batch composition is the idiomatic Spark shape for
  * stateful-via-storage pipelines whose "state" (the admitted-corpus index)
  * is a TABLE, not per-key operator state. flatMapGroupsWithState would
  * force the whole corpus index into executor state stores; the table IS
  * the durable index a deployment would keep (and build `lshBuckets` over
  * incrementally).
  *
  * Exactly-once: the file source checkpoints batch offsets; both sinks are
  * partitioned by `batch_id` and written with DYNAMIC partition overwrite,
  * so a failure-retry of a micro-batch overwrites its own partition instead
  * of duplicating it — and the admitted-so-far read excludes the current
  * batch's partition (`batch_id < current`), so a half-committed retry can
  * never reject a batch against its own first attempt. A rerun with no new
  * files executes no batch at all ([[StreamingAnchors]] discipline).
  */
object StreamingAdmission {

  final case class Doc(doc_id: Long, text: String)

  /** An admitted doc, partitioned by the micro-batch that admitted it. */
  final case class Admitted(doc_id: Long, text: String, batch_id: Long)

  /** One admission decision; a new doc has no match. */
  final case class Decision(doc_id: Long, admitted: Int, reason: String,
                            match_doc_id: Option[Long], jaccard_milli: Option[Long],
                            batch_id: Long)

  /** Jaccard admission threshold — same contract as the batch operator. */
  val Threshold = 0.5

  /** Drain all currently-available document files, exactly once: one
    * decision row per incoming doc into `decisionsDir`, admitted docs
    * appended (by batch partition) into `admittedDir` — the growing index
    * subsequent batches are checked against. `corpusPath` is the seed
    * corpus parquet (doc_id, text, ...). */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      corpusPath: String,
      admittedDir: String,
      decisionsDir: String,
      checkpointDir: String
  ): Unit = {
    val corpus = SinkIO.input[Doc](spark, corpusPath)
    val query = SinkIO.source[Doc](spark, inputDir, 1) // one crawl wave per micro-batch
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        // the index this batch admits against: seed corpus + every EARLIER
        // batch's admissions (strictly earlier — a failure-retry must not
        // see its own half-committed partition)
        val admittedSoFar = SinkIO.read[Admitted](spark, admittedDir)
          .filter(col("batch_id") < batchId)
          .select("doc_id", "text")
        val index = corpus.union(admittedSoFar)
        val decisions = Dedup.incrementalAdmit(spark, index, batch, Threshold)
          .withColumn("batch_id", lit(batchId))
          .localCheckpoint() // consumed twice (decisions sink + admitted join)
        writeBatchPartition(decisions, decisionsDir)
        val newlyAdmitted = batch
          .join(decisions.filter(col("admitted") === 1).select("doc_id"), "doc_id")
          .withColumn("batch_id", lit(batchId))
        writeBatchPartition(newlyAdmitted, admittedDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** Idempotent per-batch sink write: dynamic overwrite of exactly this
    * batch's partition. */
  private def writeBatchPartition(df: DataFrame, dir: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** All decisions so far, ordered; empty-with-schema before first commit. */
  def decisions(spark: SparkSession, decisionsDir: String): DataFrame =
    SinkIO.read[Decision](spark, decisionsDir)
      .orderBy("batch_id", "doc_id")

  /** The admitted corpus extension so far (what a deployment would build
    * its incremental `lshBuckets` index over). */
  def admitted(spark: SparkSession, admittedDir: String): DataFrame =
    SinkIO.read[Admitted](spark, admittedDir)
      .orderBy("batch_id", "doc_id")
}

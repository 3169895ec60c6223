package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming gram-store admission — the streaming twin of
  * [[graft.pipeline.GramNovelty]]'s corpus-wide repeated-span ledger,
  * run as first-seen admission (the [[StreamingChunkStore]] discipline
  * over text instead of archive bytes): documents arrive continuously, a
  * live dedup gate wants "how much of this document is text the corpus
  * has NEVER carried?", and the answer must survive restart and
  * re-delivery. Every distinct 8-gram ([[graft.pipeline.Decontaminate
  * .GramLen]], same split-on-space rule as the batch operator) admits
  * exactly once; the per-document admitted count is the live novelty
  * signal (a document admitting almost nothing is assembled from spans
  * the store already holds — the streaming read of `q_gram_novelty`'s
  * low-novelty flag).
  *
  * State is one boolean per DISTINCT gram (the store's own index,
  * sharded by gram key); checkpointed with the query, so a restart
  * resumes the store exactly and re-delivered waves admit nothing twice.
  * The admitted KEY SET is slicing-invariant; within a batch the
  * admitting document is the minimal doc_id carrying the gram
  * (deterministic representative).
  */
object StreamingGramStore {

  final case class GramSighting(doc_id: Long, g: String)

  final case class AdmittedGram(g: String, doc_id: Long)

  /** Explode a document into its distinct 8-gram sightings — the SAME
    * gram rule as the batch operator. */
  def sightingsOf(docId: Long, text: String): Seq[GramSighting] = {
    val k = graft.pipeline.Decontaminate.GramLen
    // limit -1: Spark SQL `split` keeps trailing empty tokens; Java's
    // default drops them — the batch twin's gram set would diverge on
    // trailing-space text otherwise.
    val ws = text.split(" ", -1)
    if (ws.length < k) Seq.empty
    else (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" "))
      .distinct.map(GramSighting(docId, _))
  }

  /** Drain all available input waves through the shared first-seen
    * filter ([[StreamingChunkStore.firstSeen]]). */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // one capture wave per micro-batch
    SinkIO.drain[GramSighting](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      StreamingChunkStore.firstSeen(source.as[GramSighting])(_.g)(_.doc_id < _.doc_id)(
        (g, s) => AdmittedGram(g, s.doc_id))
    }
  }

  /** The admitted store so far ([[SinkIO.read]]: empty before the first
    * commit). */
  def stored(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[AdmittedGram](spark, outputDir)

  /** Per-document live novelty ledger: grams this doc admitted first. */
  def noveltyLedger(spark: SparkSession, outputDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    stored(spark, outputDir).groupBy("doc_id")
      .agg(count(lit(1)).as("n_admitted")).orderBy("doc_id")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming chunk-store admission — the exactly-once streaming twin of
  * [[graft.pipeline.Cdc.cdcChunks]]'s batch anti-join: captures arrive
  * continuously (a live recrawl), their CDC chunks stream in, and only
  * chunks whose url-agnostic content key `(hash, len)` was never stored
  * before are admitted to the store. The archive-side state the batch
  * query derives per run becomes OPERATOR STATE here: one boolean per
  * stored chunk key, sharded by key across executors, checkpointed with
  * the query — a restart resumes the store exactly; re-delivered waves
  * admit nothing twice (exactly-once growth, the property object-storage
  * chunk stores must have or they leak space forever).
  *
  * Emission is deterministic under any wave slicing of the same sightings
  * WITHIN a batch (the representative is the (url, offset)-minimum of the
  * batch's sightings); across slicings the admitted KEY SET — the store —
  * is identical, which is the contract (specs pin both).
  *
  * Scale note: state is one entry per DISTINCT chunk (the store's own
  * cardinality — unavoidable; it IS the store's index), keyed exactly how
  * a production store shards. Chunk payloads never enter the stream: the
  * sighting rows are 20-byte keys + provenance, and admitted keys drive
  * payload uploads elsewhere. */
object StreamingChunkStore {

  final case class ChunkSighting(url: String, offset: Int, len: Int, hash: Long)

  final case class Admitted(hash: Long, len: Int, url: String, offset: Int)

  /** Keyed first-seen admission, shared with [[StreamingGramStore]]: the
    * first micro-batch that carries a key emits one row, built from that
    * batch's `less`-minimal sighting; every later sighting of the key is
    * dropped. State is one boolean per admitted key. */
  private[streaming] def firstSeen[S, K: Encoder, O: Encoder](sightings: Dataset[S])(
      key: S => K)(less: (S, S) => Boolean)(admit: (K, S) => O): Dataset[O] = {
    import sightings.sparkSession.implicits.newBooleanEncoder
    sightings.groupByKey(key)
      .flatMapGroupsWithState[Boolean, O](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: K, rows: Iterator[S], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // already stored — drop every sighting
          else {
            state.update(true)
            Iterator.single(admit(k, rows.reduceLeft((a, b) => if (less(b, a)) b else a)))
          }
      }
  }

  /** Drain all available input waves through the first-seen filter; the
    * representative is the (url, offset)-minimal sighting. */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // one capture wave per micro-batch
    SinkIO.drain[ChunkSighting](spark, inputDir, 1, outputDir, checkpointDir) { source =>
      firstSeen(source.as[ChunkSighting])(c => (c.hash, c.len))(
        (a, b) => a.url < b.url || (a.url == b.url && a.offset < b.offset))(
        (k, c) => Admitted(k._1, k._2, c.url, c.offset))
    }
  }

  /** The store so far ([[SinkIO.read]]: empty before the first commit). */
  def stored(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[Admitted](spark, outputDir)
}

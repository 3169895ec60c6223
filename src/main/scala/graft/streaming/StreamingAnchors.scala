package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.HtmlKit
import graft.model.PageRow

/** Structured Streaming twin of the anchor-text pipeline: a continuous
  * crawl maintains the link graph's anchor signal incrementally as pages
  * land, instead of re-reading the archive.
  *
  * Parity by construction (the same discipline as the frontier twins): the
  * per-page sighting extraction is the SAME `HtmlKit.extractLinkAnchors`
  * kernel the batch query uses, and the consensus aggregation is the SAME
  * `CrawlQueries.anchorAgg` — the streaming layer owns only delivery
  * (exactly-once file micro-batches via checkpoint). Sightings append as
  * an immutable log (one row per `a[href]` occurrence — an occurrence is a
  * fact, so the log never needs updates); the consensus view is recomputed
  * from the log on demand, which at deployment scale is the standard
  * log + periodic-rollup shape.
  */
object StreamingAnchors {

  final case class Sighting(src: String, dst: String, anchor: String,
                            warc_ts: java.sql.Timestamp)

  /** Per-page sightings — the streaming map side (shared batch kernel). */
  def sightingsOf(p: PageRow): Seq[Sighting] = {
    val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
    HtmlKit.extractLinkAnchors(html, p.url).map { case (dst, a) =>
      Sighting(p.url, dst, a, p.warc_ts)
    }
  }

  /** Drain all currently-available page files into the sightings log,
    * exactly once (checkpointed file source, AvailableNow trigger). */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // bounded micro-batches
    SinkIO.drain[PageRow](spark, inputDir, 8, outputDir, checkpointDir)(
      _.as[PageRow].flatMap(sightingsOf _))
  }

  /** The consensus view over the accumulated sightings log — the SAME
    * aggregation as the batch `q_anchor_text` (shared definition, so the
    * two can never disagree), over the shared sink read ([[SinkIO.read]]). */
  def consensus(spark: SparkSession, outputDir: String): DataFrame =
    graft.pipeline.CrawlQueries.anchorAgg(SinkIO.read[Sighting](spark, outputDir))
}

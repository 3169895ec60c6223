package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.{HtmlKit, TextKit}
import graft.model.PageRow

/** Structured Streaming variant of the extract stage.
  *
  * The reference streams rows through a bounded mpsc channel
  * (results_channel.rs:74-133) — micro-batch semantics with backpressure,
  * which maps directly onto Structured Streaming file micro-batches: new
  * page files land in `inputDir`, each batch runs the SAME fused extract
  * function as the batch engine, and the checkpoint guarantees each file is
  * processed exactly once (the channel's at-most-once-per-page delivery).
  * No watermarks/event-time ops — the reference has none (SURVEY §2.10);
  * `warc_ts` is carried through for downstream event-time use.
  */
object StreamingExtract {

  final case class StreamedPage(
      url: String, canonicalUrl: String, title: String, text: String,
      lang: String, textBytes: Long, extractionFailed: Boolean,
      warc_ts: java.sql.Timestamp)

  /** The fused per-row extract (same kernels as CrawlEngine's batch stage). */
  def extractRow(p: PageRow): StreamedPage = {
    val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
    val ex = HtmlKit.extractText(html)
    val lang = TextKit.detectLanguage(ex.text).getOrElse("")
    StreamedPage(
      p.url,
      graft.urls.UrlKernel.canonicalize(p.url).getOrElse(p.url),
      ex.title, ex.text, lang,
      ex.text.getBytes("UTF-8").length.toLong, ex.failed, p.warc_ts)
  }

  /** Build the streaming extract query: parquet file source → typed extract
    * → parquet sink, exactly-once via checkpoint. Returns after draining all
    * currently-available input (Trigger.AvailableNow — bounded, testable). */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String
  ): Unit = {
    import spark.implicits._
    // bounded micro-batches (channel capacity analogue)
    SinkIO.drain[PageRow](spark, inputDir, 8, outputDir, checkpointDir) { source =>
      source.as[PageRow].map(extractRow)
    }
  }

  /** Read back the streamed output ([[SinkIO.read]]: empty before the
    * first commit). */
  def readOutput(spark: SparkSession, outputDir: String): DataFrame =
    SinkIO.read[StreamedPage](spark, outputDir)
}

package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.gen.CorpusGen

class StreamingAnchorsSpec extends AnyFunSuite with SharedSpark {

  test("streaming anchors: exactly-once sightings log, consensus parity with batch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-anchors").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    // the SAME corpus slice the batch q_link_anchors runs on
    val spec = CorpusGen.Spec(graft.pipeline.CrawlQueries.Hosts, graft.pipeline.CrawlQueries.PagesPerHost)
    val all = CorpusGen.localPages(spec)
      .filter(p => !p.url.endsWith("robots.txt") && !p.url.endsWith("sitemap.xml"))
    val (batch1, batch2) = all.splitAt(all.size / 2)

    // consensus over an uncommitted sink reads as empty, not an error
    assert(StreamingAnchors.consensus(spark, out).count() == 0)

    // first tranche arrives
    spark.createDataset(batch1).write.mode("append").parquet(in)
    StreamingAnchors.runAvailableNow(spark, in, out, cp)
    val n1 = spark.read.parquet(out).count()
    assert(n1 == batch1.flatMap(StreamingAnchors.sightingsOf).size)

    // second tranche arrives; checkpoint must skip the first files
    spark.createDataset(batch2).write.mode("append").parquet(in)
    StreamingAnchors.runAvailableNow(spark, in, out, cp)

    // sightings log parity: exactly the batch extraction, every occurrence
    val streamed = spark.read.parquet(out)
      .select("src", "dst", "anchor").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    val batch = graft.pipeline.CrawlQueries.linkAnchors(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(streamed == batch, "streamed sightings must equal the batch extraction")

    // consensus parity: shared anchorAgg over the log == batch q_anchor_text
    val got = StreamingAnchors.consensus(spark, out).collect().map(_.toString).toSeq
    val want = graft.pipeline.CrawlQueries.anchorTexts(spark, "").collect().map(_.toString).toSeq
    assert(got == want, "consensus view must equal the batch aggregation")

    // rerun with no new input → no duplicate sightings
    StreamingAnchors.runAvailableNow(spark, in, out, cp)
    assert(spark.read.parquet(out).count() == batch.size)
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.gen.CorpusGen
import graft.tools.GoldenGen

/** Every twin reads its sink back through [[SinkIO.read]]: a sink dir that
  * was never created reads as empty with the twin's output schema, never a
  * path error — including the streaming crawl's resume probe. */
class SinkIOSpec extends AnyFunSuite with SharedSpark {

  private def schemaOf[T <: Product: scala.reflect.runtime.universe.TypeTag]: StructType =
    Encoders.product[T].schema

  /** Column names and types; aggregated views differ only in nullability. */
  private def columns(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("every read-back of a sink dir that does not exist is empty with its output schema") {
    val missing = Files.createTempDirectory("graft-sinkio").resolve("never-created").toString
    val exact: Seq[(String, DataFrame, StructType)] = Seq(
      ("StreamingBreaker.readOutput", StreamingBreaker.readOutput(spark, missing),
        schemaOf[StreamingBreaker.Decision]),
      ("StreamingScheduler.readOutput", StreamingScheduler.readOutput(spark, missing),
        schemaOf[StreamingScheduler.Scheduled]),
      ("StreamingExtract.readOutput", StreamingExtract.readOutput(spark, missing),
        schemaOf[StreamingExtract.StreamedPage]),
      ("StreamingMetrics.windows", StreamingMetrics.windows(spark, missing),
        schemaOf[StreamingMetrics.WindowCount]),
      ("StreamingMetrics.sessions", StreamingMetrics.sessions(spark, missing),
        schemaOf[StreamingMetrics.ClosedSession]),
      ("StreamingFrontier.readOutput", StreamingFrontier.readOutput(spark, missing),
        schemaOf[StreamingFrontier.Discovered]),
      ("StreamingDelta.readEvents", StreamingDelta.readEvents(spark, missing),
        schemaOf[StreamingDelta.ChangeEvent]),
      ("StreamingChunkStore.stored", StreamingChunkStore.stored(spark, missing),
        schemaOf[StreamingChunkStore.Admitted]),
      ("StreamingGramStore.stored", StreamingGramStore.stored(spark, missing),
        schemaOf[StreamingGramStore.AdmittedGram]),
      ("StreamingAdmission.decisions", StreamingAdmission.decisions(spark, missing),
        schemaOf[StreamingAdmission.Decision]),
      ("StreamingAdmission.admitted", StreamingAdmission.admitted(spark, missing),
        schemaOf[StreamingAdmission.Admitted]))
    exact.foreach { case (name, df, want) =>
      assert(df.schema == want, s"$name schema")
      assert(df.isEmpty, s"$name must read as empty")
    }
    val views: Seq[(String, DataFrame, StructType)] = Seq(
      ("StreamingCardinality.current", StreamingCardinality.current(spark, missing),
        schemaOf[StreamingCardinality.HostEstimate]),
      ("StreamingQuantiles.current", StreamingQuantiles.current(spark, missing),
        schemaOf[StreamingQuantiles.QuantileEstimate]),
      ("StreamingHeavyHitters.currentCandidates",
        StreamingHeavyHitters.currentCandidates(spark, missing),
        schemaOf[StreamingHeavyHitters.HotCandidate]))
    views.foreach { case (name, df, want) =>
      assert(columns(df.schema) == columns(want), s"$name columns")
      assert(df.isEmpty, s"$name must read as empty")
    }
    assert(StreamingAnchors.consensus(spark, missing).isEmpty)
    assert(StreamingGramStore.noveltyLedger(spark, missing).isEmpty)
  }

  test("the streaming crawl starts fresh on a workDir whose scheduled/ dir was never created") {
    val workDir = Files.createTempDirectory("graft-sinkio-crawl").resolve("work").toString
    val pages = CorpusGen.dataset(spark, CorpusGen.Spec(2, 5))
    val s = StreamingCrawl.run(spark, pages, GoldenGen.config(2), workDir, waveLimit = 1)
    assert(s.waves == 1 && s.fetchedTotal > 0, s"one wave from the seeds: $s")
    assert(StreamingScheduler.readOutput(spark, s"$workDir/scheduled").count() == s.fetchedTotal)
  }
}

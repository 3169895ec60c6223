package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.gen.CorpusGen

class StreamingExtractSpec extends AnyFunSuite with SharedSpark {

  test("streaming extract: exactly-once over arriving files, parity with batch kernels") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    val spec = CorpusGen.Spec(2, 10)
    val all = CorpusGen.localPages(spec).filter(p => p.lang.nonEmpty)
    val (batch1, batch2) = all.splitAt(all.size / 2)

    // first tranche arrives
    spark.createDataset(batch1).write.mode("append").parquet(in)
    StreamingExtract.runAvailableNow(spark, in, out, cp)
    val n1 = StreamingExtract.readOutput(spark, out).count()
    assert(n1 == batch1.size)

    // second tranche arrives; checkpoint must skip the first files
    spark.createDataset(batch2).write.mode("append").parquet(in)
    StreamingExtract.runAvailableNow(spark, in, out, cp)
    val outDf = StreamingExtract.readOutput(spark, out)
    assert(outDf.count() == all.size, "each file processed exactly once")
    assert(outDf.select("url").distinct().count() == all.size)

    // extraction parity with the committed spec (same kernels as batch)
    val got = outDf.select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    all.foreach { p => assert(got(p.url) == p.text, s"byte parity for ${p.url}") }

    // rerun with no new input → no duplicates
    StreamingExtract.runAvailableNow(spark, in, out, cp)
    assert(StreamingExtract.readOutput(spark, out).count() == all.size)
  }
}

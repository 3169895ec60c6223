package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.Cardinality

class StreamingCardinalitySpec extends AnyFunSuite with SharedSpark {

  // deterministic url population: two small hosts (below K) + one large
  private def allUrls: Seq[String] =
    (0 until 7).map(i => s"https://small-a.com/p/$i") ++
      (0 until 11).map(i => s"https://small-b.com/q/$i?v=2") ++
      (0 until 900).map(i => s"https://big.com/item/$i/view")

  private def drain(urls: Seq[Seq[String]], root: String): Unit = {
    import spark.implicits._
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    urls.foreach { wave =>
      wave.map(StreamingCardinality.Sighting).toDS()
        .write.mode("append").parquet(in)
      StreamingCardinality.runAvailableNow(spark, in, out, cp)
    }
  }

  test("streaming KMV: final estimates equal the batch sketch, any file slicing") {
    import spark.implicits._
    val rootA = java.nio.file.Files.createTempDirectory("graft-stream-kmv-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-stream-kmv-b").toString

    // uncommitted sink reads as empty
    assert(StreamingCardinality.current(spark, s"$rootA/out").count() == 0)

    // slicing A: three ordered waves; slicing B: shuffled, two waves with
    // duplicates re-sighted across waves
    val urls = allUrls
    drain(Seq(urls.take(100), urls.slice(100, 500), urls.drop(500)), rootA)
    val reshuffled = new scala.util.Random(7).shuffle(urls)
    drain(Seq(reshuffled.take(400) ++ urls.take(50), reshuffled.drop(400)), rootB)

    val batch = Cardinality.hostCardinality(urls.toDF("url")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    for (root <- Seq(rootA, rootB)) {
      val got = StreamingCardinality.current(spark, s"$root/out").collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(got == batch, s"$root: streaming estimates must equal the batch sketch")
    }

    // small hosts sit on the exact branch
    val cur = StreamingCardinality.current(spark, s"$rootA/out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getLong(3))).toMap
    assert(cur("small-a.com") == ((7L, 7, 7L)))
    assert(cur("small-b.com") == ((11L, 11, 11L)))
    assert(cur("big.com")._2 == Cardinality.K, "big host sketch saturated at K")

    // rerun with no new files emits nothing new
    val before = spark.read.parquet(s"$rootA/out").count()
    StreamingCardinality.runAvailableNow(spark, s"$rootA/in", s"$rootA/out", s"$rootA/cp")
    assert(spark.read.parquet(s"$rootA/out").count() == before, "exactly-once")
  }

  test("restart resumes sketches from checkpointed state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-kmv-r").toString
    val urls = allUrls
    // first drain sees only a prefix; a NEW invocation (fresh query, same
    // checkpoint) must continue the sketch, not restart it
    drain(Seq(urls.take(300)), root)
    drain(Seq(urls.drop(300)), root)
    val got = StreamingCardinality.current(spark, s"$root/out").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val batch = Cardinality.hostCardinality(urls.toDF("url")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == batch, "post-restart estimates must equal the batch sketch")
  }
}

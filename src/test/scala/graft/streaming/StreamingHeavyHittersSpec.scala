package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.HeavyHitters

/** Streaming heavy-hitter gates: the candidate set covers the exact
  * batch heavy hitters over the union of inputs under any file slicing,
  * state stays bounded at Buckets × Capacity, the drain is exactly-once,
  * and a restart resumes (not restarts) the summaries. */
class StreamingHeavyHittersSpec extends AnyFunSuite with SharedSpark {

  // skewed sighting stream: hot hosts far above 1%, plus a wide tail
  private def allUrls: Seq[String] =
    (0 until 2000).map(i => s"https://hot-a.com/p/$i") ++
      (0 until 700).map(i => s"https://hot-b.com/q/$i") ++
      (0 until 1300).map(i => s"https://tail-${i % 563}.com/r/$i")

  private def drain(waves: Seq[Seq[String]], root: String): Unit = {
    import spark.implicits._
    waves.foreach { wave =>
      wave.map(StreamingHeavyHitters.Sighting).toDS()
        .write.mode("append").parquet(s"$root/in")
      StreamingHeavyHitters.runAvailableNow(spark, s"$root/in", s"$root/out", s"$root/cp")
    }
  }

  private def exactHeavy(urls: Seq[String]): Set[String] = {
    import spark.implicits._
    val hosts = urls.toDF("url")
      .filter(col("url").startsWith("http"))
      .select(graft.pipeline.Cardinality.hostCol(col("url")).as("host"))
      .filter(col("host") =!= "")
    HeavyHitters.heavyHosts(hosts).collect().map(_.getString(0)).toSet
  }

  test("candidates cover the exact batch heavy hitters, any slicing") {
    val rootA = java.nio.file.Files.createTempDirectory("graft-stream-hh-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-stream-hh-b").toString
    assert(StreamingHeavyHitters.currentCandidates(spark, s"$rootA/out").count() == 0)

    val urls = allUrls
    drain(Seq(urls.take(1000), urls.slice(1000, 3000), urls.drop(3000)), rootA)
    val reshuffled = new scala.util.Random(11).shuffle(urls)
    drain(Seq(reshuffled.take(2500), reshuffled.drop(2500)), rootB)

    val want = exactHeavy(urls)
    assert(want.contains("hot-a.com") && want.contains("hot-b.com"))
    for (root <- Seq(rootA, rootB)) {
      val cands = StreamingHeavyHitters.currentCandidates(spark, s"$root/out")
        .collect()
      val candHosts = cands.map(_.getString(2)).toSet
      assert(want.subsetOf(candHosts), s"$root: missing ${want -- candHosts}")
      // bounded state: per bucket ≤ Capacity survivors
      val perBucket = cands.groupBy(_.getInt(0)).map(_._2.length)
      assert(perBucket.forall(_ <= HeavyHitters.Capacity))
      // MG counters are lower bounds within the per-bucket error budget
      cands.foreach { r =>
        val slack = r.getLong(1) / (HeavyHitters.Capacity + 1) // n_b/(K+1)
        val exact = urls.count(_.contains(s"://${r.getString(2)}/")).toLong
        assert(r.getLong(3) <= exact && exact <= r.getLong(3) + slack,
          s"${r.getString(2)}: cnt=${r.getLong(3)} exact=$exact slack=$slack")
      }
    }

    // exactly-once: rerun with no new files emits nothing
    val before = spark.read.parquet(s"$rootA/out").count()
    StreamingHeavyHitters.runAvailableNow(spark, s"$rootA/in", s"$rootA/out", s"$rootA/cp")
    assert(spark.read.parquet(s"$rootA/out").count() == before)
  }

  test("restart resumes the summaries from checkpointed state") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-hh-r").toString
    val urls = allUrls
    drain(Seq(urls.take(1500)), root)
    // a NEW invocation (fresh query, same checkpoint) continues the fold
    drain(Seq(urls.drop(1500)), root)
    val candHosts = StreamingHeavyHitters.currentCandidates(spark, s"$root/out")
      .collect().map(_.getString(2)).toSet
    assert(exactHeavy(urls).subsetOf(candHosts))
    // continuation, not restart: hot-a's counter reflects both drains
    val hotA = StreamingHeavyHitters.currentCandidates(spark, s"$root/out")
      .filter(col("host") === "hot-a.com").collect()
    assert(hotA.length == 1 && hotA.head.getLong(3) > 1500L / 2)
  }
}

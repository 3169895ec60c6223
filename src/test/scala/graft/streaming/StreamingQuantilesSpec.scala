package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.QuantileSketch

class StreamingQuantilesSpec extends AnyFunSuite with SharedSpark {

  // deterministic measurement population: one small group (below K, so the
  // sample is the population) + one large skewed group
  private def allRows: Seq[(String, Long, Long)] =
    (1 to 30).map(i => ("fast.com", i.toLong, 10L + i)) ++
      (1 to 2000).map(i => ("slow.com", 100000L + i, (i.toLong * i.toLong) / 100L))

  private def drain(waves: Seq[Seq[(String, Long, Long)]], root: String): Unit = {
    import spark.implicits._
    waves.foreach { wave =>
      wave.map(r => StreamingQuantiles.Measurement(r._1, r._2, r._3)).toDS()
        .write.mode("append").parquet(s"$root/in")
      StreamingQuantiles.runAvailableNow(spark, s"$root/in", s"$root/out", s"$root/cp")
    }
  }

  private def batchEstimates: Map[String, (Long, Int, Long, Long, Long)] = {
    import spark.implicits._
    QuantileSketch.sketchQuantiles(allRows.toDF("grp", "id", "v")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
  }

  test("streaming sketch: final estimates equal the batch sketch, any file slicing") {
    val rootA = java.nio.file.Files.createTempDirectory("graft-stream-q-a").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-stream-q-b").toString

    // uncommitted sink reads as empty
    assert(StreamingQuantiles.current(spark, s"$rootA/out").count() == 0)

    val rows = allRows
    drain(Seq(rows.take(100), rows.slice(100, 1200), rows.drop(1200)), rootA)
    val reshuffled = new scala.util.Random(11).shuffle(rows)
    drain(Seq(reshuffled.take(900), reshuffled.drop(900)), rootB)

    val batch = batchEstimates
    for (root <- Seq(rootA, rootB)) {
      val got = StreamingQuantiles.current(spark, s"$root/out").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == batch, s"$root: streaming estimates must equal the batch sketch")
    }

    // the below-K group's estimates are the EXACT percentiles of its 30
    // values 11..40: p50 rank 15 -> 25, p95 rank 29 -> 39, p99 rank 30 -> 40
    val fast = batch("fast.com")
    assert(fast == ((30L, 30, 25L, 39L, 40L)))
    assert(batch("slow.com")._2 == QuantileSketch.K, "big group saturated at K")

    // rerun with no new files emits nothing new
    val before = spark.read.parquet(s"$rootA/out").count()
    StreamingQuantiles.runAvailableNow(spark, s"$rootA/in", s"$rootA/out", s"$rootA/cp")
    assert(spark.read.parquet(s"$rootA/out").count() == before, "exactly-once")
  }

  test("restart resumes sketches from checkpointed state") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-q-r").toString
    val rows = allRows
    drain(Seq(rows.take(700)), root)
    drain(Seq(rows.drop(700)), root)
    val got = StreamingQuantiles.current(spark, s"$root/out").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == batchEstimates, "post-restart estimates must equal the batch sketch")
  }
}

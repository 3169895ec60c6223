package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming politeness-scheduler semantics: at most `budget` URLs per host
  * per wave, released in the engine's deterministic priority order; backlog
  * survives restarts (keyed state); hosts with backlog but no new
  * discoveries are woken by the wave tick; a late higher-priority discovery
  * preempts the backlog; `maxBacklogPerHost` drops counted overflow. */
class StreamingSchedulerSpec extends AnyFunSuite with SharedSpark {

  private val T0 = 1700000000000L
  private def wave(n: Int): Long = T0 + n * 60000L

  private def cand(host: String, id: Int, depth: Int = 1, pathDepth: Int = 1,
                   atMs: Long = T0) =
    StreamingScheduler.Candidate(
      s"https://$host/p$id", s"https://$host/p$id", depth,
      "seed", host, pathDepth, id.toLong, new java.sql.Timestamp(atMs))

  /** One wave = ONE file: discoveries + the tick row, all on the wave stamp. */
  private def writeWave(in: String, atMs: Long,
                        rows: Seq[StreamingScheduler.Candidate]): Unit = {
    import spark.implicits._
    spark.createDataset(rows :+ StreamingScheduler.tick(atMs))
      .coalesce(1).write.mode("append").parquet(in)
  }

  private def emitted(out: String): Seq[(String, Long)] = {
    val dir = new java.io.File(out)
    if (!dir.exists) Seq.empty
    else StreamingScheduler.readOutput(spark, out).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("urlHash"))).toSeq
  }

  test("per-host budget per wave, deterministic priority order, tick wake-ups") {
    val root = java.nio.file.Files.createTempDirectory("graft-sched").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    // wave 0: host a has 5 candidates (priority = urlHash asc), b has 1
    writeWave(in, wave(0),
      (1 to 5).map(i => cand("a.com", i, atMs = wave(0))) :+ cand("b.com", 9, atMs = wave(0)))
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    val e1 = emitted(out)
    assert(e1.count(_._1 == "a.com") == 2, s"budget caps a.com, got $e1")
    assert(e1.filter(_._1 == "a.com").map(_._2).sorted == Seq(1L, 2L),
      "the two HIGHEST-priority candidates go first")
    assert(e1.count(_._1 == "b.com") == 1, "under-budget host fully released")

    // wave 1: no new discoveries — the tick alone wakes a.com's backlog
    writeWave(in, wave(1), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    val e2 = emitted(out)
    assert(e2.count(_._1 == "a.com") == 4, "tick releases the next tranche")
    assert(e2.filter(_._1 == "a.com").map(_._2).sorted == Seq(1L, 2L, 3L, 4L))

    // wave 2: drains the last one; wave 3: nothing left, no output growth
    writeWave(in, wave(2), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    assert(emitted(out).count(_._1 == "a.com") == 5)
    writeWave(in, wave(3), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    assert(emitted(out).size == 6, "drained scheduler emits nothing on later ticks")
  }

  test("a late higher-priority discovery preempts the backlog") {
    val root = java.nio.file.Files.createTempDirectory("graft-sched-pre").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    // wave 0: three depth-2 candidates, budget 2 → hash 1,2 go, hash 3 waits
    writeWave(in, wave(0), (1 to 3).map(i => cand("a.com", i, depth = 2, atMs = wave(0))))
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    assert(emitted(out).map(_._2).sorted == Seq(1L, 2L))

    // wave 1: a depth-1 discovery arrives — it outranks the backlogged hash 3
    writeWave(in, wave(1), Seq(cand("a.com", 7, depth = 1, atMs = wave(1))))
    StreamingScheduler.schedule(spark, in, out, cp, budget = 2)
    assert(emitted(out).map(_._2).sorted == Seq(1L, 2L, 3L, 7L),
      "budget 2 = the new depth-1 candidate + the old backlog entry")
  }

  test("maxBacklogPerHost drops counted lowest-priority overflow") {
    val root = java.nio.file.Files.createTempDirectory("graft-sched-cap").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val acc = spark.sparkContext.longAccumulator("schedDropped")

    writeWave(in, wave(0), (1 to 10).map(i => cand("a.com", i, atMs = wave(0))))
    StreamingScheduler.schedule(spark, in, out, cp, budget = 1,
      maxBacklogPerHost = 3, droppedAcc = Some(acc))
    assert(acc.value == 7L, "overflow is counted, never silent")
    writeWave(in, wave(1), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 1,
      maxBacklogPerHost = 3, droppedAcc = Some(acc))
    writeWave(in, wave(2), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 1,
      maxBacklogPerHost = 3, droppedAcc = Some(acc))
    writeWave(in, wave(3), Seq.empty)
    StreamingScheduler.schedule(spark, in, out, cp, budget = 1,
      maxBacklogPerHost = 3, droppedAcc = Some(acc))
    val hashes = emitted(out).map(_._2).sorted
    assert(hashes == Seq(1L, 2L, 3L), s"only the capped backlog is ever released, got $hashes")
  }
}

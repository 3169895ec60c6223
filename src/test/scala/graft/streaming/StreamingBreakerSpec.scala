package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.CircuitBreaker

/** Streaming-breaker gates: wave-sliced decisions equal the batch fold
  * over the concatenation (slicing invariance), a kill/restart resumes a
  * breaker MID-COOLDOWN exactly, and a re-run over the same checkpoint
  * emits nothing twice. */
class StreamingBreakerSpec extends AnyFunSuite with SharedSpark {

  private def writeWave(in: String, rows: Seq[StreamingBreaker.Intent]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode("append").parquet(in)
  }

  private def decisions(out: String): Seq[(String, Long, String, String)] =
    StreamingBreaker.readOutput(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(3), r.getString(4)))
      .sortBy(d => (d._1, d._2)).toSeq

  test("wave slicing is invariant: streaming == batch fold; restart resumes mid-cooldown") {
    val root = java.nio.file.Files.createTempDirectory("graft-sbreaker").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    // host A: errors 0,1,2 → trips at 2; cooldown spans the WAVE BOUNDARY
    // (suppressions 3,4 in wave 1; 5,6 + probe 7 in wave 2 after restart)
    val a = "a.example"
    val okA = (t: Long) => t > 7 || t == 7 // probe at 7 succeeds
    writeWave(in, (0L to 4L).map(t => StreamingBreaker.Intent(a, t, okA(t) && t > 2)))
    StreamingBreaker.run(spark, in, out, cp)
    val mid = decisions(out)
    assert(mid.map(_._4) === Seq("fetch", "fetch", "fetch", "suppress", "suppress"))
    // "restart": a NEW run over the same checkpoint picks up the state
    writeWave(in, (5L to 9L).map(t => StreamingBreaker.Intent(a, t, true)))
    StreamingBreaker.run(spark, in, out, cp)
    val all = decisions(out)
    assert(all.map(_._4) === Seq("fetch", "fetch", "fetch", "suppress",
      "suppress", "suppress", "suppress", "probe", "fetch", "fetch"))
    // batch parity: the same events through the batch fold
    val events = (0L to 4L).map(t => (t.toInt, okA(t) && t > 2)) ++
      (5L to 9L).map(t => (t.toInt, true))
    val folded = {
      var s = CircuitBreaker.Initial
      events.map { case (t, ok) =>
        val (n, st, act) = CircuitBreaker.step(s, ok); s = n; (t, st, act)
      }
    }
    assert(all.map(d => (d._2.toInt, d._3, d._4)) === folded)
    // exactly-once: re-running with no new input emits nothing twice
    StreamingBreaker.run(spark, in, out, cp)
    assert(decisions(out) === all)
  }

  test("independent hosts carry independent state in one stream") {
    val root = java.nio.file.Files.createTempDirectory("graft-sbreaker2").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    writeWave(in,
      (0L to 3L).map(t => StreamingBreaker.Intent("bad.example", t, false)) ++
        (0L to 3L).map(t => StreamingBreaker.Intent("good.example", t, true)))
    StreamingBreaker.run(spark, in, out, cp)
    val got = decisions(out).groupBy(_._1)
    assert(got("good.example").map(_._4) === Seq("fetch", "fetch", "fetch", "fetch"))
    assert(got("bad.example").map(_._4) === Seq("fetch", "fetch", "fetch", "suppress"))
  }
}

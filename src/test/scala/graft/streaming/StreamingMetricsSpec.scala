package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import StreamingMetrics._

import graft.SharedSpark

/** Event-time semantics of the streaming metrics/sessionization queries:
  * windows emit exactly once when the watermark passes, later-than-watermark
  * rows are dropped, sessions close via event-time timeout, and the
  * fold logic is exact. */
class StreamingMetricsSpec extends AnyFunSuite with SharedSpark {

  private val Base = 1767261600000L // 2026-01-01 10:00:00 UTC
  private def ts(minutes: Double): java.sql.Timestamp =
    new java.sql.Timestamp(Base + (minutes * 60000L).toLong)
  private def ev(id: Long, minutes: Double, user: Long, tpe: String, v: Double) =
    StreamEvent(id, ts(minutes), user, tpe, v)

  /** Write each batch as ONE parquet file in `inputDir`, with strictly
    * increasing modification times so the file source processes them in
    * order (maxFilesPerTrigger=1 → one micro-batch per file, the watermark
    * advancing between them). */
  private def writeBatches(inputDir: Path, batches: Seq[Seq[StreamEvent]]): Unit = {
    import spark.implicits._
    batches.zipWithIndex.foreach { case (events, i) =>
      val tmp = Files.createTempDirectory("graft-stream-batch")
      spark.createDataset(events).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = inputDir.resolve(f"batch-$i%02d.parquet")
      Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(1700000000000L + i * 60000L)
    }
  }

  // the 4-batch timeline shared by both queries:
  //  1: u1 @10:00,@10:10 (one session), u2 @10:05
  //  2: u1 @11:00 (50-min gap → new session)
  //  3: sentinel @12:00 + a LATE row @10:00.5 (behind watermark 10:58 → drop)
  //  4: sentinel @13:00 (advances watermark → closes session/window tails)
  private def timeline: Seq[Seq[StreamEvent]] = Seq(
    Seq(ev(1, 0.0, 1, "view", 1.0), ev(2, 10.0, 1, "click", 2.0), ev(3, 5.0, 2, "view", 3.0)),
    Seq(ev(4, 60.0, 1, "view", 4.0)),
    Seq(ev(100, 120.0, 999, "sentinel", 0.0), ev(9, 0.5, 1, "view", 99.0)),
    Seq(ev(101, 180.0, 998, "sentinel", 0.0)))

  test("windowed counts: exact once-per-window emission; late rows dropped by watermark") {
    val in = Files.createTempDirectory("graft-stream-win-in")
    writeBatches(in, timeline)
    val out = Files.createTempDirectory("graft-stream-win-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-win-ckpt").toString
    StreamingMetrics.windowedCounts(spark, in.toString, out, ckpt)
    val rows = StreamingMetrics.windows(spark, out)
      .filter(org.apache.spark.sql.functions.col("event_type") =!= "sentinel")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val want = Seq(
      (ts(0.0).getTime, "view", 1L, 1.0),   // e1 only — the late e9 (v=99) was dropped
      (ts(5.0).getTime, "view", 1L, 3.0),   // e3
      (ts(10.0).getTime, "click", 1L, 2.0), // e2
      (ts(60.0).getTime, "view", 1L, 4.0))  // e4, flushed by the 13:00 sentinel
    assert(rows.toSeq == want.sorted)
    // once-per-window: no duplicate (window,type) pairs
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("streaming sessionize: event-time timeouts close sessions exactly once") {
    val in = Files.createTempDirectory("graft-stream-sess-in")
    writeBatches(in, timeline)
    val out = Files.createTempDirectory("graft-stream-sess-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-sess-ckpt").toString
    StreamingMetrics.sessionize(spark, in.toString, out, ckpt)
    val rows = StreamingMetrics.sessions(spark, out)
      .filter(org.apache.spark.sql.functions.col("user_id") < 900)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    // u1 session A: e1..e2 (2 events); u1 session B: e4 alone (closed by the
    // in-batch gap? no — by timeout once the watermark passes 11:30);
    // u2 session C: e3 alone. The late e9 is watermark-dropped.
    val want = Seq((1L, 2L, 1L, 2L), (1L, 1L, 4L, 4L), (2L, 1L, 3L, 3L)).sorted
    assert(rows.toSeq == want)
  }

  test("foldEvents: in-batch gap split, ordering, counts") {
    val (closed, open) = StreamingMetrics.foldEvents(7L,
      Seq((0L, 1L), (60000L, 2L), (10000000L, 3L)), None)
    assert(closed == Seq(ClosedSession(7L, 2L, 1L, 2L,
      new java.sql.Timestamp(0L), new java.sql.Timestamp(60000L))))
    assert(open.contains(SessionState(10000000L, 10000000L, 1L, 3L, 3L)))
    // continuing an open session from state
    val (c2, o2) = StreamingMetrics.foldEvents(7L, Seq((10060000L, 4L)), open)
    assert(c2.isEmpty && o2.contains(SessionState(10000000L, 10060000L, 2L, 3L, 4L)))
    // empty batch is a no-op
    assert(StreamingMetrics.foldEvents(7L, Seq.empty, open) == (Seq.empty, open))
  }

  test("foldEvents: cross-batch out-of-order events keep first/last consistent with extremes") {
    // open session at [100s, 200s]; a later batch delivers an in-gap event
    // at 150s (between first and last) and one at 50s (before first)
    val open = Some(SessionState(100000L, 200000L, 2L, 10L, 20L))
    val (c1, o1) = StreamingMetrics.foldEvents(7L, Seq((150000L, 15L)), open)
    assert(c1.isEmpty)
    assert(o1.contains(SessionState(100000L, 200000L, 3L, 10L, 20L)),
      "mid-session event must not displace first/last ids")
    val (c2, o2) = StreamingMetrics.foldEvents(7L, Seq((50000L, 5L)), o1)
    assert(c2.isEmpty)
    assert(o2.contains(SessionState(50000L, 200000L, 4L, 5L, 20L)),
      "earlier event must move firstTs AND firstEvent together")
  }
}

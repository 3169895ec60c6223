package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.Freshness

class StreamingDeltaSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def ts(epochSec: Long) = new java.sql.Timestamp(epochSec * 1000L)

  /** The two batch-derived captures as streaming Capture waves. */
  private def captures(): (Seq[StreamingDelta.Capture], Seq[StreamingDelta.Capture]) = {
    def snap(df: org.apache.spark.sql.DataFrame, at: Long) =
      df.collect().map(r => StreamingDelta.Capture(
        r.getAs[Long]("url_id"), ts(at), r.getAs[String]("content_hash"))).toSeq
    (snap(Freshness.snapshotA(spark, sfDir), 1000L),
      snap(Freshness.snapshotB(spark, sfDir), 2000L))
  }

  test("streaming delta: wave-by-wave events reproduce the batch diff; exactly-once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-delta").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    val (capA, capB) = captures()

    // an uncommitted sink reads as empty, not an error
    assert(StreamingDelta.readEvents(spark, out).count() == 0)

    // wave A arrives: every capture is a first sight
    spark.createDataset(capA).write.mode("append").parquet(in)
    StreamingDelta.changeEvents(spark, in, out, cp)
    val afterA = StreamingDelta.readEvents(spark, out).collect()
    assert(afterA.length == capA.size)
    assert(afterA.forall(r => r.getAs[String]("status") == "added" &&
      r.getAs[String]("prev_hash") == ""))

    // wave B arrives: events must reproduce the batch crawlDelta classification
    spark.createDataset(capB).write.mode("append").parquet(in)
    StreamingDelta.changeEvents(spark, in, out, cp)
    val events = StreamingDelta.readEvents(spark, out).collect()
      .map(r => (r.getAs[Long]("url_id"), r.getAs[java.sql.Timestamp]("capture_ts").getTime,
        r.getAs[String]("status"), r.getAs[String]("prev_hash")))
    val bEvents = events.filter(_._2 == 2000 * 1000L).map(e => e._1 -> (e._3, e._4)).toMap
    assert(events.length == capA.size + capB.size, "exactly one event per capture")

    val batch = Freshness.crawlDelta(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("url_id"), r.getAs[String]("status"),
        r.getAs[String]("hash_a"))).toSeq
    batch.foreach { case (id, status, hashA) =>
      status match {
        case "added" =>
          assert(bEvents(id) == (("added", "")), s"B-only url $id")
        case "removed" => // absence is not an event: no B wave event for it
          assert(!bEvents.contains(id), s"removed url $id must have no B event")
        case "changed" =>
          assert(bEvents(id) == (("changed", hashA)), s"changed url $id carries prev hash")
        case "unchanged" =>
          assert(bEvents(id) == (("unchanged", hashA)), s"unchanged url $id")
      }
    }
    // and the A-event set is exactly the batch's A-side presence
    val aIds = events.filter(_._2 == 1000 * 1000L).map(_._1).toSet
    assert(aIds == batch.filter(b => b._2 != "added").map(_._1).toSet)

    // exactly-once: a re-drain with no new files emits nothing
    StreamingDelta.changeEvents(spark, in, out, cp)
    assert(StreamingDelta.readEvents(spark, out).count() == events.length)

    // a third capture of one url (hash flips back) emits exactly one event,
    // classified against the B-wave state
    val one = capB.head
    val third = StreamingDelta.Capture(one.url_id, ts(3000L), one.content_hash + "x")
    spark.createDataset(Seq(third)).write.mode("append").parquet(in)
    StreamingDelta.changeEvents(spark, in, out, cp)
    val afterC = StreamingDelta.readEvents(spark, out).collect()
    assert(afterC.length == events.length + 1)
    val ev3 = afterC.find(_.getAs[java.sql.Timestamp]("capture_ts").getTime == 3000 * 1000L).get
    assert(ev3.getAs[String]("status") == "changed" &&
      ev3.getAs[String]("prev_hash") == one.content_hash)

    // a cross-batch straggler (older than the classified state) reads
    // 'late' and must NOT regress the state
    val stale = StreamingDelta.Capture(one.url_id, ts(1500L), "stalehash")
    spark.createDataset(Seq(stale)).write.mode("append").parquet(in)
    StreamingDelta.changeEvents(spark, in, out, cp)
    val afterD = StreamingDelta.readEvents(spark, out).collect()
    assert(afterD.length == afterC.length + 1)
    val evLate = afterD.find(_.getAs[java.sql.Timestamp]("capture_ts").getTime == 1500 * 1000L).get
    assert(evLate.getAs[String]("status") == "late" &&
      evLate.getAs[String]("prev_hash") == "")
    val fifth = StreamingDelta.Capture(one.url_id, ts(4000L), one.content_hash + "x")
    spark.createDataset(Seq(fifth)).write.mode("append").parquet(in)
    StreamingDelta.changeEvents(spark, in, out, cp)
    val ev5 = StreamingDelta.readEvents(spark, out).collect()
      .find(_.getAs[java.sql.Timestamp]("capture_ts").getTime == 4000 * 1000L).get
    assert(ev5.getAs[String]("status") == "unchanged",
      "the straggler did not become the comparison baseline")
  }

  test("streaming delta: observed schedule view shares the batch integer rules") {
    import spark.implicits._
    val (capA, capB) = captures()
    // build an event log directly (the unit under test is the rollup +
    // shared projection, not delivery)
    val inBoth = capA.map(_.url_id).toSet intersect capB.map(_.url_id).toSet
    val hashA = capA.map(c => c.url_id -> c.content_hash).toMap
    val log = capA.map(c => StreamingDelta.ChangeEvent(c.url_id, c.capture_ts,
        c.content_hash, "", "added")) ++
      capB.filter(c => inBoth(c.url_id)).map { c =>
        val prev = hashA(c.url_id)
        StreamingDelta.ChangeEvent(c.url_id, c.capture_ts, c.content_hash, prev,
          if (prev == c.content_hash) "unchanged" else "changed")
      }
    val view = StreamingDelta.scheduleView(spark.createDataset(log).toDF()).collect()
    assert(view.length == inBoth.size, "single-capture urls have no rate yet")
    view.foreach { r =>
      val caps = r.getAs[Long]("n_caps"); val chg = r.getAs[Long]("n_changes")
      assert(caps == 2L)
      // 2 captures, 1 interval: the shared projection's exact outputs
      assert(r.getAs[Long]("change_milli") == chg * 1000L)
      assert(r.getAs[Long]("interval_hours") == math.min(math.max(24L / (chg + 1), 6L), 168L))
    }
    // both outcomes appear, so the policy actually discriminates
    assert(view.map(_.getAs[Long]("n_changes")).distinct.sorted.toSeq == Seq(0L, 1L))
  }
}

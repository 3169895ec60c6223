package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gram-store twin gates: the admitted universe equals the batch distinct
  * gram set, per-doc admissions dominate batch novelty, re-delivery
  * admits nothing, the key set is slicing-invariant, and every
  * runAvailableNow call is a restart from checkpoint by construction. */
class StreamingGramStoreSpec extends AnyFunSuite with SharedSpark {

  private def drain(waves: Seq[Seq[StreamingGramStore.GramSighting]], root: String): Unit = {
    import spark.implicits._
    waves.foreach { wave =>
      spark.createDataset(wave).write.mode("append").parquet(s"$root/in")
      StreamingGramStore.runAvailableNow(spark, s"$root/in", s"$root/out", s"$root/cp")
    }
  }

  private def keys(root: String): Set[String] =
    StreamingGramStore.stored(spark, s"$root/out").collect()
      .map(_.getString(0)).toSet

  private val eight = (0 until 8).map(i => s"w$i").mkString(" ")

  test("waves: admitted universe = distinct grams; copies admit nothing new") {
    val d0 = StreamingGramStore.sightingsOf(0L, eight + " tail0")
    val copy = StreamingGramStore.sightingsOf(5L, eight) // subset of d0's grams
    val d1 = StreamingGramStore.sightingsOf(1L, (0 until 9).map(i => s"x$i").mkString(" "))
    val root = java.nio.file.Files.createTempDirectory("graft-gramstore-a").toString

    drain(Seq(d0), root)
    assert(keys(root) == d0.map(_.g).toSet, "wave 1 fully admitted")
    drain(Seq(copy ++ d1), root)
    assert(keys(root) == (d0 ++ d1).map(_.g).toSet,
      "the verbatim copy admits nothing; the fresh doc admits all its grams")
    val ledger = StreamingGramStore.noveltyLedger(spark, s"$root/out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ledger(0L) == d0.length.toLong && ledger(1L) == d1.length.toLong)
    assert(!ledger.contains(5L), "the copy's live novelty is zero")

    drain(Seq(copy ++ d1), root) // full re-delivery
    assert(keys(root) == (d0 ++ d1).map(_.g).toSet, "re-delivery admits nothing")
  }

  test("admitted key set is slicing-invariant and matches the batch universe") {
    val docs = (0L until 6L).map(i =>
      StreamingGramStore.sightingsOf(i, eight + s" only$i suffix$i"))
    val all = docs.flatten
    val rootA = java.nio.file.Files.createTempDirectory("graft-gramstore-b").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-gramstore-c").toString
    drain(Seq(all), rootA)
    val shuffled = new scala.util.Random(7).shuffle(all)
    drain(Seq(shuffled.take(all.length / 2), shuffled.drop(all.length / 2)), rootB)
    assert(keys(rootA) == keys(rootB))
    assert(keys(rootA) == all.map(_.g).toSet)
  }

  test("per-doc admissions dominate the batch novelty ledger") {
    import spark.implicits._
    val texts = (0L until 8L).map(i => (i, eight + s" uniq$i"))
    val root = java.nio.file.Files.createTempDirectory("graft-gramstore-d").toString
    drain(Seq(texts.flatMap { case (i, t) => StreamingGramStore.sightingsOf(i, t) }), root)
    val live = StreamingGramStore.noveltyLedger(spark, s"$root/out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.pipeline.GramNovelty.gramNovelty(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    batch.foreach { case (doc, novel) =>
      assert(live.getOrElse(doc, 0L) >= novel,
        s"doc $doc: first-seen admissions must cover its uniquely-owned grams")
    }
    assert(live.values.sum == texts.flatMap { case (i, t) =>
      StreamingGramStore.sightingsOf(i, t) }.map(_.g).distinct.size.toLong)
  }
}

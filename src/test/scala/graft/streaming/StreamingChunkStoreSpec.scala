package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.pipeline.{Cdc, RevisitQueries}

/** Chunk-store twin gates: wave-2 admissions equal the batch anti-join's
  * fresh-key set; re-delivered waves admit nothing (exactly-once); the
  * final store is slicing-invariant; every runAvailableNow call is a
  * restart from checkpoint, so resume is exercised by construction. */
class StreamingChunkStoreSpec extends AnyFunSuite with SharedSpark {

  private def sightings(pages: Seq[graft.model.PageRow]): Seq[StreamingChunkStore.ChunkSighting] =
    pages.flatMap(p => Cdc.chunks(p.html).map(c =>
      StreamingChunkStore.ChunkSighting(p.url, c.offset, c.len, c.hash)))

  private def drain(waves: Seq[Seq[StreamingChunkStore.ChunkSighting]], root: String): Unit = {
    import spark.implicits._
    waves.foreach { wave =>
      spark.createDataset(wave).write.mode("append").parquet(s"$root/in")
      StreamingChunkStore.runAvailableNow(spark, s"$root/in", s"$root/out", s"$root/cp")
    }
  }

  private def storeKeys(root: String): Set[(Long, Int)] =
    StreamingChunkStore.stored(spark, s"$root/out").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

  test("capture waves: admissions match the batch store; exactly-once on re-delivery") {
    val pages1 = graft.gen.CorpusGen.localPages(graft.gen.CorpusGen.Spec(2, 15))
    val pages2 = RevisitQueries.secondCapture(pages1)
    val (s1, s2) = (sightings(pages1), sightings(pages2))
    val root = java.nio.file.Files.createTempDirectory("graft-chunkstore-a").toString

    assert(StreamingChunkStore.stored(spark, s"$root/out").count() === 0L,
      "uncommitted sink reads as empty")
    drain(Seq(s1), root)
    val afterC1 = storeKeys(root)
    assert(afterC1 === s1.map(c => (c.hash, c.len)).toSet, "capture 1 fully admitted")

    drain(Seq(s2), root)
    val fresh = storeKeys(root) -- afterC1
    val batchFresh = s2.map(c => (c.hash, c.len)).toSet -- afterC1
    assert(fresh === batchFresh, "wave-2 admissions equal the batch anti-join key set")
    assert(fresh.nonEmpty, "the day-7 edits admit new chunks")

    drain(Seq(s2), root) // full re-delivery
    assert(storeKeys(root) === afterC1 ++ batchFresh, "re-delivery admits nothing")
  }

  test("final store is slicing-invariant") {
    val pages1 = graft.gen.CorpusGen.localPages(graft.gen.CorpusGen.Spec(2, 15))
    val all = sightings(pages1) ++ sightings(RevisitQueries.secondCapture(pages1))
    val rootA = java.nio.file.Files.createTempDirectory("graft-chunkstore-b").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-chunkstore-c").toString
    drain(Seq(all), rootA)
    val shuffled = new scala.util.Random(11).shuffle(all)
    drain(Seq(shuffled.take(all.length / 3), shuffled.drop(all.length / 3)), rootB)
    assert(storeKeys(rootA) === storeKeys(rootB))
    assert(storeKeys(rootA) === all.map(c => (c.hash, c.len)).toSet)
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** CDC gates: chunk bounds/contiguity invariants, the shift-resistance
  * property fixed-size blocking lacks (an insertion perturbs only chunks
  * up to the next boundary), and a full driver replay of the dedup query
  * — changed pages must demonstrate sub-page dedup. */
class CdcSpec extends AnyFunSuite with SharedSpark {

  /** Deterministic pseudo-random bytes (chunk boundaries need entropy). */
  private def noise(n: Int, seed: Long): Array[Byte] = {
    val out = new Array[Byte](n)
    var x = seed
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out(i) = (x >>> 33).toByte
      i += 1
    }
    out
  }

  test("chunk invariants: bounds, contiguity, exact coverage, determinism") {
    val b = noise(50000, 42L)
    val cs = Cdc.chunks(b)
    assert(cs.nonEmpty && cs.length > 10, s"~2KB average over 50KB, got ${cs.length}")
    assert(cs.head.offset === 0)
    cs.sliding(2).foreach { case Vector(a, c) =>
      assert(a.offset + a.len === c.offset, "contiguous")
    }
    assert(cs.map(_.len).sum === b.length, "exact coverage")
    assert(cs.forall(_.len <= Cdc.MaxChunk), "max bound")
    assert(cs.init.forall(_.len >= Cdc.MinChunk), "min bound (tail chunk exempt)")
    assert(Cdc.chunks(b).map(_.hash) === cs.map(_.hash), "deterministic")
    assert(Cdc.chunks(noise(0, 1L)).isEmpty, "empty input, no chunks")
  }

  test("shift resistance: an insertion perturbs only a bounded prefix of chunks") {
    val b = noise(40000, 7L)
    val edited = b.take(300) ++ Array[Byte](1, 2, 3, 4, 5) ++ b.drop(300)
    val h1 = Cdc.chunks(b).map(c => (c.hash, c.len))
    val h2 = Cdc.chunks(edited).map(c => (c.hash, c.len))
    // boundaries resync after the edit: the suffix chunk sequences agree
    val common = h1.reverse.zip(h2.reverse).takeWhile { case (a, c) => a == c }.length
    assert(common >= h1.length - 3,
      s"all but the first chunks re-align (shared suffix $common of ${h1.length})")
    assert(h1.head != h2.head || h1.length != h2.length,
      "the edited span's chunk actually changed")
  }

  test("query replay: sub-page dedup of the day-7 recrawl") {
    val pages1 = graft.gen.CorpusGen.localPages(graft.gen.CorpusGen.Spec(2, 15))
    val pages2 = RevisitQueries.secondCapture(pages1)
    val store1 = pages1.flatMap(p => Cdc.chunks(p.html).map(c => (c.hash, c.len))).toSet
    val expect = pages2.map { p =>
      val cs = Cdc.chunks(p.html)
      val fresh = cs.filterNot(c => store1.contains((c.hash, c.len)))
      p.url -> ((cs.length.toLong, cs.map(_.len.toLong).sum,
        fresh.length.toLong, fresh.map(_.len.toLong).sum))
    }.toMap
    val got = Cdc.cdcChunks(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (url, (n, bt, nn, bn, changed)) =>
      val (en, ebt, enn, ebn) = expect(url)
      assert((n, bt, nn, bn) === ((en, ebt, enn, ebn)), url)
      assert(changed === (bn > 0), url)
    }
    val changed = got.values.filter(_._5)
    assert(changed.nonEmpty && got.values.exists(!_._5), "both verdicts occur")
    // THE point of CDC: multi-chunk changed pages re-store only the edited
    // tail (single-chunk pages — tiny robots/sitemap files — legitimately
    // re-store whole)
    val multi = changed.filter(_._1 > 1)
    assert(multi.nonEmpty && multi.forall(v => v._4 < v._2),
      "no multi-chunk changed page re-stores all its bytes")
    assert(multi.exists(v => v._4 * 2 < v._2),
      "sub-page dedup is substantial somewhere")
  }
}

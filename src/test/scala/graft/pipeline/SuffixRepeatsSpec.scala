package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the suffix-window repeat profile: value-for-value
  * equality with a brute-force longest-repeat replay on hand corpora, the
  * planted-boilerplate detection story, cap saturation, and contract
  * coherence. */
class SuffixRepeatsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def run(docs: Seq[(Long, String)]) =
    SuffixRepeats.suffixRepeats(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap

  /** Brute force: for every position, the longest prefix of its 64-window
    * shared with ANY other position's window (the suffix-order max equals
    * the max over all, since sorted neighbors maximize lcp). */
  private def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long)] = {
    val wins = for ((id, t) <- docs; p <- 1 to t.length)
      yield (id, t.substring(p - 1, math.min(t.length, p - 1 + SuffixRepeats.WinCap)))
    def lcp(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0; while (i < n && a(i) == b(i)) i += 1; i
    }
    docs.map { case (id, t) =>
      val mine = wins.zipWithIndex.filter(_._1._1 == id)
      val reps = wins.zipWithIndex.collect { case ((wid, w), i) if wid == id =>
        wins.zipWithIndex.collect { case ((_, o), j) if j != i => lcp(w, o) }
          .foldLeft(0)(math.max)
      }
      val n32 = reps.count(_ >= SuffixRepeats.RepThreshold).toLong
      id -> ((t.length.toLong, reps.foldLeft(0)(math.max).toLong, n32,
        1000L * n32 / t.length))
    }.toMap
  }

  test("value-for-value equality with the brute-force replay") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "a totally different sentence with the quick brown fox inside",
      3L -> "zzzz unique content qqqq")
    assert(run(docs) == brute(docs))
  }

  test("planted 40-char licence header is found in both carriers, clean doc is quiet") {
    val header = "Copyright 2026 Example Corp All Rights."
    assert(header.length >= 32)
    val docs = Seq(
      1L -> (header + " alpha beta gamma delta unique one"),
      2L -> (header + " epsilon zeta eta theta unique two"),
      3L -> "nothing shared here at all, plain prose xyzw")
    val m = run(docs)
    assert(m(1L)._2 >= header.length.toLong && m(2L)._2 >= header.length.toLong)
    assert(m(1L)._3 > 0 && m(2L)._3 > 0, "repeat mass at the header positions")
    assert(m(3L)._3 == 0, "clean doc opens no >=32 repeat")
    assert(run(docs) == brute(docs))
  }

  test("identical docs saturate at the window cap, not beyond") {
    val t = "x" * 200
    val m = run(Seq(1L -> t, 2L -> t))
    assert(m(1L)._2 == SuffixRepeats.WinCap.toLong)
    // positions 170..200 have windows shorter than the 32-char threshold —
    // a repeat is only as long as the window that witnesses it, so exactly
    // the first 169 positions carry a >=32 repeat
    assert(m(1L)._3 == 169L && m(1L)._4 == 1000L * 169 / 200)
  }

  test("contract query: ledger identities on the real corpus") {
    val rows = SuffixRepeats.suffixRepeatsQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(2) <= SuffixRepeats.WinCap.toLong)
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) == 1000L * r.getLong(3) / r.getLong(1))
    }
    assert(rows.exists(_.getLong(3) > 0), "a real corpus carries repeated spans")
  }
}

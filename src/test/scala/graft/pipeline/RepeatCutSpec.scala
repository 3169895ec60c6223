package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the repeated-span cutter: value-for-value equality
  * with a plain-Scala per-code-point replay (brute-force rep + coverage
  * union — the DuckDB twin's method, re-derived independently here), the
  * planted-boilerplate removal story, and ledger coherence with the
  * detector. */
class RepeatCutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def run(docs: Seq[(Long, String)]) =
    RepeatCut.repeatCut(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap

  /** Plain-Scala replay in CODE POINTS: brute-force rep per position
    * (max lcp of the 64-window vs every other position's), coverage
    * union, char-wise reconstruction. */
  private def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, Long, String)] = {
    def cps(s: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        val n = Character.charCount(s.codePointAt(i))
        out += s.substring(i, i + n)
        i += n
      }
      out.result()
    }
    val all = docs.map { case (id, t) => id -> cps(t) }
    val wins = for ((id, cs) <- all; p <- 1 to cs.length)
      yield (id, p, cs.slice(p - 1, math.min(cs.length, p - 1 + SuffixRepeats.WinCap)))
    def lcp(a: Vector[String], b: Vector[String]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0; while (i < n && a(i) == b(i)) i += 1; i
    }
    all.map { case (id, cs) =>
      val reps = wins.collect { case (wid, p, w) if wid == id =>
        p -> wins.collect { case (oid, op, ow) if (oid, op) != (id, p) => lcp(w, ow) }
          .foldLeft(0)(math.max)
      }
      val cut = Array.fill(cs.length + 1)(false)
      reps.foreach { case (p, r) =>
        if (r >= SuffixRepeats.RepThreshold)
          (p until math.min(p + r, cs.length + 1)).foreach(q => cut(q) = true)
      }
      val kept = (1 to cs.length).filterNot(cut).map(q => cs(q - 1)).mkString
      val islands = (1 to cs.length).count(q => cut(q) && !cut(q - 1))
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> ((cs.length.toLong, islands.toLong, cut.count(identity).toLong,
        cs.length.toLong - cut.count(identity), md5))
    }.toMap
  }

  test("value-for-value equality with the per-code-point replay") {
    val header = "Copyright 2026 Example Corp All Rights."
    assert(header.length >= SuffixRepeats.RepThreshold)
    val docs = Seq(
      1L -> (header + " alpha beta gamma unique one"),
      2L -> (header + " delta epsilon zeta unique two"),
      3L -> "nothing repeated here at all, plain prose xyzw")
    assert(run(docs) == brute(docs))
    // and the carriers actually lost the header while the clean doc is intact
    val m = run(docs)
    assert(m(1L)._3 >= header.length.toLong && m(2L)._3 >= header.length.toLong)
    assert(m(3L)._3 == 0 && m(3L)._5 ==
      brute(Seq(3L -> "nothing repeated here at all, plain prose xyzw"))(3L)._5)
  }

  test("identical docs are cut to (nearly) nothing; islands merge overlaps") {
    val t = "a repeated block of text long enough to cross the threshold " * 3
    val m = run(Seq(1L -> t, 2L -> t))
    // every position opens a >=32 repeat (the twin doc), so everything is cut
    assert(m(1L)._3 == m(1L)._1 && m(1L)._4 == 0L, s"full cut expected: ${m(1L)}")
    assert(m(1L)._2 == 1L, "overlapping intervals must merge into one island")
    assert(run(Seq(1L -> t, 2L -> t)) == brute(Seq(1L -> t, 2L -> t)))
  }

  test("supplementary-plane text cuts at code-point boundaries") {
    val emoji = "😀🍕" // two non-BMP code points
    val header = "X" * 40
    val docs = Seq(
      1L -> (emoji + header + " tail one " + emoji),
      2L -> (header + " tail two"))
    assert(run(docs) == brute(docs))
  }

  test("composed pipeline == detector ledger ⨝ cutter ledger, value for value") {
    // the fused q_exactsubstr_pipeline (one detector pass) must reproduce
    // exactly what composing the two independent contract queries yields —
    // on a planted mix AND on the real corpus
    def check(docsDf: org.apache.spark.sql.DataFrame): Unit = {
      val fused = RepeatCut.exactSubstrPipeline(docsDf).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val det = SuffixRepeats.suffixRepeats(docsDf).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val cut = RepeatCut.repeatCut(docsDf).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap // drop doc_id + n_pos
      assert(fused.keySet == det.keySet && fused.keySet == cut.keySet)
      fused.foreach { case (id, row) =>
        assert(row == det(id) ++ cut(id), s"doc $id: fused row diverges")
      }
    }
    val header = "Copyright 2026 Example Corp All Rights."
    check(Seq(
      1L -> (header + " alpha beta gamma unique one"),
      2L -> (header + " delta epsilon zeta unique two"),
      3L -> "nothing repeated here at all, plain prose xyzw").toDF("doc_id", "text"))
    check(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text"))
  }

  test("ledger coherence with the detector on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val cutter = RepeatCut.repeatCut(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val detector = SuffixRepeats.suffixRepeats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(cutter.keySet == detector.keySet)
    cutter.foreach { case (id, (nPos, nCut)) =>
      val (dPos, maxRep, nRep32) = detector(id)
      assert(nPos == dPos)
      // a doc opens >=32-repeats iff the cutter removed something, and the
      // removal is at least as long as the longest single repeat
      assert((nRep32 > 0) == (nCut > 0), s"doc $id: detector/cutter disagree")
      if (nRep32 > 0) assert(nCut >= maxRep, s"doc $id: cut $nCut < max_rep $maxRep")
    }
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Snippet gates: the two-pointer best-window kernel replays a brute-force
  * driver derivation row-for-row on the real corpus, the partial-miss and
  * full-miss queries behave as specified, md5 reconstruction matches a
  * direct slice, and the plan broadcasts the query vocabulary. */
class SnippetsSpec extends AnyFunSuite with SharedSpark {

  private val Dir = "/root/testdata/sf0.001"

  /** Brute force: every anchored window, max distinct, leftmost tie. */
  private def brute(words: Array[String], terms: Set[String]): Option[(Long, Long, String)] = {
    val matches = words.zipWithIndex.filter { case (w, _) => terms(w) }
    if (matches.isEmpty) return None
    val W = Snippets.WindowWords
    var bestCnt = 0; var bestStart = 0
    matches.foreach { case (_, p) =>
      val cnt = matches.filter { case (_, q) => q >= p && q <= p + W - 1 }
        .map(_._1).distinct.length
      if (cnt > bestCnt) { bestCnt = cnt; bestStart = p }
    }
    val snip = words.slice(bestStart, math.min(bestStart + W, words.length)).mkString(" ")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(snip.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Some((bestCnt.toLong, bestStart.toLong, md5))
  }

  test("engine replays brute force row-for-row with top-k and tie rules") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text").as[(Long, String)].collect()
    val expect = Snippets.Queries.flatMap { q =>
      val terms = q.split(" ").toSet
      docs.flatMap { case (d, text) =>
        brute(text.split(" "), terms).map { case (cnt, start, md5) =>
          (q, d, cnt, start, md5)
        }
      }.sortBy { case (_, d, cnt, _, _) => (-cnt, d) }
        .take(Snippets.TopK).zipWithIndex
        .map { case ((qq, d, cnt, start, md5), i) => (qq, i + 1L, d, cnt, start, md5) }
    }.sortBy(r => (r._1, r._2))
    val got = Snippets.snippet(spark, Dir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === expect)
    // the full-miss query emits nothing; a hit query fills all TopK slots
    assert(!got.exists(_._1 == "quantum flux pelican"))
    assert(got.count(_._1 == "spark stream merge") === Snippets.TopK)
    // the partial-miss query can never exceed its one real term
    assert(got.filter(_._1 == "spark pelican").forall(_._4 === 1L))
  }

  test("plan: query vocabulary broadcasts; no cartesian product") {
    val plan = Snippets.snippet(spark, Dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("multi-term clustering beats scattered terms") {
    import spark.implicits._
    // doc 1: all three terms inside one window; doc 2: same terms scattered
    val docs = Seq(
      (1L, ("x " * 5) + "alpha beta gamma" + (" y" * 30)),
      (2L, "alpha " + ("f " * 40) + "beta " + ("g " * 40) + "gamma"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-snip").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Snippets.snippetFor(spark, tmp, Seq("alpha beta gamma")).collect()
    assert(out.length === 2)
    assert(out(0).getLong(2) === 1L && out(0).getLong(3) === 3L) // doc 1, 3 terms
    assert(out(1).getLong(2) === 2L && out(1).getLong(3) === 1L) // doc 2, scattered
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Phrase search gates: the anchor aggregation equals a brute-force
  * sliding-window scan on the real table, repeated-word phrases align
  * correctly on planted text, zero-hit phrases survive, and the plan has
  * no positional self-join chain (one broadcast, keyed aggs only). */
class PhraseSearchSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("anchor aggregation equals a brute-force sliding-window scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.get(0).toString.toLong, r.getString(1).split(" ")))
    val expect = PhraseSearch.Phrases.map { p =>
      val ws = p.split(" ")
      var nd = 0L; var no = 0L
      docs.foreach { case (_, words) =>
        val occ = words.sliding(ws.length).count(_.sameElements(ws))
        if (occ > 0) { nd += 1; no += occ }
      }
      p -> ((nd, no))
    }.toMap
    val got = PhraseSearch.phraseSearch(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect, s"got $got want $expect")
    assert(got("quantum flux pelican") == ((0L, 0L)), "miss phrase emits a zero row")
    assert(got.values.exists(_._1 > 0), "corpus has real hits")
  }

  test("repeated-word phrases align by term index, not word identity") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    // 'the the the' contains 'the the' twice (overlapping anchors 0 and 1)
    Seq((1L, "a the the the b"), (2L, "the x the"), (3L, "nothing here"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val got = PhraseSearch.search(spark, tmp, Seq("the the")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("the the") == ((1L, 2L)), "doc 1 matches at two overlapping anchors; doc 2 never")
  }

  test("plan: one broadcast of the query terms, no join chain, pruned postings") {
    val q = PhraseSearch.phraseSearch(spark, dir)
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("BroadcastHashJoin"), "query vocabulary broadcasts")
    assert(!plan.contains("SortMergeJoin"), "no positional self-join chain")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

}

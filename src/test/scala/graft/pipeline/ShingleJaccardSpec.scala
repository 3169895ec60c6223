package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Exact shingle-Jaccard gates: hand-checkable Jaccard arithmetic on a tiny
  * corpus, independent Scala-set replay on a planted mutation, the
  * stop-shingle cap provably suppressing boilerplate pairs, and the
  * sub-shingle-length edge (docs under 3 words pair with nothing). */
class ShingleJaccardSpec extends AnyFunSuite with SharedSpark {

  /** Independent replay: normalized word-3-gram sets via plain Scala. */
  private def shingleSet(text: String): Set[String] = {
    val w = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
    if (w.length < 3) Set.empty
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  test("exact Jaccard permille matches a hand computation") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog"   // drop last word
    val c = "completely different words with no overlap at all here"
    val docs = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val out = ShingleJaccard.jaccardPairs(docs).collect()
    assert(out.length === 1)
    val r = out.head
    val (sa, sb) = (shingleSet(a), shingleSet(b))
    val inter = (sa & sb).size.toLong
    assert(r.getAs[Long]("doc_a") === 0L && r.getAs[Long]("doc_b") === 1L)
    assert(r.getAs[Long]("inter") === inter)
    assert(r.getAs[Long]("size_a") === sa.size.toLong)
    assert(r.getAs[Long]("size_b") === sb.size.toLong)
    assert(r.getAs[Long]("jaccard_permille") ===
      inter * 1000L / (sa.size + sb.size - inter))
  }

  test("identical docs score exactly 1000; repeated shingles count once") {
    import spark.implicits._
    // internal repetition: "a b c a b c a b c" has only 3 distinct shingles
    val t = "alpha beta gamma alpha beta gamma alpha beta gamma"
    val docs = Seq((0L, t), (1L, t)).toDF("doc_id", "text")
    val out = ShingleJaccard.jaccardPairs(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("jaccard_permille") === 1000L)
    assert(out.head.getAs[Long]("size_a") === shingleSet(t).size.toLong)
  }

  test("normalization: case and punctuation differences do not break identity") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Hello, World! This is FINE."),
      (1L, "hello world  this is fine")).toDF("doc_id", "text")
    val out = ShingleJaccard.jaccardPairs(docs).collect()
    assert(out.length === 1 && out.head.getAs[Long]("jaccard_permille") === 1000L)
  }

  test("stop-shingle cap suppresses boilerplate-only pairs but exact dups of rare text survive") {
    import spark.implicits._
    // one boilerplate sentence shared by StopDf+2 docs (df over the cap),
    // plus two docs sharing a rare sentence
    val boiler = "subscribe to our newsletter for updates"
    val n = ShingleJaccard.StopDf.toInt + 2
    val boilerDocs = (0 until n).map(i => (i.toLong, boiler))
    val rare = Seq((1000L, "rare unique sentence appears twice only"),
      (1001L, "rare unique sentence appears twice only"))
    val docs = (boilerDocs ++ rare).toDF("doc_id", "text")
    val out = ShingleJaccard.jaccardPairs(docs).collect()
    // every boilerplate shingle has df = 66 > 64 → no boiler pairs at all;
    // the rare pair's shingles have df = 2 → exact-dup pair survives
    assert(out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet ===
      Set((1000L, 1001L)))
    assert(out.head.getAs[Long]("jaccard_permille") === 1000L)
  }

  test("docs under 3 normalized words emit nothing") {
    import spark.implicits._
    val docs = Seq((0L, "two words"), (1L, "two words"), (2L, ""), (3L, "  ,;!  ")).toDF("doc_id", "text")
    assert(ShingleJaccard.jaccardPairs(docs).collect().isEmpty)
  }

  test("contract query fires on the corpus: every planted near-dup pair found, scores high") {
    val out = ShingleJaccard.shingleJaccard(spark, "/root/testdata/sf0.001").collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plantable = base.selectExpr("doc_id", "size(split(text, ' ')) AS nw")
      .filter("doc_id < 25").collect()
      .filter(_.getAs[Int]("nw") >= 4) // dropping a word must leave ≥ 3 words
      .map(_.getAs[Long]("doc_id"))
    plantable.foreach { id =>
      assert(pairs.contains((id, id + DedupQueries.PlantOffset)),
        s"planted near-dup of doc $id not found")
    }
    out.foreach { r =>
      val j = r.getAs[Long]("jaccard_permille")
      assert(j >= ShingleJaccard.MinJaccardPermille && j <= 1000L)
    }
  }
}

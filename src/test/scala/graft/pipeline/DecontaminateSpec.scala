package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for benchmark decontamination: the donor collides with
  * itself (GPT-3 semantics), a full-span copier and a single-gram copier
  * score exactly, short donors are excluded, clean plants inflate the
  * ledger but never collide, and untouched docs never appear. */
class DecontaminateSpec extends AnyFunSuite with SharedSpark {

  private def tokens(from: Int, to: Int): String =
    (from to to).map(i => s"t$i").mkString(" ")

  test("planted contamination: donor, full copier, one-gram copier — exact counts") {
    import spark.implicits._
    val docs = Seq(
      (3L, tokens(1, 25)),              // donor (3 % 37 == 3): bench item = t5..t19
      (40L, tokens(5, 19)),             // copies the whole donated span → all 8 grams
      (41L, tokens(5, 12)),             // copies exactly one 8-gram (t5..t12)
      (50L, (1 to 12).map(i => s"u$i").mkString(" ")) // disjoint vocabulary
    ).toDF("doc_id", "text")
    val rows = Decontaminate.decontaminate(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 40L, 41L))
    val byDoc = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byDoc(3L) == ((8L, 1L, 8L)), "donor shares all 8 of its own grams")
    assert(byDoc(40L) == ((8L, 1L, 8L)), "full-span copy shares all 8 grams")
    assert(byDoc(41L) == ((1L, 1L, 1L)), "8-token copy is exactly one gram")
    // ledger: 1 derived donor + 3 clean plants; 8 donor grams + 3×3 clean grams
    assert(rows.forall(r => r.getLong(4) == 4L && r.getLong(5) == 17L &&
      r.getLong(6) == 3L))
  }

  test("short donors are excluded and clean corpora emit no rows") {
    import spark.implicits._
    // 77 % 37 == 3 but only 10 tokens < 19 → not a donor; nothing collides
    val docs = Seq(
      (77L, tokens(1, 10)),
      (80L, (1 to 20).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    assert(Decontaminate.decontaminate(docs).count() == 0L)
  }
}

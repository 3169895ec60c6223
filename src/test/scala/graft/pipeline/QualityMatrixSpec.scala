package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the joint length×quality census: hand-computed cell
  * placement (octave boundaries, stopword deciles), exact permille ledger,
  * and contract shape over the corpus. */
class QualityMatrixSpec extends AnyFunSuite with SharedSpark {

  test("hand corpus: exact cell placement and permille ledger") {
    import spark.implicits._
    // doc A: 4 words, 2 stopwords ("the","and") -> octave 2, 500‰ -> band 5
    // doc B: 4 words, 0 stopwords            -> octave 2, band 0
    // doc C: 8 words, 1 stopword             -> octave 3, 125‰ -> band 1
    val docs = Seq(
      "the cat and dog",
      "alpha beta gamma delta",
      "the quick brown fox jumps over lazy dogs").toDF("text")
    val rows = QualityMatrix.qualityMatrix(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // total docs 3, total words 16
    assert(rows.keySet == Set((2L, 5L), (2L, 0L), (3L, 1L)))
    assert(rows((2L, 5L)) == ((4L, 1L, 4L, 333L, 250L)))
    assert(rows((2L, 0L)) == ((4L, 1L, 4L, 333L, 250L)))
    assert(rows((3L, 1L)) == ((8L, 1L, 8L, 333L, 500L)))
  }

  test("boundary: 8 words opens octave 3 exactly; all-stopword doc hits band 10") {
    import spark.implicits._
    val docs = Seq(
      "b c d e f g h i",          // 8 words, none stop -> octave 3 (not 2)
      "the the the the the the t", // 7 words, 6 stop -> octave 2, 857‰ -> band 8
      "the the the the").toDF("text") // 4 words all stop -> 1000‰ -> band 10
    val rows = QualityMatrix.qualityMatrix(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows == Set((3L, 0L), (2L, 8L), (2L, 10L)))
  }

  test("contract query: cells ordered, permilles sum within floor drift") {
    val rows = QualityMatrix.qualityMatrixQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length >= 3, "a real corpus spans several cells")
    val keys = rows.map(r => (r.getLong(0), r.getLong(2)))
    assert(keys.sameElements(keys.sorted))
    val dp = rows.map(_.getLong(5)).sum
    val wp = rows.map(_.getLong(6)).sum
    assert(dp >= 1000 - rows.length && dp <= 1000, "doc permille floor drift only")
    assert(wp >= 1000 - rows.length && wp <= 1000, "word permille floor drift only")
    // w_lo is the octave's lower boundary
    rows.foreach(r => assert(r.getLong(1) == (1L << r.getLong(0).toInt)))
  }
}

package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Segment-profile gates: a hand-built mixed document yields the exact
  * expected segment classes, switch count, dominant class and minority
  * mass; single-class documents profile as switch-free; corpus run is
  * non-degenerate (mixed docs exist and invariants hold). */
class LangSegmentsSpec extends AnyFunSuite with SharedSpark {

  /** Build a documents.parquet with controlled texts, return its dir. */
  private def corpus(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("langseg").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "test") }
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** A 12-word segment dominated by the given marker family. */
  private def seg(cls: String): String = {
    val m = TextAnalysis.sqlMarkers(cls)
    (m ++ m ++ Seq.fill(12 - 2 * m.length)("pad")).take(12).mkString(" ")
  }

  test("hand-built mixed document: classes, switches, dominant, minority") {
    // sql, sql, ml, sql, stream → 4 switches? adjacent pairs: (sql,sql)=0,
    // (sql,ml)=1, (ml,sql)=1, (sql,stream)=1 → 3 switches; dominant sql (3/5)
    val text = Seq(seg("sql"), seg("sql"), seg("ml"), seg("sql"), seg("stream")).mkString(" ")
    val dir = corpus(Seq(text))
    val r = LangSegments.langSegments(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(1) === 5L, "n_segments")
    assert(row.getLong(2) === 3L, "n_sql")
    assert(row.getLong(3) === 1L, "n_stream")
    assert(row.getLong(4) === 1L, "n_ml")
    assert(row.getLong(5) === 3L, "n_switches")
    assert(row.getString(6) === "sql")
    assert(row.getLong(7) === (5L - 3L) * 1000L / 5L, "minority_permille")
  }

  test("single-class documents are switch-free with zero minority mass") {
    val dir = corpus(Seq(
      Seq.fill(4)(seg("stream")).mkString(" "),
      Seq.fill(3)(seg("ml")).mkString(" ")))
    val rs = LangSegments.langSegments(spark, dir).collect()
    assert(rs.length === 2)
    rs.foreach { row =>
      assert(row.getLong(5) === 0L, "n_switches")
      assert(row.getLong(7) === 0L, "minority_permille")
    }
    assert(rs(0).getString(6) === "stream")
    assert(rs(1).getString(6) === "ml")
  }

  test("corpus run: invariants hold and mixed documents exist") {
    val rows = LangSegments.langSegments(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, a, b, c, sw) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a + b + c === n, s"class counts partition segments: $r")
      assert(sw <= n - 1, s"switches bounded by adjacencies: $r")
      assert(r.getLong(7) <= 1000L)
      val domCnt = Seq(a, b, c).max
      assert(r.getLong(7) === (n - domCnt) * 1000L / n)
    }
    assert(rows.exists(_.getLong(5) > 0L), "no mixed doc in corpus — degenerate")
  }
}

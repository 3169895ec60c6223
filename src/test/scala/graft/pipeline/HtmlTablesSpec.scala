package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Contract gates for the table harvest: organic silence over the whole
  * corpus, exact plant accounting, and determinism. */
class HtmlTablesSpec extends AnyFunSuite with SharedSpark {

  test("contract: only the plants carry tables; shapes match their design") {
    val rows = HtmlTables.htmlTablesQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.forall(_.getString(0).startsWith("plant://")),
      "every corpus page is table-free — the scanner must not hallucinate")
    val byUrl = rows.groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    // relational: 3 rows (header + 2), rectangular 3 cols, 3 header cells
    val rel = byUrl("plant://tables/relational").head
    assert(rel.getLong(2) == 3L && rel.getLong(3) == 3L && rel.getLong(4) == 3L &&
      rel.getLong(5) == 3L && rel.getLong(6) == 9L)
    // ragged layout: col spread 1..3, no headers
    val rag = byUrl("plant://tables/ragged").head
    assert(rag.getLong(3) == 1L && rag.getLong(4) == 3L && rag.getLong(5) == 0L)
    // nested: two tables, parent counts 4 own cells (2 rows x 2), inner 2
    val nested = byUrl("plant://tables/nested")
    assert(nested.length == 2 && nested(0).getLong(6) == 4L && nested(1).getLong(6) == 2L)
    // two tables on one page keep document order
    val two = byUrl("plant://tables/two")
    assert(two.length == 2 && two(0).getLong(5) == 1L && two(1).getLong(5) == 0L)
    // empty table: present, zero rows
    assert(byUrl("plant://tables/empty").head.getLong(2) == 0L)
    // determinism
    val again = HtmlTables.htmlTablesQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}

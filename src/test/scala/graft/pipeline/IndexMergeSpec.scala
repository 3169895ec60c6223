package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Index-maintenance gates: the merge theorem (old⊖tombstones ∪ delta ==
  * direct rebuild, posting-for-posting), all three edit classes occur and
  * flow correctly, and the contract query's term stats replay. */
class IndexMergeSpec extends AnyFunSuite with SharedSpark {

  test("merge theorem: maintained index equals the direct rebuild") {
    val direct = IndexMerge.postings(spark, IndexMerge.capture2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val maintained = IndexMerge.merged(spark)
      .collect().map(r => (r.getString(1), r.getString(0)) -> r.getLong(2)).toMap
    assert(maintained === direct, "posting-for-posting equality")
  }

  test("edit classes all occur and flow correctly") {
    val c1 = IndexMerge.capture1.toMap
    val classes = c1.keys.map(IndexMerge.editClass).toSet
    assert(classes === Set(0, 1, 2), "updates, deletes, and unchanged all occur")
    val c2 = IndexMerge.capture2.toMap
    assert(c2.contains(IndexMerge.NewUrl), "the planted add is present")
    c1.foreach { case (url, text) =>
      IndexMerge.editClass(url) match {
        case 0 => assert(c2(url) != text && c2(url).startsWith(text), s"updated $url")
        case 1 => assert(!c2.contains(url), s"deleted $url")
        case _ => assert(c2(url) === text, s"unchanged $url")
      }
    }
  }

  test("contract query: term stats replay; deletes/adds visible") {
    def stats(docs: Seq[(String, String)]): Map[String, (Long, Long)] = {
      val perDoc = docs.flatMap { case (u, t) =>
        t.split(" ").filter(_.nonEmpty).groupBy(identity).map { case (w, o) => (w, u, o.length.toLong) }
      }
      perDoc.groupBy(_._1).map { case (t, v) =>
        t -> ((v.length.toLong, v.map(_._3).sum))
      }
    }
    val s1 = stats(IndexMerge.capture1)
    val s2 = stats(IndexMerge.capture2)
    val expect = s2.toSeq
      .sortBy { case (t, (df, _)) => (-df, t) }.take(100)
      .map { case (t, (df, cf)) =>
        val (dfo, cfo) = s1.getOrElse(t, (0L, 0L))
        (t, dfo, cfo, df, cf)
      }
    val got = IndexMerge.indexMerge(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expect, "term-level evolution matches the replay")
    // the maintained index must show the add's fresh vocabulary somewhere
    val s2only = s2.keySet -- s1.keySet
    assert(s2only.nonEmpty, "new vocabulary enters via update/add tokens")
  }
}

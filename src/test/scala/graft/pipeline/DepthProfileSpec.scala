package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the depth census: hand-built URL set with exact
  * depths/query counts, trailing-slash handling, and contract shape. */
class DepthProfileSpec extends AnyFunSuite with SharedSpark {

  test("hand set: exact depths, query counts, and survival permilles") {
    import spark.implicits._
    val urls = Seq(
      "https://a.example/",                 // depth 0
      "https://a.example/x",                // 1
      "https://a.example/x/",               // 1 (trailing slash adds nothing)
      "https://b.example/x/y?page=2",       // 2 + query
      "https://b.example/x/y/z")            // 3
    val rows = DepthProfile.depthProfile(urls.toDF("url")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L))
    assert(rows(0L) == ((1L, 1L, 0L, 200L, 1000L)))
    assert(rows(1L) == ((2L, 1L, 0L, 400L, 800L)), "both depth-1 variants distinct urls")
    assert(rows(2L) == ((1L, 1L, 1L, 200L, 400L)), "query url counted at its path depth")
    assert(rows(3L) == ((1L, 1L, 0L, 200L, 200L)))
  }

  test("contract query: depths ascending, survival monotone from 1000") {
    val rows = DepthProfile.depthProfileQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val depths = rows.map(_.getLong(0))
    assert(depths.sameElements(depths.sorted))
    assert(rows.head.getLong(5) == 1000L, "every url is at or above the min depth")
    val cum = rows.map(_.getLong(5))
    assert(cum.zip(cum.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getLong(2) >= 1 && r.getLong(3) <= r.getLong(1)))
  }
}

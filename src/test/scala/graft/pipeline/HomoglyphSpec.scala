package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for homoglyph spoof detection: hand universes (spoof
  * cluster, squatting twin, clean corpus), skeleton-map coverage, and
  * contract plant accounting. */
class HomoglyphSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def census(hosts: Seq[String]) =
    Homoglyph.homoglyphCensus(hosts.toDF("host")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))).toMap

  test("a Cyrillic-а spoof of a live host is a spoofed cluster; clean hosts stay out") {
    val m = census(Seq("paypal.com", "pаypal.com", "example.org"))
    assert(m.keySet == Set("paypal.com"), "only the attacked skeleton is reported")
    assert(m("paypal.com") == ((2L, 1L, 1L, 1)))
  }

  test("a disguised host with no clean twin is reported unspoofed (squatting)") {
    val m = census(Seq("еvil.net", "other.com"))
    assert(m("evil.net") == ((1L, 0L, 1L, 0)))
  }

  test("every confusable in the map folds to its target") {
    val disguised = "аеосрхуі.dev"
    val m = census(Seq(disguised, "aeocpxyi.dev"))
    assert(m("aeocpxyi.dev") == ((2L, 1L, 1L, 1)))
  }

  test("contract query: six planted twins, exactly five spoofed + one squatter") {
    val rows = Homoglyph.homoglyphSpoofQuery(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 6, "exactly the six planted skeletons are flagged")
    assert(rows.count(_.getInt(4) == 1) == 5,
      "the five twins whose originals survive are spoof clusters")
    assert(rows.count(r => r.getInt(4) == 0 && r.getLong(2) == 0L) == 1,
      "the last host's twin squats alone — disguised, no clean member")
    rows.foreach(r => assert(r.getLong(3) == 1L))
  }
}

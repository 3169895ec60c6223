package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Cascade gates: a full digit replay (no resolver, no parser) matches
  * the pipeline row-for-row; every signal and the two-step composition
  * provably occur; collapse is idempotent (canonical_final is a fixed
  * point); the plan resolves redirects with hash joins only. */
class CanonicalCascadeSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def dropUtm(u: String): String = {
    val i = u.indexOf("?utm=")
    if (i < 0) u else u.substring(0, i)
  }

  test("digit replay matches row-for-row; signals and composition occur") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "doc_id").as[(String, Long)].collect()
    val expect = docs.map { case (src, id) =>
      val url = CanonicalCascade.universeUrl(src, id)
      val redirected = url.contains("?utm=") && CanonicalCascade.route(url) == 0
      val p1 = if (redirected) dropUtm(url) else url
      val declared = p1.contains("?utm=") && CanonicalCascade.route(p1) == 1
      val p2 = if (declared) dropUtm(p1) else p1
      val p3 = dropUtm(p2)
      url -> ((redirected, declared, p2 != p3, p1, p2, p3))
    }.toMap
    // group mins per (host, digest class)
    val byGroup = expect.values.groupBy { v =>
      val host = "^https?://([^/]+)".r.findFirstMatchIn(v._6).get.group(1)
      (host, CanonicalCascade.digestClass(v._6))
    }.map { case (k, vs) => k -> ((vs.map(_._6).min, vs.size.toLong)) }

    val got = CanonicalCascade.canonicalCascade(spark, dir).collect()
    assert(got.length === docs.length)
    got.foreach { r =>
      val (redirected, declared, dust, p1, p2, p3) = expect(r.getString(0))
      assert((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)) ===
        ((redirected, declared, dust)), r.getString(0))
      assert((r.getString(4), r.getString(5), r.getString(6)) === ((p1, p2, p3)))
      val host = "^https?://([^/]+)".r.findFirstMatchIn(p3).get.group(1)
      val (fin, size) = byGroup((host, CanonicalCascade.digestClass(p3)))
      assert(r.getString(7) === fin && r.getLong(8) === size, r.getString(0))
    }
    // every signal fires somewhere, and digest groups genuinely merge
    assert(got.exists(_.getBoolean(1)), "a redirect occurs")
    assert(got.exists(_.getBoolean(2)), "a declaration occurs")
    assert(got.exists(_.getBoolean(3)), "a DUST strip occurs")
    assert(got.exists(_.getLong(8) > 1), "a digest group merges")
    // composition: some url needs a step-1/2/3 signal AND the digest step
    assert(got.exists(r => (r.getBoolean(1) || r.getBoolean(2) || r.getBoolean(3)) &&
      r.getString(6) != r.getString(7)),
      "a url collapses through a signal AND the digest group — the cascade point")
  }

  test("canonical_final is a fixed point of the cascade") {
    val finals = CanonicalCascade.canonicalCascade(spark, dir).collect()
      .map(_.getString(7)).distinct
    finals.foreach { f =>
      assert(!f.contains("?utm="), s"final carries no tracking param: $f")
      assert(!(f.contains("?utm=") && CanonicalCascade.route(f) == 0), "finals don't redirect")
    }
  }

  test("plan: no all-pairs anywhere in the cascade") {
    val q = CanonicalCascade.canonicalCascade(spark, dir)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "keyed joins only — redirects, canonical groups, digest groups")
  }
}

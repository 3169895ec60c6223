package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for corpus drift: identical snapshots drift zero, the
  * integer TVD ledger matches an independent in-memory recompute, and the
  * top-contributor cut is the deterministic (contrib desc, term asc) one. */
class CorpusDriftSpec extends AnyFunSuite with SharedSpark {

  private def corpus = {
    import spark.implicits._
    (0 until 200).map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma gamma" else "delta"} word$i")
    }.toDF("doc_id", "text")
  }

  test("identical salts: zero drift, zero contributor rows") {
    val out = CorpusDrift.drift(corpus, ":same", ":same")
    assert(out.count() == 0)
  }

  test("TVD ledger matches an independent in-memory recompute") {
    import spark.implicits._
    val out = CorpusDrift.drift(corpus).collect()
    assert(out.nonEmpty)
    val (nA, nB, tvd) = (out.head.getLong(4), out.head.getLong(5), out.head.getLong(6))

    // recompute both snapshots with the same membership rule, in memory
    def md5hex(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    def terms(salt: String): Map[String, Long] = corpus.collect()
      .filter(r => md5hex(r.getLong(0).toString + salt).charAt(0) < 'c')
      .flatMap(_.getString(1).toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" "))
      .filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (ta, tb) = (terms(CorpusDrift.SaltA), terms(CorpusDrift.SaltB))
    val (eNA, eNB) = (ta.values.sum, tb.values.sum)
    assert((nA, nB) == ((eNA, eNB)))
    val contribs = (ta.keySet ++ tb.keySet).toSeq.map { t =>
      t -> math.abs(ta.getOrElse(t, 0L) * eNB - tb.getOrElse(t, 0L) * eNA)
    }
    assert(tvd == contribs.map(_._2).sum * 500L / (eNA * eNB))

    // the emitted rows are exactly the top nonzero contributors in
    // (contrib desc, term asc) order
    val expectedTop = contribs.filter(_._2 > 0)
      .sortBy { case (t, c) => (-c, t) }.take(CorpusDrift.TopContributors)
    assert(out.map(r => (r.getString(0), r.getLong(3))).toSeq == expectedTop)
  }

  test("contract query runs at sf0.001 with consistent global metrics on every row") {
    val out = CorpusDrift.corpusDrift(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= CorpusDrift.TopContributors)
    assert(out.map(r => (r.getLong(4), r.getLong(5), r.getLong(6))).distinct.length == 1)
    assert(out.head.getLong(6) >= 0 && out.head.getLong(6) <= 1000)
  }
}

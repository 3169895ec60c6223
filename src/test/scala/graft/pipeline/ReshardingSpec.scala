package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Gates for the reshard-plan operator: the structural claims the operator
  * exists to demonstrate, verified on a population large enough to fill
  * every shard, plus a driver-side replay of the corpus query. */
class ReshardingSpec extends AnyFunSuite with SharedSpark {

  test("exact-multiple growth is fan-in 1 for both; coprime growth: mod all-to-all, prefix <= 2") {
    import spark.implicits._
    val urls = (0 until 20000).map(i => s"https://h${i % 97}.com/p/$i").toDF("url")
    val rows = Resharding.reshardPlan(urls).collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.size == 4)
    rows.values.foreach { case (n, _, _, _) => assert(n == 20000L) }
    // 8 -> 32: both policies are pure splits (fan-in exactly 1 everywhere)
    assert(rows(("mod", 32L))._3 == 1L && rows(("prefix", 32L))._3 == 1L)
    // 8 -> 13: mod fan-in = 8/gcd(8,13) = 8 — every new shard reads every
    // old shard; prefix stays a bounded-overlap range split
    val (_, edgesMod, maxMod, minMod) = rows(("mod", 13L))
    assert(maxMod == 8L && minMod == 8L && edgesMod == 104L,
      s"mod 8->13 must be all-to-all, got edges=$edgesMod max=$maxMod")
    val (_, _, maxPre, minPre) = rows(("prefix", 13L))
    assert(maxPre <= 2L && minPre >= 1L,
      s"prefix 8->13 must stay a bounded range overlap, got max=$maxPre")
  }

  test("reshardPlan matches a driver-side replay on the corpus population") {
    val out = Resharding.reshardQuery(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 4)
    val edges = CrawlQueries.extractLinkEdges(spark, "").collect()
      .flatMap(r => Seq(r.getString(0), r.getString(1)))
    val plant = (0 until 180).map { i =>
      val sid = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      s"https://${UrlTemplates.TrapHost}/events/2024/${i / 30 + 1}/${i % 30 + 1}?sid=$sid"
    }
    val hs = (edges ++ plant).filter(_.startsWith("http")).distinct.map { u =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(11)
      java.lang.Long.parseLong(hex, 16)
    }
    def fanin(olds: Long => Long, news: Long => Long) = {
      val g = hs.groupBy(news).view.mapValues(_.map(olds).distinct.size.toLong)
      (hs.length.toLong, g.values.sum, g.values.max, g.values.min)
    }
    out.foreach { r =>
      val (pF, pT) = (r.getLong(1).toInt, r.getLong(2).toInt)
      val expect = r.getString(0) match {
        case "mod" => fanin(_ % pF, _ % pT)
        case _ =>
          val (sF, sT) = (Cardinality.HashSpace / pF, Cardinality.HashSpace / pT)
          fanin(h => math.min(h / sF, pF - 1L), h => math.min(h / sT, pT - 1L))
      }
      val got = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(got == expect, s"${r.getString(0)} $pF->$pT mismatch")
    }
  }
}

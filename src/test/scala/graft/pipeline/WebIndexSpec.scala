package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the web-index operators: every output row must match
  * a plain-Scala re-derivation (regex + sort/reverse string ops — none of
  * the Column machinery), and the planted rows pin each SURT rule and both
  * reciprocity outcomes by hand-computed expectation. */
class WebIndexSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  /** Independent plain-Scala SURT (same spec, none of the shared code). */
  private def surtRef(url: String): String = {
    val u = url.toLowerCase
    def ext(re: String): String =
      re.r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val host = ext("^https?://([^/?#]+)")
      .replaceAll(":(80|443)$", "").replaceAll("^www\\.", "")
    val rev = host.split("\\.", -1).reverse.mkString(",")
    val path0 = ext("^https?://[^/?#]+([^?#]*)")
    val path = if (path0.isEmpty) "/" else path0
    val q = ext("\\?([^#]*)")
    val sq = q.split("&", -1).sorted.mkString("&")
    rev + ")" + path + (if (q.isEmpty) "" else "?" + sq)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("cdxIndex: every row matches the plain-Scala SURT replay, digest is md5, order is by urlkey") {
    val rows = WebIndex.cdxIndex(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (url, key, dig) = (r.getString(0), r.getString(1), r.getString(2))
      assert(key == surtRef(url), s"urlkey mismatch for $url")
      assert(dig == md5Hex(url), s"digest mismatch for $url")
    }
    val keys = rows.map(r => (r.getString(1), r.getString(0))).toSeq
    assert(keys == keys.sorted, "index not sorted by (urlkey, url)")
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
  }

  test("cdxIndex: planted urls pin every SURT rule by hand-computed key") {
    val got = WebIndex.cdxIndex(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = Map(
      // case fold + default-port strip + www-strip + param byte-sort
      "https://WWW.Example.COM:443/A/B?b=2&a=1&z" -> "com,example)/a/b?a=1&b=2&z",
      // host-only url -> '/' path, :80 strip
      "http://example.com:80" -> "com,example)/",
      // subdomain reversal + fragment drop + param sort
      "https://sub.api.example.com/v1/items?id=9&fmt=json#frag" ->
        "com,example,api,sub)/v1/items?fmt=json&id=9",
      // trailing slash preserved
      "http://example.com/path/only/" -> "com,example)/path/only/",
      // root path with params
      "https://example.com/?z=1&y=2&x=3" -> "com,example)/?x=3&y=2&z=1")
    expected.foreach { case (url, key) =>
      assert(got.get(url).contains(key), s"$url -> ${got.get(url)} != $key")
    }
  }

  test("reciprocalLinks: every row matches the pair-set replay; plants pin both outcomes") {
    // independent replay: host pairs from the raw edge collect + the plant
    val hostOf = (u: String) =>
      "^https?://([^/]+)".r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val organic = CrawlQueries.extractLinkEdges(spark, sfDir).collect()
      .filter(_.getString(1).startsWith("http"))
      .map(r => (hostOf(r.getString(0)), hostOf(r.getString(1))))
    val pairs = (organic ++ WebIndex.RecipPlantPairs).filter(p => p._1 != p._2).toSet
    val expected = pairs.groupBy(_._1).map { case (h, out) =>
      val rec = out.count(p => pairs.contains((p._2, p._1)))
      h -> ((out.size.toLong, rec.toLong, 1000L * rec / out.size))
    }
    val got = WebIndex.reciprocalLinks(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // a links b + c, only b links back -> 2 out, 1 reciprocal, 500 permille
    assert(got("spam-farm-a.example") == ((2L, 1L, 500L)))
    assert(got("spam-farm-b.example") == ((1L, 1L, 1000L)))
    // c never links out, so it carries no row (outlink-less hosts have no ratio)
    assert(!got.contains("independent.example"))
  }

  test("hostComponents: matches the plain-Scala fixpoint replay") {
    val hostOf = (u: String) =>
      "^https?://([^/]+)".r.findFirstMatchIn(u).map(_.group(1)).getOrElse("")
    val organic = CrawlQueries.extractLinkEdges(spark, sfDir).collect()
      .filter(_.getString(1).startsWith("http"))
      .map(r => (hostOf(r.getString(0)), hostOf(r.getString(1))))
    val dir0 = (organic ++ WebIndex.CcPlantPairs).filter(p => p._1 != p._2)
    val und = (dir0 ++ dir0.map(_.swap)).toSet
    val nbrs = und.groupBy(_._1).map { case (h, es) => h -> es.map(_._2) }
    // replay to CONVERGENCE — the star-alternation kernel must land on
    // the same fixpoint
    var labels = nbrs.keys.map(h => h -> h).toMap
    var changed = true
    var rounds = 0
    while (changed) {
      changed = false
      rounds += 1
      labels = labels.map { case (h, l) =>
        val nl = (nbrs(h).map(labels) + l).min
        if (nl != l) changed = true
        h -> nl
      }
    }
    val sizes = labels.values.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    val expected = labels.map { case (h, l) => h -> ((l, sizes(l))) }
    val got = WebIndex.hostComponents(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == expected)
    // the planted ring is its own 3-host component, labeled by its min host
    assert(got("ring-z.example") == (("ring-x.example", 3L)))
    assert(got("ring-y.example") == (("ring-x.example", 3L)))
    // and the organic corpus hosts are NOT in the ring's component
    assert(got.exists { case (h, (c, _)) => !h.contains("ring-") && c != "ring-x.example" })
  }

  test("components: planted diameter-30 chain merges exactly — past any bounded-round horizon") {
    import spark.implicits._
    // a 31-host chain (diameter 30) would silently under-merge under any
    // fixed-round one-hop propagation; star alternation must land the
    // exact single component in O(log n) rounds
    val chain = (0 until 30).map(i => (f"chain-$i%02d.example", f"chain-${i + 1}%02d.example"))
    val got = WebIndex.components(chain.toDF("a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size == 31)
    got.foreach { case (h, (c, sz)) =>
      assert(c == "chain-00.example", s"$h labeled $c")
      assert(sz == 31L, s"$h size $sz")
    }
    // and a forked variant (two chains sharing one end) still one component
    val fork = chain ++ (0 until 15).map(i => (f"fork-$i%02d.example",
      if (i == 14) "chain-15.example" else f"fork-${i + 1}%02d.example"))
    val got2 = WebIndex.components(fork.toDF("a", "b")).collect()
    assert(got2.length == 46 && got2.forall(_.getString(1) == "chain-00.example"))
  }

  test("reciprocalLinks plan: hash joins only — no cartesian/nested-loop") {
    val plan = WebIndex.reciprocalLinks(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
  }
}

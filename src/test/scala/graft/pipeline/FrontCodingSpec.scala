package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Front-coding gates: kernel round trips on adversarial lists (empty
  * prefix, full-prefix duplicate-free runs, varint boundary lengths),
  * the accounting replays an independent driver recompute on the real
  * corpus, and the codec actually compresses crawl URL lists. */
class FrontCodingSpec extends AnyFunSuite with SharedSpark {

  test("lcp kernel") {
    assert(FrontCoding.lcp("", "abc") === 0)
    assert(FrontCoding.lcp("abc", "abd") === 2)
    assert(FrontCoding.lcp("abc", "abc") === 3)
    assert(FrontCoding.lcp("abc", "abcdef") === 3)
  }

  test("codeBlock round-trips adversarial lists and its require bites") {
    // unrelated strings (lcp 0), deep shared prefixes, a 200-char suffix
    // crossing the 1-byte varint boundary at 128
    val urls = Vector(
      "https://a.com/",
      "https://a.com/x",
      "https://a.com/x/" + ("y" * 200),
      "https://b.org/zzz")
    val sorted = urls.sorted
    val coded = FrontCoding.codeBlock(sorted)
    val raw = sorted.map(_.length.toLong).sum
    assert(coded > 0L && coded < raw + 2L * sorted.length)
    // arithmetic twin: per-row varint ladder + suffix length
    var prev = ""
    var want = 0L
    sorted.foreach { u =>
      val p = FrontCoding.lcp(prev, u)
      want += FrontCoding.varintLen(p.toLong) +
        FrontCoding.varintLen((u.length - p).toLong) + (u.length - p)
      prev = u
    }
    assert(coded === want, "byte count equals the arithmetic the oracle replays")
  }

  test("corpus accounting replays an independent driver recompute and compresses") {
    val got = FrontCoding.frontCoding(spark, "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty)
    import spark.implicits._
    val urls = graft.gen.CorpusGen.dataset(spark, CrawlQueries.spec)
      .map(_.url).distinct().collect().toSeq
    val want = urls.map(u => (FrontCoding.hostOf(u), u))
      .filter(_._1.nonEmpty)
      .groupBy(_._1).map { case (h, us) =>
        val sorted = us.map(_._2).sorted
        var prev = ""
        var coded = 0L
        sorted.foreach { u =>
          val p = FrontCoding.lcp(prev, u)
          coded += FrontCoding.varintLen(p.toLong) +
            FrontCoding.varintLen((u.length - p).toLong) + (u.length - p)
          prev = u
        }
        val raw = sorted.map(_.length.toLong).sum
        h -> ((sorted.length.toLong, raw, coded, coded * 1000L / raw))
      }
    assert(got.length === want.size)
    got.foreach { r =>
      val h = r.getString(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) === want(h), h)
      assert(r.getLong(4) < 800L, s"$h: crawl URL lists should front-code below 800‰")
    }
  }
}

package graft.crawl

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.FrontierEntry
import graft.urls.UrlKernel

/** Link admission without a Spark session: the parse-once chain of
  * [[CrawlEngine.linkCandidates]] admits exactly the entries of the
  * per-step chain it replaced (a parse per step, an `isInternal` parse per
  * seed host), on generated links covering www., subdomains, look-alike
  * and external hosts, opaque schemes, ports and long query strings.
  * Sampling is seed-fixed so runs are deterministic. */
class LinkAdmissionSpec extends AnyFunSuite {

  private def forAll[A](n: Int, g: Gen[A])(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  /** The admission chain as it read before links were parsed once. */
  private def referenceChain(
      links: Iterator[String], parentUrl: String, childDepth: Int,
      includes: Seq[String], excludes: Seq[String],
      internalOnly: Boolean, seedHosts: Set[String], maxQueryParams: Int): Iterator[FrontierEntry] = {
    def entryFor(c: String, raw: String): FrontierEntry =
      FrontierEntry(c, raw, childDepth, parentUrl, UrlKernel.extractDomain(c).getOrElse(""),
        UrlKernel.pathDepth(c), CrawlEngine.urlHash(c))
    links
      .filter(l => UrlKernel.parse(l).exists(p => p.scheme == "http" || p.scheme == "https"))
      .filter(l => !l.endsWith("/robots.txt") && !l.endsWith("/sitemap.xml"))
      .filter(l => UrlKernel.isAllowed(l, includes, excludes))
      .filter(l => !internalOnly || seedHosts.exists(h => UrlKernel.isInternal(l, h)))
      .filter(l => UrlKernel.paramCount(l) <= maxQueryParams)
      .flatMap(l => UrlKernel.canonicalize(l).map(c => entryFor(c, l)))
  }

  private val seedPool = Seq("site0.com", "site1.com", "blog.site2.org", "example.net",
    "a.b.c.io", "localhost", "xn--bcher-kva.de")

  private val hostGen: Gen[String] = Gen.oneOf(
    Gen.oneOf(seedPool),
    Gen.oneOf(seedPool).map("www." + _),
    Gen.zip(Gen.oneOf("docs", "m", "x.y", "www"), Gen.oneOf(seedPool)).map { case (s, h) => s"$s.$h" },
    Gen.oneOf(seedPool).map("evil" + _),                 // suffix, not at a dot
    Gen.oneOf(seedPool).map(_ + ".evil.org"),            // seed as a prefix
    Gen.oneOf("other.net", "WWW.Site0.COM", "Site1.com", "[::1]", "127.0.0.1", "com", ""))

  private val queryGen: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const("?"),
    Gen.choose(1, 9).map(n => (1 to n).map(i => s"k$i=v$i").mkString("?", "&", "")),
    Gen.choose(1, 9).map(n => (1 to n).map(i => if (i % 3 == 0) "" else s"p$i").mkString("?", "&", "")))

  private val linkGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTPS", "ftp", "ws")
    host <- hostGen
    port <- Gen.oneOf("", ":80", ":443", ":8080", ":", ":x")
    path <- Gen.oneOf("", "/", "/a/b/", "/a/./b/../c", "/robots.txt", "/sitemap.xml", "/p?x#f")
    query <- queryGen
    frag <- Gen.oneOf("", "#top", "#a?b=c")
    opaque <- Gen.oneOf("mailto:a@site0.com", "javascript:void(0)", "tel:+1", "not a url",
      "http:site0.com", "//site0.com/rel")
    kind <- Gen.choose(0, 9)
  } yield if (kind == 0) opaque else s"$scheme://$host$port$path$query$frag"

  private val patternGen: Gen[Seq[String]] = Gen.oneOf(
    Gen.const(Seq.empty[String]),
    Gen.listOfN(2, Gen.oneOf("*", "", "site0.com", "*.site0.com", "*.site2.org/*",
      "www.site1.com", "*.com")).map(_.toSeq))

  test("parse-once admission returns exactly the per-step chain's entries") {
    val caseGen = for {
      links <- Gen.listOfN(12, linkGen)
      seeds <- Gen.someOf(seedPool)
      includes <- patternGen
      excludes <- patternGen
      internalOnly <- Gen.oneOf(true, false)
      maxParams <- Gen.choose(0, 6)
    } yield (links, seeds.toSet, includes, excludes, internalOnly, maxParams)
    var admitted = 0
    forAll(2000, caseGen) { case (links, seeds, inc, exc, internal, maxP) =>
      val got = CrawlEngine.linkCandidates(links.iterator, "https://site0.com/", 3,
        inc, exc, internal, seeds, maxP).toList
      val want = referenceChain(links.iterator, "https://site0.com/", 3,
        inc, exc, internal, seeds, maxP).toList
      assert(got == want, s"links=$links seeds=$seeds inc=$inc exc=$exc internal=$internal max=$maxP")
      admitted += got.size
    }
    assert(admitted > 1000, s"generator must admit links, not only reject them ($admitted)")
  }

  test("seed-internal lookup equals isInternal against every seed host") {
    val gen = Gen.zip(hostGen, Gen.someOf(seedPool :+ "" :+ "com"))
    forAll(2000, gen) { case (host, seeds) =>
      val want = seeds.exists(h => host == h || host.endsWith("." + h))
      assert(CrawlEngine.isSeedInternal(host, seeds.toSet) == want, s"$host vs $seeds")
    }
  }
}

package graft.politeness

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.FrontierEntry
import graft.urls.UrlKernel

/** robots.txt handling.
  *
  * The reference parses robots.txt ONLY for `Sitemap:` directives
  * (src/application/crawler_service.rs:958-1054 — discover_sitemap_url); it
  * never enforces Disallow. The north rule upgrades this to real robots
  * gating, so this parser reads both: `Sitemap:` lines (seed discovery) and
  * `User-agent: *` group `Allow:`/`Disallow:` rules with full RFC 9309
  * matching — `*`/`$` wildcards, longest-match precedence, ties to Allow
  * (fetch gating). Rules are tiny
  * per host → parsed into a driver-side map and BROADCAST to executors
  * (SURVEY.md §4 physical design #3); gating is then a cheap filter, no join.
  */
object Robots {

  final case class Rules(disallow: Vector[String], sitemaps: Vector[String],
                         crawlDelaySec: Option[Long] = scala.None,
                         allow: Vector[String] = Vector.empty) {
    /** True when `path` is blocked under the full RFC 9309 decision
      * ([[decision]]): longest-match over Allow AND Disallow, `*`/`$`
      * wildcards, ties to Allow. Empty-string rules never participate
      * (standard robots semantics). */
    def isDisallowed(path: String): Boolean = decision(allow, disallow, path)
  }
  val empty: Rules = Rules(Vector.empty, Vector.empty)

  /** RFC 9309 §2.2.3 path-pattern match: the pattern matches a PREFIX of
    * `path`, `*` matches any character sequence (including empty), and a
    * TRAILING `$` anchors the pattern to the end of the path (a `$`
    * anywhere else is a literal). Greedy leftmost placement of each
    * inter-`*` literal segment is exact for the match DECISION (taking the
    * earliest occurrence always leaves maximal room for later segments);
    * the `$`-anchored final segment is checked against the path END
    * instead, with an overlap guard so it cannot reach back before the
    * previously consumed prefix. */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.dropRight(1) else pattern
    val parts = pat.split("\\*", -1)
    if (!path.startsWith(parts(0))) return false
    var idx = parts(0).length
    if (parts.length == 1) return !anchored || path.length == idx
    var i = 1
    while (i < parts.length) {
      val seg = parts(i)
      if (i == parts.length - 1 && anchored)
        return path.endsWith(seg) && path.length - seg.length >= idx
      else if (seg.nonEmpty) {
        val found = path.indexOf(seg, idx)
        if (found < 0) return false
        idx = found + seg.length
      }
      i += 1
    }
    true // last segment empty and unanchored: trailing '*' matches the rest
  }

  /** The RFC 9309 §2.2.2 access decision over one host's rule set: among
    * ALL matching rules (Allow and Disallow), the longest pattern wins —
    * "most specific" is byte length per Google's REP — and a length tie
    * goes to Allow (least restrictive). No matching rule → allowed.
    * Returns true when `path` is BLOCKED. */
  def decision(allowP: Seq[String], disallowP: Seq[String], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = false
    def consider(p: String, isAllow: Boolean): Unit =
      if (p.nonEmpty && (p.length > bestLen || (p.length == bestLen && isAllow && !bestAllow))
          && patternMatches(p, path)) {
        bestLen = p.length
        bestAllow = isAllow
      }
    allowP.foreach(consider(_, true))
    disallowP.foreach(consider(_, false))
    bestLen >= 0 && !bestAllow
  }

  /** One robots.txt group: its stacked `User-agent` values and the rules
    * that follow (RFC 9309 §2.1). */
  final case class Group(agents: Vector[String], allow: Vector[String],
                         disallow: Vector[String], crawlDelaySec: Option[Long])

  /** Parse EVERY group in a robots.txt body plus the global `Sitemap:`
    * lines (reference line-scan: crawler_service.rs:976-999).
    *
    * Group semantics (RFC 9309 §2.1): consecutive `User-agent` lines stack
    * onto one group; a `User-agent` line that follows RULES starts a NEW
    * group (blank lines are not required to separate groups); rule lines
    * before any `User-agent` line belong to no group and are dropped. */
  def parseAll(body: String): (Vector[Group], Vector[String]) = {
    val groups = Vector.newBuilder[Group]
    val sitemaps = Vector.newBuilder[String]
    var agents = Vector.empty[String]
    var disallow = Vector.newBuilder[String]
    var allow = Vector.newBuilder[String]
    var delay: Option[Long] = scala.None
    var lastLineWasAgent = false
    def flush(): Unit = if (agents.nonEmpty) {
      groups += Group(agents, allow.result(), disallow.result(), delay)
      agents = Vector.empty
      disallow = Vector.newBuilder[String]
      allow = Vector.newBuilder[String]
      delay = scala.None
    }
    body.split("\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!lastLineWasAgent) flush() // rules (or start of file) precede → new group
            agents :+= value
            lastLineWasAgent = true
          case "disallow" =>
            if (agents.nonEmpty) disallow += value
            lastLineWasAgent = false
          case "allow" =>
            if (agents.nonEmpty) allow += value
            lastLineWasAgent = false
          case "crawl-delay" =>
            // Non-standard but ubiquitous (Bing/Yandex semantics): seconds
            // between requests. Decimal values round UP (politeness errs
            // slow); non-positive/garbage is ignored; repeated declarations
            // keep the most restrictive.
            if (agents.nonEmpty)
              scala.util.Try(BigDecimal(value)).toOption
                .filter(_ > 0)
                // clamp BEFORE toLong: a 2^64-scale delay must stay the most
                // restrictive value, not overflow to 0/negative (= no delay)
                .map(d => d.min(BigDecimal(Long.MaxValue))
                  .setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
                .foreach(d => delay = Some(delay.fold(d)(math.max(_, d))))
            lastLineWasAgent = false
          case "sitemap" =>
            sitemaps += value
            lastLineWasAgent = false
          case _ =>
            lastLineWasAgent = false
        }
      }
    }
    flush()
    (groups.result(), sitemaps.result())
  }

  /** RFC 9309 §2.2.1 group selection (google/robotstxt semantics): among
    * the non-`*` agent values, the ones that are a case-insensitive PREFIX
    * of the crawler's product token match; the LONGEST match is the chosen
    * group identity; nothing matches → `*`. Empty agent values never
    * match (an empty prefix would match every token). */
  def groupAgentFor(agents: Seq[String], token: String): String = {
    val t = token.trim.toLowerCase
    agents.foldLeft("*") { (best, raw) =>
      val a = raw.trim.toLowerCase
      if (a.nonEmpty && a != "*" && t.startsWith(a) &&
        (best == "*" || a.length > best.length)) a
      else best
    }
  }

  /** The effective rules for one crawler product token: select the chosen
    * agent via [[groupAgentFor]], merge ALL groups that carry it (RFC 9309
    * merges same-agent groups; Crawl-delay keeps the most restrictive).
    * Per the REP's best-known gotcha, a specific group REPLACES `*` — the
    * star rules are NOT merged in when a named group matches. */
  def rulesFor(body: String, token: String): Rules = {
    val (groups, sitemaps) = parseAll(body)
    val chosen = groupAgentFor(groups.flatMap(_.agents), token)
    val sel = groups.filter(_.agents.exists(_.trim.equalsIgnoreCase(chosen)))
    Rules(sel.flatMap(_.disallow), sitemaps,
      sel.flatMap(_.crawlDelaySec).reduceOption(math.max(_: Long, _: Long)),
      sel.flatMap(_.allow))
  }

  /** The engine's own rules: it crawls as a generic agent (the reference
    * sends browser User-Agents, not a product token — user_agent.rs), so
    * only `User-agent: *` groups bind it. Equivalent to the pre-group
    * parser: star groups merged in order, delay max, sitemaps global. */
  def parse(body: String): Rules = rulesFor(body, "*")

  /** RFC 9309 §2.3.1 robots.txt AVAILABILITY policy — what a crawler may
    * do when the rules file itself cannot be read. The RFC's three arms:
    * 2xx → parse and apply the rules; "unavailable" (4xx, incl. 401/403)
    * → the crawler MAY access any resource (allow all); "unreachable"
    * (5xx, network failure — modeled as status 0) → MUST assume complete
    * disallow, EXCEPT that after more than 30 days of unreachability the
    * crawler MAY fall back to the unavailable treatment. Redirects are
    * resolved by the caller first (the RFC requires following at least
    * five hops); `status` is the final one. The reference fetches
    * robots.txt but applies no failure policy (crawler_service.rs treats
    * any non-200 as "no rules" — an RFC violation on 5xx that this
    * kernel corrects). */
  def fetchPolicy(status: Int, unreachableDays: Int): String =
    if (status >= 200 && status < 300) "rules"
    else if (status >= 400 && status < 500) "allow_all"
    else if (unreachableDays > 30) "allow_all" // §2.3.1.4 long-unreachable relaxation
    else "disallow_all"

  /** RFC 9309 §2.4 caching: a cached robots.txt MAY be used for up to 24
    * hours — longer only while the file is unreachable (the `disallow_all`
    * arm, where a refetch attempt is what ends the outage). */
  def refetchDue(ageHours: Int, policy: String): Boolean =
    ageHours >= 24 && policy != "disallow_all"

  /** True when `url`'s path is robots-blocked for its host per `rules`. */
  def isBlocked(url: String, rules: Map[String, Rules]): Boolean =
    UrlKernel.parse(url).exists { p =>
      val host = stripWww(p.host)
      rules.get(host).exists(_.isDisallowed(p.path))
    }

  def stripWww(host: String): String =
    if (host.startsWith("www.")) host.substring(4) else host

  /** ONE scan + parse of every robots.txt body: (rhost, disallow,
    * delay_sec) per www-stripped host that declares ANYTHING — both
    * [[rulesTable]] and the Crawl-delay budgets derive from this, so a
    * crawl parses each robots body exactly once (the one-scan discipline;
    * delay_sec 0 = no declaration, variants keep the max). */
  def directivesTable(spark: SparkSession, pages: DataFrame): DataFrame = {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    pages
      .filter(col("url").endsWith("/robots.txt"))
      .select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .flatMap { case (url, body) =>
        UrlKernel.extractDomain(url).flatMap { h =>
          val rules = parse(new String(body, UTF_8))
          if (rules.disallow.exists(_.nonEmpty) || rules.crawlDelaySec.isDefined)
            Some((stripWww(h), rules.disallow, rules.allow, rules.crawlDelaySec.getOrElse(0L)))
          else scala.None
        }
      }
      .toDF("rhost", "disallow", "allow", "delay_sec")
      .groupBy("rhost")
      .agg(array_distinct(flatten(collect_list(col("disallow")))).as("disallow"),
        array_distinct(flatten(collect_list(col("allow")))).as("allow"),
        max("delay_sec").as("delay_sec"))
  }

  /** The Disallow-gate half of [[directivesTable]]: only hosts that block
    * something, (rhost, disallow). */
  def rulesFromDirectives(directives: DataFrame): DataFrame =
    directives
      .filter(exists(col("disallow"), d => length(d) > 0))
      .select(col("rhost"), col("disallow"), col("allow"))

  /** Host-keyed Disallow table parsed on EXECUTORS from the raw pages input
    * (crawler_service.rs:958-1054's robots fetch, kept distributed): one row
    * per www-stripped host that disallows anything, columns
    * (rhost, disallow, allow). www/non-www (or re-captured) robots variants
    * strip to the same key and their Disallow lists union —
    * most-restrictive-wins — because a left join against duplicate keys
    * would duplicate frontier entries AND let a URL blocked by one variant
    * survive via the other. The crawls build it with the delay budgets
    * from one scan (`CrawlEngine.robotsTables`). */
  def rulesTable(spark: SparkSession, pages: DataFrame): DataFrame =
    rulesFromDirectives(directivesTable(spark, pages))

  /** Crawl-delay per-wave budget caps from a [[directivesTable]] frame —
    * ONE definition shared by the batch engine and the streaming scheduler
    * so the twins cannot disagree on what a delay means. delay d seconds →
    * budget max(1, waveModelSeconds div d), capped at perHostBudget; only
    * BINDING caps (below the default) emit rows, and both host spellings
    * are emitted because budget lookups key on the frontier's literal host
    * while robots variants strip www. */
  def delayBudgetsFromDirectives(
      directives: DataFrame,
      waveModelSeconds: Int,
      perHostBudget: Int
  ): Dataset[graft.model.HostBudget] = {
    val spark = directives.sparkSession
    import spark.implicits._
    directives
      .filter(col("delay_sec") > 0L)
      .select(col("rhost"), col("delay_sec"))
      .as[(String, Long)]
      .flatMap { case (rhost, delay) =>
        val b = math.min(
          math.max(1L, waveModelSeconds.toLong / math.max(1L, delay)),
          perHostBudget.toLong).toInt
        if (b >= perHostBudget) Seq.empty
        else Seq(graft.model.HostBudget(rhost, b), graft.model.HostBudget(s"www.$rhost", b))
      }
  }

  /** Distributed Disallow gate: drop every entry whose path is robots-blocked
    * for its host. `rules` is a (rhost, disallow array) table holding ONLY
    * hosts with non-empty Disallow lines (`CrawlEngine.robotsTables`) — the gate is
    * a left join on the www-stripped host plus the same RFC 9309 [[decision]]
    * as [[isBlocked]]. No driver-side map: at 10^7+ crawled hosts the rules stay
    * a table and the join planner picks broadcast vs shuffle. The decision is
    * a filter in the join's own codegen stage: no row leaves the unsafe
    * format for a typed object and back. */
  def gate(spark: SparkSession, entries: Dataset[FrontierEntry], rules: DataFrame): Dataset[FrontierEntry] = {
    import spark.implicits._
    entries.toDF()
      .withColumn("rhost",
        when(col("host").startsWith("www."), expr("substring(host, 5)")).otherwise(col("host")))
      .join(rules, Seq("rhost"), "left_outer")
      .filter(!blockedPath(col("canonicalUrl"), lines(col("disallow")), lines(col("allow"))))
      .select(entries.columns.map(col): _*)
      .as[FrontierEntry]
  }

  /** A rule list as one newline-joined string (null stays null). A robots
    * rule is one line, so the join is lossless up to empty patterns, which
    * [[decision]] ignores; string arguments reach the decision without a
    * generated array converter. */
  private def lines(rules: Column): Column = array_join(rules, "\n")

  /** Whether the path of a canonical URL is blocked by its host's
    * newline-joined rules (no rules row, or an unparseable URL, is not
    * blocked). */
  private val blockedPath = udf { (canonicalUrl: String, disallow: String, allow: String) =>
    disallow != null && UrlKernel.parse(canonicalUrl).exists(p =>
      decision(if (allow == null) Seq.empty else allow.split('\n').toSeq, disallow.split('\n').toSeq, p.path))
  }
}

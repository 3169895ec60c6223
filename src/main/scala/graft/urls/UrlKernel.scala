package graft.urls

/** Deterministic URL parsing + normalization kernel.
  *
  * Re-expresses the reference's URL semantics (rust `url` crate behaviors that
  * the scraper actually relies on) as pure Scala, so every executor computes
  * byte-identical canonical forms with zero library variance:
  *
  *  - `canonicalize`  — the dedup normalizer (reference:
  *    src/application/deduplicator.rs:109-151): strip `www.`, drop default
  *    ports, strip trailing slash (except root), keep query, lowercase
  *    scheme+host.
  *  - `linkNormalize` — the link-extraction normalizer (reference:
  *    src/infrastructure/crawler/link_extractor.rs:137-155): strip fragment,
  *    drop query, preserve trailing slash.
  *  - `resolve`       — RFC 3986 §5 reference resolution (reference:
  *    src/infrastructure/crawler/sitemap_parser.rs:116-129 and
  *    `Url::join` in link_extractor.rs:60).
  *  - `matchesPattern`— SSRF-safe host-only glob match (reference:
  *    src/domain/pattern_matching/mod.rs:42-82).
  *
  * All functions are total, allocation-light, and safe to call inside typed
  * Dataset ops / codegen'd UDF bodies on the hot path of a 10^10-row frontier.
  */
object UrlKernel {

  /** Parsed URL. `port` holds the port only when explicitly present AND not
    * the scheme default (mirrors rust `Url::port()`). `path` is dot-segment
    * normalized; empty path becomes "/" for special schemes with a host.
    */
  final case class ParsedUrl(
      scheme: String,
      host: String,
      port: Option[Int],
      path: String,
      query: Option[String],
      fragment: Option[String],
      opaque: Option[String] // non-hierarchical rest for mailto:/javascript:
  ) {
    def hasHost: Boolean = host.nonEmpty

    /** Serialize through end-of-path (rust `url::Position::AfterPath`). */
    def afterPath: String = opaque match {
      case Some(rest) => s"$scheme:$rest"
      case None =>
        val p = port.map(":" + _).getOrElse("")
        s"$scheme://$host$p$path"
    }

    def fullString: String = {
      val q = query.map("?" + _).getOrElse("")
      val f = fragment.map("#" + _).getOrElse("")
      afterPath + q + f
    }
  }

  private def defaultPort(scheme: String): Int = scheme match {
    case "http" | "ws"   => 80
    case "https" | "wss" => 443
    case "ftp"           => 21
    case _               => -1
  }

  private def isSpecialScheme(s: String): Boolean =
    s == "http" || s == "https" || s == "ws" || s == "wss" || s == "ftp" || s == "file"

  private def validScheme(s: String): Boolean =
    s.nonEmpty && s.charAt(0).isLetter &&
      s.forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')

  /** Parse a URL string. Returns None when there is no valid scheme
    * (mirrors `Url::parse` Err for scheme-less input like "not-a-valid-url").
    * Non-hierarchical schemes (mailto:, javascript:, tel:) parse with an
    * opaque body and empty host.
    */
  def parse(url: String): Option[ParsedUrl] = {
    val trimmed = url.trim
    val colon = trimmed.indexOf(':')
    if (colon <= 0) return None
    val rawScheme = trimmed.substring(0, colon)
    if (!validScheme(rawScheme)) return None
    val scheme = rawScheme.toLowerCase
    val rest = trimmed.substring(colon + 1)
    if (!rest.startsWith("//")) {
      // Non-special schemes may be opaque (mailto:a@b, javascript:alert(1)).
      // Special schemes require an authority — "http:foo" is rejected
      // (the rust url crate would also fail to produce a host).
      if (isSpecialScheme(scheme)) return None
      return Some(ParsedUrl(scheme, "", None, "", None, None, Some(rest)))
    }
    val afterSlashes = rest.substring(2)
    // authority ends at first of '/', '?', '#'
    var i = 0
    while (i < afterSlashes.length && afterSlashes.charAt(i) != '/' &&
      afterSlashes.charAt(i) != '?' && afterSlashes.charAt(i) != '#') i += 1
    var authority = afterSlashes.substring(0, i)
    val tail = afterSlashes.substring(i)
    // strip userinfo
    val at = authority.lastIndexOf('@')
    if (at >= 0) authority = authority.substring(at + 1)
    // host[:port], IPv6-aware
    var host = ""
    var portOpt: Option[Int] = None
    if (authority.startsWith("[")) {
      val close = authority.indexOf(']')
      if (close < 0) return None
      host = authority.substring(0, close + 1).toLowerCase
      val after = authority.substring(close + 1)
      if (after.startsWith(":")) {
        val ps = after.substring(1)
        if (ps.nonEmpty && ps.forall(_.isDigit)) portOpt = Some(ps.toInt) else if (ps.nonEmpty) return None
      } else if (after.nonEmpty) return None
    } else {
      val c = authority.lastIndexOf(':')
      if (c >= 0) {
        val ps = authority.substring(c + 1)
        if (ps.nonEmpty && ps.forall(_.isDigit)) {
          host = authority.substring(0, c).toLowerCase
          portOpt = Some(ps.toInt)
        } else if (ps.isEmpty) {
          host = authority.substring(0, c).toLowerCase
        } else return None
      } else host = authority.toLowerCase
    }
    if (host.isEmpty && isSpecialScheme(scheme) && scheme != "file") return None
    // drop scheme-default port (rust Url::port() semantics)
    portOpt = portOpt.filter(_ != defaultPort(scheme))
    // split path / query / fragment
    var path = tail
    var query: Option[String] = None
    var fragment: Option[String] = None
    val h = path.indexOf('#')
    if (h >= 0) { fragment = Some(path.substring(h + 1)); path = path.substring(0, h) }
    val q = path.indexOf('?')
    if (q >= 0) { query = Some(path.substring(q + 1)); path = path.substring(0, q) }
    if (path.isEmpty && isSpecialScheme(scheme)) path = "/"
    path = removeDotSegments(path)
    Some(ParsedUrl(scheme, host, portOpt, path, query, fragment, None))
  }

  /** RFC 3986 §5.2.4 remove_dot_segments — exact algorithm (preserves
    * interior empty segments like "/a//b", keeps the trailing slash that a
    * trailing ".." / "." implies). */
  def removeDotSegments(path: String): String = {
    if (path.isEmpty) return path
    val out = new StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../") || in == "/..") {
        in = if (in == "/..") "/" else "/" + in.substring(4)
        val lastSlash = out.lastIndexOf("/")
        out.setLength(if (lastSlash >= 0) lastSlash else 0)
      } else if (in == "." || in == "..") in = ""
      else {
        // move the first segment (incl. leading "/" if any) to the output
        val start = if (in.charAt(0) == '/') 1 else 0
        val nextSlash = in.indexOf('/', start)
        if (nextSlash < 0) { out.append(in); in = "" }
        else { out.append(in.substring(0, nextSlash)); in = in.substring(nextSlash) }
      }
    }
    out.toString
  }

  /** Dedup-canonical form — THE frontier key.
    * Reference: src/application/deduplicator.rs:109-151.
    * `https://www.example.com/` → `https://example.com`
    * `https://www.example.com/page/` → `https://example.com/page`
    * `https://example.com:80/page` → `https://example.com/page`
    */
  def canonicalize(url: String): Option[String] =
    parse(url).filter(_.opaque.isEmpty).map(canonicalize)

  def canonicalize(u: ParsedUrl): String = {
    val host = if (u.host.startsWith("www.")) u.host.substring(4) else u.host
    val portStr = u.port match {
      case None                          => ""
      case Some(80)                      => "" // reference drops :80 for ANY scheme
      case Some(443) if u.scheme == "https" => ""
      case Some(p)                       => ":" + p
    }
    val sb = new StringBuilder(u.scheme).append("://").append(host).append(portStr)
    val path =
      if (u.path.endsWith("/") && u.path.length > 1) u.path.substring(0, u.path.length - 1)
      else u.path
    if (path != "/" && path.nonEmpty) sb.append(path)
    u.query.foreach(q => sb.append('?').append(q))
    sb.toString
  }

  /** Link-extraction normalizer — strips fragment, DROPS query, preserves
    * trailing slash. Reference: link_extractor.rs:137-155. Invalid URLs are
    * returned as-is (pre-fragment part).
    */
  def linkNormalize(url: String): String = {
    val withoutFragment = {
      val h = url.indexOf('#')
      if (h >= 0) url.substring(0, h) else url
    }
    parse(withoutFragment) match {
      case Some(p) =>
        var n = p.afterPath
        if (withoutFragment.endsWith("/") && !n.endsWith("/")) n += "/"
        n
      case None => withoutFragment
    }
  }

  /** RFC 3986 §5 resolve `href` against `base`. Absolute hrefs (with scheme)
    * pass through parse; opaque schemes (javascript:, mailto:, tel:) are
    * preserved — matching `base.join(href)` in the reference
    * (link_extractor.rs test: javascript/mailto/tel ARE included).
    * Returns None when the result cannot be parsed.
    */
  def resolve(baseUrl: String, href: String): Option[String] =
    parse(baseUrl).flatMap(b => resolve(b, href))

  def resolve(base: ParsedUrl, href: String): Option[String] = {
    val ref = href.trim
    if (ref.isEmpty) return Some(base.copy(fragment = None).fullString)
    // absolute with scheme?
    val colon = ref.indexOf(':')
    val slash = ref.indexOf('/')
    val qm = ref.indexOf('?')
    val hm = ref.indexOf('#')
    def before(a: Int, b: Int) = a >= 0 && (b < 0 || a < b)
    val hasScheme = colon > 0 && !before(slash, colon) && !before(qm, colon) && !before(hm, colon) &&
      validScheme(ref.substring(0, colon))
    if (hasScheme) return parse(ref).map(_.fullString)
    if (ref.startsWith("//")) return parse(base.scheme + ":" + ref).map(_.fullString)
    if (base.opaque.isDefined) return None
    if (ref.startsWith("#"))
      return Some(base.copy(fragment = Some(ref.substring(1))).fullString)
    if (ref.startsWith("?")) {
      val (q, f) = splitQF(ref.substring(1))
      return Some(base.copy(query = Some(q), fragment = f).fullString)
    }
    // path reference
    val (rawPath, q, f) = splitPQF(ref)
    val mergedPath =
      if (rawPath.startsWith("/")) rawPath
      else {
        val bp = base.path
        val dir = if (bp.contains('/')) bp.substring(0, bp.lastIndexOf('/') + 1) else "/"
        dir + rawPath
      }
    val norm = removeDotSegments(mergedPath)
    Some(base.copy(path = if (norm.isEmpty) "/" else norm, query = q, fragment = f).fullString)
  }

  private def splitQF(s: String): (String, Option[String]) = {
    val h = s.indexOf('#')
    if (h >= 0) (s.substring(0, h), Some(s.substring(h + 1))) else (s, None)
  }

  private def splitPQF(s: String): (String, Option[String], Option[String]) = {
    var path = s
    var query: Option[String] = None
    var frag: Option[String] = None
    val h = path.indexOf('#')
    if (h >= 0) { frag = Some(path.substring(h + 1)); path = path.substring(0, h) }
    val q = path.indexOf('?')
    if (q >= 0) { query = Some(path.substring(q + 1)); path = path.substring(0, q) }
    (path, query, frag)
  }

  /** Host extraction, RFC-compliant (credentials/ports/IPv6-safe).
    * Reference: src/application/url_filter.rs:165-169. */
  def extractDomain(url: String): Option[String] =
    parse(url).filter(_.hasHost).map(_.host)

  /** Same-domain test: exact host or subdomain of `seedDomain`.
    * Reference: url_filter.rs:195-199. */
  def isInternal(url: String, seedDomain: String): Boolean =
    extractDomain(url).exists(d => d == seedDomain || d.endsWith("." + seedDomain))

  /** SSRF-safe glob pattern match — compares HOSTS only, never raw strings.
    * Reference: src/domain/pattern_matching/mod.rs:42-82.
    *  - invalid URL or no host → false
    *  - empty pattern or "*"   → true
    *  - "*.d.com" (with or without a trailing "(slash)(star)" suffix)
    *    → subdomains ONLY (root excluded)
    *  - otherwise exact host equality
    */
  def matchesPattern(url: String, pattern: String): Boolean =
    extractDomain(url).exists(hostMatches(_, pattern))

  /** [[matchesPattern]] on an already-extracted (non-empty) host. */
  def hostMatches(host: String, pattern: String): Boolean = {
    if (pattern.isEmpty || pattern == "*") return true
    if (pattern.startsWith("*.")) {
      val dom0 = if (pattern.endsWith("*")) pattern.substring(2, pattern.length - 1) else pattern.substring(2)
      val dom = dom0.reverse.dropWhile(_ == '/').reverse
      host.endsWith("." + dom)
    } else host == pattern
  }

  /** Exclude wins, then include (empty include list allows all).
    * Reference: url_filter.rs:84-86, :125-133; site/config.rs:68-75. */
  def isAllowed(url: String, includes: Seq[String], excludes: Seq[String]): Boolean =
    extractDomain(url) match {
      case Some(host) => isAllowedHost(host, includes, excludes)
      // no host matches no pattern: excluded by none, included only by none
      case None => includes.isEmpty
    }

  /** [[isAllowed]] on an already-extracted (non-empty) host. */
  def isAllowedHost(host: String, includes: Seq[String], excludes: Seq[String]): Boolean =
    !excludes.exists(hostMatches(host, _)) && (includes.isEmpty || includes.exists(hostMatches(host, _)))

  /** Count of non-empty path segments — the crawl-budget priority proxy
    * (deeper = more specific = first). Reference: batch_processor.rs:56-65
    * uses `path_segments().count()`; our spec counts non-empty segments so
    * the value is stable across trailing-slash variants of the same page. */
  def pathDepth(url: String): Int = parse(url).fold(0)(pathDepth)

  def pathDepth(u: ParsedUrl): Int = u.path.split("/").count(_.nonEmpty)

  /** Number of query parameters (crawl-budget filter ≤ 5).
    * Reference: batch_processor.rs:69-76 via `query_pairs().count()`. */
  def paramCount(url: String): Int = parse(url).fold(0)(paramCount)

  def paramCount(u: ParsedUrl): Int = u.query.fold(0)(_.split("&").count(_.nonEmpty))
}

package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Kernels

/** URL canonicalization (RFC 3986 syntax-based normalization, §6.2.2)
  * — the crawl-frontier dedup primitive: the same resource arrives
  * under `HTTP://ExAmPle.com:80/a/../b` and `http://example.com/b`,
  * and frontier dedup, seen-set membership and per-host politeness
  * all key on the canonical form. Implemented exactly to the
  * SYNTAX-BASED subset (safe for any scheme, never changes which
  * resource is identified):
  *
  *  - scheme and host lower-case;
  *  - default ports stripped (http:80, https:443);
  *  - percent-escapes of UNRESERVED characters decoded (`%7E` → `~`)
  *    — reserved escapes like `%2F` are NOT decoded (that would
  *    change the path structure) but their hex digits upper-case;
  *  - dot-segments removed per the RFC §5.2.4 algorithm;
  *  - empty path → `/` when an authority is present;
  *  - the fragment dropped (never sent to the server).
  *
  * Query parameters keep their ORDER — reordering is a semantic
  * transform some sites break on, so it stays out of the safe set.
  * Returns None for strings that do not parse as absolute
  * `scheme://authority…` URLs; malformed percent-escapes pass
  * through verbatim (normalizing garbage would corrupt it).
  */
object Urls {

  private val UrlRe =
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)((?:/[^?#]*)?)(\\?[^#]*)?(#.*)?$".r

  private def unreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** Decode unreserved %XX escapes, upper-case the rest; malformed
    * escapes (%, %Z9, truncated) pass through untouched. */
  private[graft] def normalizeEscapes(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '%' && i + 2 < s.length) {
        val h = s.substring(i + 1, i + 3)
        if (h.forall(ch => Character.digit(ch, 16) >= 0)) {
          val v = Integer.parseInt(h, 16).toChar
          if (unreserved(v)) sb.append(v)
          else { sb.append('%').append(h.toUpperCase) }
          i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments — INDEX-based, O(n). The
    * textbook formulation re-slices the remaining input per step;
    * on an attacker-controlled frontier URL (a megabyte of `/a/a/…`
    * or `/./` bombs) that substring churn is O(n²) — the same
    * hostile-input class as the bounded HTML entity scan. Here `i`
    * walks the string once and only SEGMENTS are ever copied out;
    * mid-loop `i` always sits on a `/` (or at a relative start), so
    * each prefix case of the RFC maps to a constant-width advance:
    * `/./x`→`/x` consumes 2 chars, `/../x`→`/x` consumes 3 + pops,
    * and a trailing `/.` or `/..` leaves the bare `/` the RFC's
    * "replace with /" produces. */
  private[graft] def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    val n = path.length
    var i = 0
    var endSlash = false // trailing "/." or "/.." leaves a bare "/"
    while (i < n) {
      if (path.startsWith("../", i)) i += 3
      else if (path.startsWith("./", i)) i += 2
      else if (path.startsWith("/./", i)) i += 2
      else if (i + 2 == n && path.startsWith("/.", i)) { endSlash = true; i = n }
      else if (path.startsWith("/../", i)) {
        if (out.nonEmpty) out.remove(out.length - 1); i += 3
      } else if (i + 3 == n && path.startsWith("/..", i)) {
        if (out.nonEmpty) out.remove(out.length - 1); endSlash = true; i = n
      } else if ((i + 1 == n && path.charAt(i) == '.') ||
                 (i + 2 == n && path.startsWith("..", i))) i = n
      else {
        val next = path.indexOf('/', i + 1)
        val stop = if (next < 0) n else next
        out += path.substring(i, stop)
        i = stop
      }
    }
    out.mkString + (if (endSlash) "/" else "")
  }

  /** Canonicalize an absolute URL; None if it is not one. */
  def normalizeUrl(url: String): Option[String] = url match {
    case UrlRe(scheme0, auth0, path0, query, _fragment) =>
      val scheme = scheme0.toLowerCase
      // authority = [userinfo@]host[:port]
      val (userinfo, hostPort) = auth0.lastIndexOf('@') match {
        case -1 => ("", auth0)
        case at => (auth0.substring(0, at + 1), auth0.substring(at + 1))
      }
      val (host0, port0) = hostPort.lastIndexOf(':') match {
        case -1 => (hostPort, "")
        case c if hostPort.drop(c + 1).forall(_.isDigit) =>
          (hostPort.substring(0, c), hostPort.substring(c + 1))
        case _ => (hostPort, "") // IPv6 literal or junk: leave intact
      }
      val host = host0.toLowerCase
      val defaultPort = (scheme == "http" && port0 == "80") ||
        (scheme == "https" && port0 == "443") || port0.isEmpty
      val port = if (defaultPort) "" else ":" + port0
      // RFC 3986 §6.2.2 order: percent-encoding normalization FIRST,
      // then dot-segment removal — so `/%2E%2E/x` decodes to `/../x`
      // and collapses; the reverse order leaves a literal `/../` in
      // the "canonical" form and frontier dedup misses the alias.
      val path1 = removeDotSegments(normalizeEscapes(Option(path0).getOrElse("")))
      val path = if (path1.isEmpty) "/" else path1
      val q = Option(query).map(normalizeEscapes).getOrElse("")
      Some(s"$scheme://$userinfo$host$port$path$q")
    case _ => None
  }

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  /** A parsed URI reference per RFC 3986 appendix A — every component
    * optional (`query`/`fragment` keep their leading delimiter
    * stripped). Hand-parsed in ONE pass with delimiter `indexOf`s —
    * no regex, so parse time on an attacker-supplied megabyte ref is
    * provably linear with zero backtracking. */
  private[graft] final case class Ref(scheme: Option[String],
      authority: Option[String], path: String,
      query: Option[String], fragment: Option[String])

  private[graft] def parseRef(s: String): Ref = {
    var rest = s
    var fragment: Option[String] = None
    val hash = rest.indexOf('#')
    if (hash >= 0) {
      fragment = Some(rest.substring(hash + 1)); rest = rest.substring(0, hash)
    }
    var query: Option[String] = None
    val qm = rest.indexOf('?')
    if (qm >= 0) {
      query = Some(rest.substring(qm + 1)); rest = rest.substring(0, qm)
    }
    // scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":"
    var scheme: Option[String] = None
    if (rest.nonEmpty && isAlpha(rest.charAt(0))) {
      var k = 1
      while (k < rest.length && isSchemeChar(rest.charAt(k))) k += 1
      if (k < rest.length && rest.charAt(k) == ':') {
        scheme = Some(rest.substring(0, k)); rest = rest.substring(k + 1)
      }
    }
    var authority: Option[String] = None
    if (rest.startsWith("//")) {
      val slash = rest.indexOf('/', 2)
      if (slash < 0) { authority = Some(rest.substring(2)); rest = "" }
      else { authority = Some(rest.substring(2, slash)); rest = rest.substring(slash) }
    }
    Ref(scheme, authority, rest, query, fragment)
  }

  /** RFC 3986 §5 reference resolution — the discover step of the
    * crawl loop: an extracted href ("../a", "//cdn/x", "?page=2",
    * "#top", "https://other/abs") absolutized against the page URL.
    * Implements §5.2.2 transform + §5.2.3 merge + §5.2.4 dot-segment
    * removal + §5.3 recomposition, STRICT variant (a ref carrying its
    * own scheme is taken whole — no same-scheme backward-compat
    * rewrite), verbatim to the spec: UrlsSpec carries the §5.4.1
    * normal AND §5.4.2 abnormal example tables as the pin. The
    * target's fragment comes from the ref (§5.2.2 last line) — the
    * frontier's canonicalizer drops it afterward. None when `base`
    * has no scheme (not an absolute URI) and the ref doesn't carry
    * its own. */
  def resolve(base: String, ref: String): Option[String] = {
    val r = parseRef(ref)
    val target: Option[(String, Option[String], String, Option[String])] =
      if (r.scheme.isDefined)
        Some((r.scheme.get, r.authority, removeDotSegments(r.path), r.query))
      else {
        val b = parseRef(base)
        if (b.scheme.isEmpty) None
        else if (r.authority.isDefined)
          Some((b.scheme.get, r.authority, removeDotSegments(r.path), r.query))
        else if (r.path.isEmpty)
          Some((b.scheme.get, b.authority, b.path, r.query.orElse(b.query)))
        else if (r.path.startsWith("/"))
          Some((b.scheme.get, b.authority, removeDotSegments(r.path), r.query))
        else {
          // §5.2.3 merge: base-with-authority-and-empty-path gets a
          // leading '/', else ref replaces base's last path segment
          val merged =
            if (b.authority.isDefined && b.path.isEmpty) "/" + r.path
            else b.path.lastIndexOf('/') match {
              case -1 => r.path
              case k  => b.path.substring(0, k + 1) + r.path
            }
          Some((b.scheme.get, b.authority, removeDotSegments(merged), r.query))
        }
      }
    target.map { case (scheme, auth, path, query) =>
      val sb = new StringBuilder(base.length + ref.length)
      sb.append(scheme).append(':')
      auth.foreach(a => sb.append("//").append(a))
      sb.append(path)
      query.foreach(q => sb.append('?').append(q))
      r.fragment.foreach(f => sb.append('#').append(f))
      sb.toString
    }
  }

  /** The COLUMN-level resolution API — per extracted link in the
    * discover path, so it must stay inside WholeStageCodegen like its
    * neighbors: the `graft_url_resolve` kernel (plans/Frontier). NULL
    * on null inputs or an unresolvable (scheme-less) base. */
  def resolveCol(base: Column, ref: Column): Column = Kernels("graft_url_resolve", base, ref)

  /** The COLUMN-level canonicalization API — the frontier's per-URL
    * hot path (seen-set keys, politeness grouping, alias collapse)
    * as a plain column, NULL when the input is not an absolute URL:
    * the `graft_url_canon` kernel (plans/Frontier), a static call
    * inside WholeStageCodegen. */
  def canonCol(url: Column): Column = Kernels("graft_url_canon", url)

  /** Host (authority) extraction from a URL column — the frontier,
    * schedule and link-graph keying primitive, shared so every
    * consumer keys hosts identically. Cuts at the FIRST `://` (a
    * `substring_index(…, "://", -1)` would split at the LAST one, so
    * a crawled redirect/tracking link carrying an absolute URL in its
    * query — `http://a.example/r?u=http://b.example/x`, which the
    * canonicalizer deliberately preserves — would fabricate an edge
    * to the EMBEDDED host), then stops at the first `/`, `?` or `#`.
    * Inputs without `://` (the frontier's `!` parse-failure sentinel)
    * pass through the same trailing cuts unchanged, preserving the
    * sentinel's visibility. Plain columnar — stays inside
    * WholeStageCodegen like its callers. */
  def hostCol(url: Column): Column = {
    val i = instr(url, "://")
    val after = url.substr(i + lit(3), length(url))
    def cut(c: Column) =
      substring_index(substring_index(substring_index(c, "/", 1), "?", 1), "#", 1)
    when(i > 0, cut(after)).otherwise(cut(url))
  }

  /** Per-host robots.txt for the frontier leg: the shared base
    * policy (the same load-bearing RFC 9309 semantics
    * `Robots.robotsFilter` exercises — longest-match precedence, a
    * `$` anchor, a `*` wildcard, agent-group selection past a
    * deny-all `badbot` group) PLUS host-dependent extra records:
    * even-length sources also disallow `/doc` AND declare
    * `Crawl-delay: 2` (the politeness knob the schedule leg reads).
    * The variation is the point — it makes one verdict and the fetch
    * spacing a function of WHICH host's policy the join delivered,
    * so a mis-keyed or cross-matched robots join flips rows the
    * oracle recomputes per host. */
  private[graft] def frontierPolicy(source: String): String = {
    val base =
      """User-agent: badbot
        |Disallow: /
        |
        |User-agent: *
        |Disallow: /data
        |Allow: /data/pub
        |Disallow: /tmp/*.log$
        |Allow: /
        |""".stripMargin
    if (source.length % 2 == 0) base + "Disallow: /doc\nCrawl-delay: 2\n" else base
  }

  /** The ORACLED frontier-composition leg (`llm_url_frontier`) — the
    * crawl-frontier pipeline chained END TO END the way a crawler
    * keys it: messy candidate URL → RFC 3986 canonicalization → host
    * extraction → per-host robots.txt verdict (RFC 9309) → exact
    * seen-set dedup on the canonical form. Each document surfaces
    * TWICE under different spellings of the same resource (case
    * games, default ports, dot-segments, unreserved escapes,
    * fragments), so the seen-set MUST collapse 2→1 on the canonical
    * key for row counts to match; the per-row case (`n_chars % 4`)
    * steers the path at a different robots rule, and the per-host
    * policy variation (`frontierPolicy`) makes one verdict depend on
    * the robots JOIN delivering the right host's rules.
    *
    * Since round 18 the candidates are DISCOVERED, not listed: each
    * document's page embeds its two spellings as real anchors and the
    * chain runs fetch-shaped end to end — `graft_html_links` (extract)
    * → `graft_url_resolve` (RFC 3986 §5 absolutize) →
    * `graft_url_canon` → robots verdict → seen-set dedup.
    *
    * Scale shape: the ENTIRE map side is columnar — page synthesis
    * (when/concat), link extraction + resolution + canonicalization
    * (the codegen'd `graft_html_links` / `graft_url_resolve` /
    * `graft_url_canon`), host/path keying (substring / regexp), and
    * the verdict (`graft_robots_allowed`, policy parse LRU-cached per
    * thread) all run inside WholeStageCodegen with ZERO
    * object-serialization boundaries (PlanSpec pins no
    * DeserializeToObject, no ScalaUDF). The robots table is one row
    * per HOST (tiny, broadcast — PlanSpec pins BroadcastHashJoin,
    * never a shuffle or cartesian); the only big exchange is the
    * groupBy on canonical_url — the frontier dedup shuffle itself,
    * the operator's output key and irreducible. DuckDB recomputes
    * canonical form, host, verdict and first-seen per document from
    * the closed-form case table. */
  def urlFrontier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars").cast("int").as("n_chars"))

    // 1. candidates come FROM PAGE MARKUP, not a synthesized list:
    //    each document's crawl page carries its two spellings of the
    //    same resource (case games, default ports, dot-segments,
    //    unreserved escapes, fragments) as real anchors — one
    //    double-quoted, one single-quoted — plus a comment decoy that
    //    must NOT surface. The discover chain is the production one:
    //    `graft_html_links` extracts the raw hrefs, `graft_url_resolve`
    //    absolutizes each against the fetch URL (these are absolute
    //    already — §5.2.2's ref-has-scheme branch — so the oracle's
    //    closed form is unchanged), all columnar.
    val m4 = pmod(col("n_chars"), lit(4))
    val h = concat(col("source"), lit(".example.com"))
    val id = col("doc_id").cast("string")
    val primary =
      when(m4 === 0, concat(lit("HTTP://"), col("source"), lit(".Example.COM:80/data/pub/"), id))
        .when(m4 === 1, concat(lit("https://"), h, lit(":443/a/../data/raw/"), id))
        .when(m4 === 2, concat(lit("http://"), h, lit("/tmp/./run"), id, lit(".log#frag")))
        .otherwise(concat(lit("http://"), h, lit("/doc/%7E"), id, lit("?q=1#s")))
    val alias =
      when(m4 === 0, concat(lit("http://"), h, lit("/data/./pub/"), id))
        .when(m4 === 1, concat(lit("https://"), h, lit("/data/raw/"), id))
        .when(m4 === 2, concat(lit("http://"), col("source"), lit(".Example.com/tmp/run"), id, lit(".log")))
        .otherwise(concat(lit("http://"), h, lit("/doc/~"), id, lit("?q=1")))
    val page = concat(
      lit("<html><body><!-- <a href=\"http://decoy.example.com/never\"> -->\n<a href=\""),
      primary, lit("\">p</a> <a href='"), alias, lit("'>a</a></body></html>"))
    val candidates = docs
      .select(col("doc_id"), explode(Html.linksCol(page)).as("ref"))
      .select(col("doc_id"), resolveCol(
        lit("http://seed.example.com/frontier"), col("ref")).as("url"))

    // 2. canonical key + frontier keys (host for the robots join,
    //    query-less path for the verdict) — columnar, parse failure
    //    visible as the '!' sentinel
    val canon = candidates
      .withColumn("canonical_url", coalesce(canonCol(col("url")), lit("!")))
      .withColumn("host", hostCol(col("canonical_url")))
      .withColumn("path",
        regexp_extract(col("canonical_url"), "^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1))

    // 3. the robots dim: one row per distinct host — broadcast. Both
    //    policy variants come from the SAME generator the tests and
    //    the streaming twin use, selected columnar by source parity.
    val evenPolicy = frontierPolicy("xx")
    val oddPolicy = frontierPolicy("xxx")
    val hosts = docs.select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        when(length(col("source")) % 2 === 0, lit(evenPolicy))
          .otherwise(lit(oddPolicy)).as("robots_txt"))

    // 4. verdict column (policy parse LRU-cached per thread), then
    //    the seen-set collapse on the canonical key. LEFT outer like
    //    the streaming twin: a host with no robots.txt row flows
    //    through as allowed (RFC 9309 — absent policy restricts
    //    nothing) instead of silently vanishing from the frontier.
    canon.join(broadcast(hosts), Seq("host"), "left_outer")
      .withColumn("allowed", Robots.allowedCol(
        coalesce(col("robots_txt"), lit("")), col("path")))
      .groupBy(col("canonical_url"))
      .agg(first(col("host")).as("host"),
           first(col("allowed")).as("allowed"),
           count(lit(1)).as("n_seen"),
           min(col("doc_id")).as("first_doc_id"))
  }

  /** Per-host politeness delay between fetches — one request per
    * second per host, the classic conservative default a crawler
    * uses when robots.txt names no Crawl-delay. */
  private[graft] val CrawlDelayMs = 1000L

  /** The ORACLED politeness-schedule leg (`llm_frontier_schedule`) —
    * what a crawler does with the frontier's admitted URLs: fetches
    * against one host must be SPACED, so each allowed canonical URL
    * gets a deterministic per-host slot (dense arrival order by
    * (first_doc_id, canonical_url) — first-discovered fetches first)
    * and a fetch time `(slot-1) × delay_ms`, where the delay is the
    * host's own declared `Crawl-delay` (read from its robots.txt by
    * the `graft_crawl_delay` kernel — even-length sources declare
    * 2 s) falling back to the 1 s default when the policy declares
    * none. Window arithmetic + a broadcast delay dim on top of
    * `urlFrontier`, so DuckDB restates the whole schedule from the
    * frontier's closed form.
    *
    * Scale shape: the schedule adds exactly ONE big exchange — the
    * hash repartition on `host` the per-host window needs — and its
    * sort is per-partition (host groups), NEVER a global sort: at
    * 100 TB the frontier is billions of URLs and a total order
    * across hosts is both unnecessary (hosts are independent fetch
    * queues) and a single-point bottleneck. The delay dim is one row
    * per host (broadcast, delay parsed once per distinct policy via
    * the kernel's LRU). PlanSpec pins one host exchange, zero range
    * partitioning, broadcast-only dim joins. The per-host row_number
    * is the honest sequential structure of politeness itself — a
    * host's queue IS serial — and host cardinality (millions) dwarfs
    * executor counts, so the window parallelizes across hosts. */
  def frontierSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evenPolicy = frontierPolicy("xx")
    val oddPolicy = frontierPolicy("xxx")
    val hostDelays = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        when(length(col("source")) % 2 === 0, lit(evenPolicy))
          .otherwise(lit(oddPolicy)).as("robots_txt"))
      .select(col("host"),
        Robots.delayCol(col("robots_txt")).as("declared_delay_ms"))
    val w = Window.partitionBy(col("host"))
      .orderBy(col("first_doc_id"), col("canonical_url"))
    urlFrontier(spark, dir)
      .filter(col("allowed"))
      .select(col("host"), col("canonical_url"), col("first_doc_id"))
      // LEFT outer + coalesce: a host with no policy row (or a policy
      // declaring no Crawl-delay -> NULL) gets the default spacing
      .join(broadcast(hostDelays), Seq("host"), "left_outer")
      .withColumn("delay_ms",
        coalesce(col("declared_delay_ms"), lit(CrawlDelayMs)))
      .withColumn("slot", row_number().over(w).cast("long"))
      .withColumn("fetch_at_ms", (col("slot") - 1) * col("delay_ms"))
      .select(col("host"), col("canonical_url"), col("first_doc_id"),
        col("slot"), col("delay_ms"), col("fetch_at_ms"))
  }

  /** The ORACLED registry leg (`llm_url_normalize`): per-row messy
    * URLs chosen by `n_chars % 4`, each exercising a different
    * normalization rule — case + default port, dot-segments,
    * unreserved-escape decode vs reserved-escape preservation, and
    * fragment drop — normalized DISTRIBUTED by the real
    * canonicalizer via the `graft_url_canon` column kernel (one
    * codegen scan projection, no typed code); DuckDB states the
    * canonical form for each case directly. */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val m4 = pmod(col("n_chars").cast("int"), lit(4))
    val id = col("doc_id").cast("string")
    val messy =
      when(m4 === 0, concat(lit("HTTP://"), upper(col("source")), lit(".Example.COM:80/Doc/"), id))
        .when(m4 === 1, concat(lit("https://"), col("source"), lit(".example.com:443/a/./b/../doc/"), id))
        .when(m4 === 2, concat(lit("http://"), col("source"), lit(".example.com/%7Edoc/%2Fesc%2f/"), id))
        .otherwise(concat(lit("http://"), col("source"), lit(".example.com/doc/"), id, lit("?q=1&r=2#section-"), id))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), messy.as("url"))
      .withColumn("canonical_url",
        coalesce(canonCol(col("url")), lit("!"))) // failure is visible
  }
}

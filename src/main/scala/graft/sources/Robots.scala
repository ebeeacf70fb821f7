package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Kernels

/** robots.txt (RFC 9309, the Robots Exclusion Protocol) — the crawl
  * POLICY layer of the ingestion story: a corpus pipeline must be
  * able to re-evaluate "was this fetch allowed" at scale (policy
  * audits, takedown sweeps, re-crawl planning), which means the
  * matcher has to run distributed over (robots.txt, url) pairs, not
  * on the crawler box. This is string arithmetic — parse rule
  * groups, pick the most specific user-agent group, longest-match
  * allow/disallow with `*` wildcards and the `$` end anchor —
  * implemented per the RFC:
  *
  *  - groups: consecutive `User-agent:` lines share the following
  *    `Allow:`/`Disallow:` rules; comments (`#`) stripped; unknown
  *    directives ignored (forward compatibility).
  *  - group selection: the group whose agent token is the LONGEST
  *    prefix of the product token (case-insensitive); `*` is the
  *    fallback; no match → no rules → everything allowed.
  *  - rule matching: a pattern matches if it matches a PREFIX of the
  *    url path, `*` matching any run of octets and `$` anchoring the
  *    end; the verdict is the rule with the LONGEST pattern among
  *    all that match (RFC 9309 §2.2.2), ties broken toward Allow;
  *    an empty-pattern Disallow matches nothing; no matching rule →
  *    allowed.
  */
object Robots {

  /** `delay` is the group's `Crawl-delay` in SECONDS if one was
    * declared (a de-facto extension RFC 9309 §2.2.4 allows as an
    * "other record"; Bing/Yandex honor it) — parsed but validated:
    * non-negative finite numbers only, last declaration in the group
    * wins. */
  final case class Group(agents: Seq[String], rules: Seq[Rule],
      delay: Option[Double] = None)
  /** allow=false is a Disallow rule; `pattern` verbatim from the file. */
  final case class Rule(allow: Boolean, pattern: String)

  /** RFC 9309 §2.5 lets a crawler cap how much robots.txt it
    * processes and names 500 KiB as the reference bound (Google's
    * documented limit) — rules past the cap are simply not seen,
    * which per the RFC's own model means fewer restrictions parsed
    * from a file no robot is obliged to read whole. The cap also
    * bounds the per-row parse cost when the policy column is
    * attacker-supplied crawl data. Counted in UTF-16 CHARS (the unit
    * the column arrives in, and the unit the parse cost is paid in) —
    * named for what it counts, since a 512 Ki-char cap on mostly
    * multi-byte text admits more BYTES than the RFC's reference
    * figure while still bounding the parse work identically. */
  private val MaxRobotsChars = 512 * 1024

  /** Cap + line-boundary truncation shared by `parse` and
    * `sitemaps`. A boundary is '\n' OR a lone '\r' — `linesIterator`
    * splits on both, and a CR-only robots.txt (old-Mac line endings
    * still occur in crawl data) must truncate to its last complete
    * CR-line, not to the empty string: dropping the WHOLE policy
    * would fail OPEN (zero rules parsed → everything allowed), the
    * politeness direction this parser never takes. */
  private def boundedText(txt: String): String =
    if (txt.length <= MaxRobotsChars) txt
    else math.max(txt.lastIndexOf('\n', MaxRobotsChars),
        txt.lastIndexOf('\r', MaxRobotsChars)) match {
      case -1 => "" // one giant partial line: no complete rule survives the cap
      case nl => txt.substring(0, nl)
    }

  /** Parse a robots.txt body into rule groups. Tolerant the way the
    * protocol demands: blank/comment lines, unknown directives and
    * malformed lines are skipped, never fatal — a hostile or
    * truncated robots.txt yields fewer rules, not a crash; input
    * past `MaxRobotsChars` is not read, and the cut lands on the last
    * line BOUNDARY before the cap — a mid-line cut would synthesize a
    * spurious shorter rule (`Disallow: /private` clipped to
    * `Disallow: /p`) that disallows far more than the author wrote. */
  def parse(txt: String): Seq[Group] = {
    val bounded = boundedText(txt)
    val out = Vector.newBuilder[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[Rule]
    var delay: Option[Double] = None
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) out += Group(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = None; inRules = false
    }
    for (raw <- bounded.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush() // a new agent line after rules starts a new group
            agents :+= value.toLowerCase
          case "allow" if agents.nonEmpty =>
            inRules = true; rules :+= Rule(allow = true, value)
          case "disallow" if agents.nonEmpty =>
            inRules = true; rules :+= Rule(allow = false, value)
          case "crawl-delay" if agents.nonEmpty =>
            // a rule-like record: bounds the group like allow/disallow
            inRules = true
            val d = value.toDoubleOption
            if (d.exists(v => v >= 0 && !v.isInfinite)) delay = d
          case _ => // sitemap, unknown: ignored (forward compatibility)
        }
      }
    }
    flush()
    out.result()
  }

  /** The rules governing `agent`: the LONGEST agent token that
    * prefixes the (lower-cased) product token wins, and — per
    * RFC 9309 §2.2.1, which says rules in multiple matching groups
    * MUST be combined — every group carrying that winning token
    * contributes its rules, in file order. Same for the `*`
    * fallback: split `*` groups concatenate. No match → no rules. */
  def rulesFor(groups: Seq[Group], agent: String): Seq[Rule] =
    governingGroups(groups, agent).flatMap(_.rules)

  /** The groups whose records govern `agent` — the selection both
    * `rulesFor` and `crawlDelayMs` share. */
  private def governingGroups(groups: Seq[Group], agent: String): Seq[Group] = {
    val a = agent.toLowerCase
    val matchLens = groups.map(g =>
      g.agents.filter(t => t != "*" && a.startsWith(t)).map(_.length)
        .foldLeft(-1)(math.max))
    val bestLen = matchLens.foldLeft(-1)(math.max)
    if (bestLen >= 0)
      groups.zip(matchLens).collect { case (g, len) if len == bestLen => g }
    else groups.filter(_.agents.contains("*"))
  }

  /** The `Sitemap:` records of a robots.txt — per RFC 9309 §2.3 (and
    * the sitemaps.org protocol) these are GLOBAL records, valid
    * anywhere in the file and scoped to no user-agent group, each
    * naming an absolute sitemap URL. File order preserved,
    * duplicates kept (the caller's canonicalize+dedup owns that),
    * values that don't look like absolute URLs dropped (a sitemap
    * reference the crawler can't fetch is noise, not an error).
    * Same char cap + line-boundary truncation as `parse`. */
  def sitemaps(txt: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    for (raw <- boundedText(txt).linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0 && line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val value = line.substring(colon + 1).trim
        // absolute-URL shape only: scheme "://" rest — the colon above
        // was the DIRECTIVE's, the URL's own scheme colon follows it
        if (value.contains("://")) out += value
      }
    }
    out.result()
  }

  /** The COLUMN-level sitemap API: `array<string>` of the policy's
    * sitemap URLs (empty array when none), for `explode` +
    * `Urls.canonCol` to turn into crawl seeds: the `graft_sitemaps`
    * kernel (plans/Frontier). */
  def sitemapsCol(robotsTxt: Column): Column = Kernels("graft_sitemaps", robotsTxt)

  /** The `Crawl-delay` governing `agent`, in MILLISECONDS — same
    * group selection as `rulesFor` (longest agent token, `*`
    * fallback, split groups combine); when several governing groups
    * declare a delay the LARGEST wins (politeness-conservative, the
    * same direction as the fail-closed match budget). Clamped to one
    * hour — a hostile `Crawl-delay: 1e18` must slow the crawler, not
    * halt it. None when no governing group declares one. */
  val MaxDelayMs = 3600L * 1000L

  def crawlDelayMs(groups: Seq[Group], agent: String): Option[Long] = {
    val declared = governingGroups(groups, agent).flatMap(_.delay)
    if (declared.isEmpty) None
    else Some(math.min((declared.max * 1000.0).toLong, MaxDelayMs))
  }

  /** The COLUMN-level delay API: per-policy `Crawl-delay` in ms, NULL
    * when the policy declares none (the caller coalesces its own
    * default) or on null input: the `graft_crawl_delay` kernel
    * (plans/Frontier, per-thread LRU over the parse like the verdict
    * kernel). */
  def delayCol(robotsTxt: Column, agent: String = "graftbot/1.0"): Column =
    Kernels("graft_crawl_delay", robotsTxt, lit(agent))

  /** Does `pattern` (with `*` wildcards, optional trailing `$`
    * anchor) match a prefix of `path`? Iterative backtracking over
    * the single-star-resume structure — linear on every real robots
    * rule. The adversarial case (a star-bomb rule like `/a*a*a*…`
    * matched against a long all-`a` path) is Θ(pattern × path), and
    * BOTH strings are attacker-supplied at audit time (the robots
    * body is crawled content, the path is a frontier URL) — so the
    * walk carries a hard STEP BUDGET, the same discipline as the
    * bounded HTML entity scan. The budget (1M steps) is ~3 orders
    * beyond what any non-adversarial rule×path needs; exhaustion is
    * surfaced as a distinct verdict and `isAllowed` fails CLOSED on
    * it — if any governing rule could not be proved either way, the
    * fetch is DISALLOWED. Failing open would let a hostile-but-
    * legitimate long Disallow rule (whose proof blows the budget)
    * read as "allowed" and cause a politeness violation; failing
    * closed only ever costs a fetch. */
  private val MaxMatchSteps = 1 << 20

  /** Tri-state bounded-match verdicts. */
  private final val NoMatch = 0
  private final val Matched = 1
  private[graft] final val Exhausted = -1

  private[graft] def matchBounded(pattern: String, path: String): Int = {
    if (pattern.isEmpty) return NoMatch // empty pattern matches nothing
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    // match p against path with '*' wildcards; unanchored = a match
    // may end anywhere (prefix semantics), anchored = at path's end
    var pi = 0; var si = 0
    var starPi = -1; var starSi = -1
    var steps = 0
    while (steps < MaxMatchSteps) {
      steps += 1
      if (pi == p.length) {
        if (!anchored || si == path.length) return Matched
        // anchored: try to consume more via the last star
        if (starPi < 0) return NoMatch
        pi = starPi; si = starSi + 1; starSi = si
        if (si > path.length) return NoMatch
      } else if (p(pi) == '*') {
        starPi = pi + 1; starSi = si; pi += 1
      } else if (si < path.length && path(si) == p(pi)) {
        pi += 1; si += 1
      } else if (starPi >= 0 && starSi < path.length) {
        pi = starPi; starSi += 1; si = starSi
      } else return NoMatch
    }
    Exhausted // step budget exhausted: undecidable within bound
  }

  /** Boolean view of `matchBounded` — exhaustion reads as non-match
    * here; `isAllowed` (the verdict that gates a FETCH) consumes the
    * tri-state and fails closed instead. */
  private[graft] def patternMatches(pattern: String, path: String): Boolean =
    matchBounded(pattern, path) == Matched

  /** RFC 9309 §2.2.2 verdict: longest matching pattern wins, ties
    * toward Allow, no match → allowed. A rule whose match proof
    * exhausts the step budget fails CLOSED — the verdict is
    * disallow, so a budget-blowing rule can never become a
    * politeness violation. */
  def isAllowed(rules: Seq[Rule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    for (r <- rules) matchBounded(r.pattern, path) match {
      case Exhausted => return false // fail closed: never fetch on an unproved rule
      case Matched =>
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len; bestAllow = r.allow
        }
      case _ =>
    }
    bestAllow
  }

  /** The COLUMN-level verdict API: "may `agent` fetch `path` under
    * `robotsTxt`" as a plain boolean column: the
    * `graft_robots_allowed` kernel (plans/Frontier), whose
    * per-thread bounded LRU runs the policy parse once per DISTINCT
    * robots.txt per task — a broadcast-joined policy column costs
    * ~one parse per host per task, not one per row. Null in → null
    * out. */
  def allowedCol(robotsTxt: Column, path: Column, agent: String = "graftbot/1.0"): Column =
    Kernels("graft_robots_allowed", robotsTxt, path, lit(agent))

  /** The ORACLED seed-discovery leg (`llm_sitemap_seeds`) — where a
    * crawl STARTS: each host's robots.txt names its sitemaps
    * (RFC 9309 §2.3 global records, valid anywhere in the file —
    * here deliberately interleaved inside a rule group), the real
    * scanner extracts them distributed via the `graft_sitemaps`
    * kernel, and each URL canonicalizes (`graft_url_canon`) into a
    * frontier-ready seed. Per row the policy carries one
    * relative sitemap (dropped — not fetchable), one messy-cased
    * default-port URL (canon must normalize it) and one clean HTTPS
    * index; DuckDB restates both surviving seeds per document.
    * Map-only, zero exchanges — seed discovery at 100 TB is a pure
    * scan over the robots corpus. */
  def sitemapSeeds(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val h = concat(col("source"), lit(".example.com"))
    val robotsTxt = concat(
      lit("# synthesized policy\nUser-agent: *\nDisallow: /tmp\n" +
        "Sitemap: /relative-dropped.xml\nSitemap: HTTP://"),
      col("source"), lit(".Example.COM:80/maps/sitemap-"), id,
      lit(".xml\nAllow: /\nSitemap: https://"), h, lit("/sitemap-index.xml\n"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), sitemapsCol(robotsTxt).as("maps"))
      .select(col("doc_id"), posexplode(col("maps")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("sitemap_no"),
        coalesce(graft.sources.Urls.canonCol(col("col")), lit("!"))
          .as("sitemap_url")) // failure is visible, never silently dropped
  }

  /** The ORACLED registry leg (`llm_robots_filter`): every document
    * gets a fixed two-group robots.txt exercising the protocol's
    * load-bearing semantics — longest-match precedence (`Allow:
    * /data/pub` overrides the shorter `Disallow: /data`), a `$`
    * anchor, a `*` wildcard, and agent-group selection (the `badbot`
    * group would deny everything; the matcher must pick the `*`
    * group for our agent) — and a per-row url path chosen by
    * `n_chars % 4`. The REAL parser + matcher decide `allowed`
    * distributed; DuckDB recomputes the verdict from the synthesized
    * case table. A row can only match if group selection, longest-
    * match, the anchor and the wildcard all behaved. */
  def robotsFilter(spark: SparkSession, dir: String): DataFrame = {
    val robotsTxt =
      """# synthesized policy
        |User-agent: badbot
        |Disallow: /
        |
        |User-agent: *
        |Disallow: /data
        |Allow: /data/pub
        |Disallow: /tmp/*.log$
        |Allow: /
        |""".stripMargin
    val m4 = pmod(col("n_chars").cast("int"), lit(4))
    val id = col("doc_id").cast("string")
    val path =
      when(m4 === 0, concat(lit("/data/pub/"), id))   // allowed: longest match Allow /data/pub
        .when(m4 === 1, concat(lit("/data/raw/"), id))   // denied: Disallow /data
        .when(m4 === 2, concat(lit("/tmp/run"), id, lit(".log"))) // denied: wildcard + $ anchor
        .otherwise(concat(lit("/tmp/run"), id, lit(".txt")))      // allowed: anchor does NOT match .txt
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), path.as("url_path"))
      // verdicts via the graft_robots_allowed column kernel — the
      // policy parse runs once per thread (LRU), the whole query is
      // one codegen scan projection
      .withColumn("allowed", allowedCol(lit(robotsTxt), col("url_path")))
  }
}

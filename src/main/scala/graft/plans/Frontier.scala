package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The crawl-frontier kernels: UTF8String entry points over the
  * Scala walks in sources/Urls.scala, sources/Robots.scala and
  * sources/Sitemap.scala, one static call per row (built in
  * Kernels). */
object FrontierKernel {

  /** RFC 3986 canonical form, or null when the input is not an
    * absolute URL — null is the SQL-native "not a URL" verdict the
    * caller coalesces to its own sentinel. */
  def graft_url_canon(u: UTF8String): UTF8String =
    graft.sources.Urls.normalizeUrl(u.toString) match {
      case Some(c) => UTF8String.fromString(c)
      case None => null
    }

  /** RFC 3986 §5 resolution of `ref` against `base`, or null when the
    * base is not an absolute URI (and the ref carries no scheme of
    * its own) — the discover step per extracted link. */
  def graft_url_resolve(base: UTF8String, ref: UTF8String): UTF8String =
    graft.sources.Urls.resolve(base.toString, ref.toString) match {
      case Some(t) => UTF8String.fromString(t)
      case None => null
    }

  /** Per-thread bounded LRU of PARSED policies (robots text →
    * `Seq[Group]`) — agent-independent, so ONE parse per distinct
    * policy per thread serves every derived cache: a scan computing
    * both `graft_robots_allowed` and `graft_crawl_delay` over the
    * same broadcast robots column must not parse twice. Bounded at
    * 64 entries because an executor thread is long-lived and a
    * hostile policy column could otherwise grow the map without
    * limit; keys are CLONED before retention (the input UTF8String
    * can alias a reused scan buffer — the TermCounts lesson). */
  private final class GroupsCache
      extends java.util.LinkedHashMap[UTF8String, Seq[graft.sources.Robots.Group]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[UTF8String, Seq[graft.sources.Robots.Group]]): Boolean =
      size() > 64
    def groupsFor(robots: UTF8String): Seq[graft.sources.Robots.Group] = {
      var groups = get(robots)
      if (groups == null) {
        groups = graft.sources.Robots.parse(robots.toString)
        put(robots.clone(), groups)
      }
      groups
    }
  }

  private val groupsCaches = new ThreadLocal[GroupsCache] {
    override def initialValue() = new GroupsCache()
  }

  /** Per-(thread, agent) bounded LRU of the DERIVED rule set — group
    * selection is cheap but per-row would still allocate; the parse
    * itself comes from the shared GroupsCache above. */
  private final class PolicyCache(agent: String)
      extends java.util.LinkedHashMap[UTF8String, Seq[graft.sources.Robots.Rule]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[UTF8String, Seq[graft.sources.Robots.Rule]]): Boolean =
      size() > 64
    def rulesFor(robots: UTF8String): Seq[graft.sources.Robots.Rule] = {
      var rules = get(robots)
      if (rules == null) {
        rules = graft.sources.Robots.rulesFor(
          groupsCaches.get().groupsFor(robots), agent)
        put(robots.clone(), rules)
      }
      rules
    }
  }

  private val caches = new ThreadLocal[java.util.HashMap[UTF8String, PolicyCache]] {
    override def initialValue() = new java.util.HashMap[UTF8String, PolicyCache]()
  }

  /** RFC 9309 verdict of `agent` fetching `path` under `robots`. */
  def graft_robots_allowed(robots: UTF8String, path: UTF8String, agent: UTF8String): Boolean = {
    val byAgent = caches.get()
    var cache = byAgent.get(agent)
    if (cache == null) { cache = new PolicyCache(agent.toString); byAgent.put(agent.clone(), cache) }
    graft.sources.Robots.isAllowed(cache.rulesFor(robots), path.toString)
  }

  /** Per-(thread, agent) bounded LRU for the DERIVED Crawl-delay —
    * the parse comes from the shared GroupsCache (never a second
    * parse of a policy `graft_robots_allowed` already parsed on this
    * thread). Values box the Option as a Long with -1 = "no delay
    * declared", so a hit returns the cached box without allocating. */
  private final class DelayCache(agent: String)
      extends java.util.LinkedHashMap[UTF8String, java.lang.Long](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[UTF8String, java.lang.Long]): Boolean = size() > 64
    def delayFor(robots: UTF8String): java.lang.Long = {
      var d = get(robots)
      if (d == null) {
        d = java.lang.Long.valueOf(graft.sources.Robots.crawlDelayMs(
          groupsCaches.get().groupsFor(robots), agent).getOrElse(-1L))
        put(robots.clone(), d)
      }
      d
    }
  }

  private val delayCaches = new ThreadLocal[java.util.HashMap[UTF8String, DelayCache]] {
    override def initialValue() = new java.util.HashMap[UTF8String, DelayCache]()
  }

  /** `Crawl-delay` in ms governing `agent` under `robots`, or null
    * (SQL NULL) when the policy declares none. */
  def graft_crawl_delay(robots: UTF8String, agent: UTF8String): java.lang.Long = {
    val byAgent = delayCaches.get()
    var cache = byAgent.get(agent)
    if (cache == null) { cache = new DelayCache(agent.toString); byAgent.put(agent.clone(), cache) }
    val d = cache.delayFor(robots)
    if (d.longValue < 0) null else d
  }

  /** The policy's `Sitemap:` URLs as columnar ArrayData — global
    * records, agent-independent (RFC 9309 §2.3), so no per-agent
    * cache tier is needed; the scan is one bounded line walk. */
  def graft_sitemaps(robots: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val ss = graft.sources.Robots.sitemaps(robots.toString)
    val out = new Array[AnyRef](ss.length)
    var i = 0
    while (i < ss.length) { out(i) = UTF8String.fromString(ss(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Typed `kind \t loc` entries of one sitemap DOCUMENT (urlset /
    * sitemapindex), document order (sources/Sitemap.parseEntries). */
  def graft_sitemap_entries(xml: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val es = graft.sources.Sitemap.parseEntries(xml.toString)
    val out = new Array[AnyRef](es.length)
    var i = 0
    while (i < es.length) {
      out(i) = UTF8String.fromString(es(i)._1 + "\t" + es(i)._2); i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

package graft

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Kernels

/** The registry-driven SQL surface: every declared query reachable
  * through `spark.sql` as a named temp view, answering exactly what
  * the DataFrame form answers (round-11 verdict item 8). */
class SqlSurfaceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("every registry query is served through spark.sql with row-count parity") {
    val names = SparkEntry.registerSqlSurface(spark, TestSpark.sf)
    assert(names.toSet == SparkEntry.queries.keySet, "surface must cover the whole registry")
    for (n <- names) {
      val viaSql = spark.sql(s"SELECT count(*) AS n FROM $n").head().getLong(0)
      val viaApi = SparkEntry.queries(n)(spark, TestSpark.sf).count()
      assert(viaSql == viaApi, s"SQL surface diverged on $n: $viaSql != $viaApi")
      assert(viaSql > 0, s"$n served an empty result through the SQL surface")
    }
  }

  test("includeSnapshotLegs=false registers the lazy surface only") {
    val lazyNames =
      SparkEntry.registerSqlSurface(spark, TestSpark.sf, includeSnapshotLegs = false)
    assert(lazyNames.toSet ==
      SparkEntry.registry.filterNot(_.snapshot).map(_.name).toSet,
      "lazy surface must exclude exactly the snapshot-semantics legs")
  }

  test("the SQL surface composes: user predicates apply over a registered view") {
    SparkEntry.registerSqlSurface(spark, TestSpark.sf)
    // a view is a logical plan, not a materialization: querying it
    // with a predicate + projection must answer like any subquery
    val total = spark.sql("SELECT count(*) AS n FROM eco_stats").head().getLong(0)
    val filtered = spark.sql(
      "SELECT event_type, n FROM eco_stats WHERE event_type = 'click'").collect()
    assert(filtered.length <= total && filtered.forall(_.getString(0) == "click"))
  }

  test("every graft_* SQL name resolves through spark.sql and equals its column twin") {
    // rows 0-2 feed each kernel a page, a robots.txt and a sitemap
    // (and a wire event); row 3 is NULL in every non-literal argument
    spark.range(4).selectExpr("id",
      """CASE id WHEN 0 THEN '<p>Hello <a href="/a?b">the world</a> hello there world, hello again</p>'
         WHEN 1 THEN 'User-agent: *\nDisallow: /x\nCrawl-delay: 2\nSitemap: http://h.example/s.xml'
         WHEN 2 THEN '<urlset><url><loc>http://h.example/a</loc></url></urlset>' END AS s""")
      .selectExpr("id", "s",
        "split(lower(s), ' ') AS toks",
        "CASE WHEN s IS NOT NULL THEN concat('HTTP://H.example/a/../b', id) END AS u",
        "CASE WHEN s IS NOT NULL THEN transform(sequence(1, 12), i -> id * 1000 + i) END AS sig",
        "CASE WHEN s IS NOT NULL THEN array(named_struct('doc_id', id, 'pos', 2), " +
          "named_struct('doc_id', 0L, 'pos', 1)) END AS postings",
        "CASE WHEN s IS NOT NULL THEN array(1.0D, 2.0D, cast(id AS double)) END AS v",
        "CASE WHEN s IS NOT NULL THEN array(1, 2, cast(id AS int)) END AS code",
        "CASE WHEN s IS NOT NULL THEN array(0.5D, 0.25D, 1.0D, 2.0D) END AS ptab",
        "CASE WHEN s IS NOT NULL THEN unhex('0001') END AS pq",
        """CASE WHEN s IS NOT NULL THEN concat('{"event_id": ', id,
          ', "ts": "2024-01-01T10:00:00Z", "user_id": 7, "event_type": "click", "value": 1.5}') END AS w""")
      .createOrReplaceTempView("graft_kernel_in")
    val calls = Map(
      "graft_char_run_stats" -> Seq("s"), "graft_term_counts" -> Seq("toks"),
      "graft_fingerprint" -> Seq("s"), "graft_winnow" -> Seq("s"),
      "graft_postings_digest" -> Seq("postings"), "graft_gram_stats" -> Seq("toks", "2"),
      "graft_gram_hashes" -> Seq("toks", "2"), "graft_segments" -> Seq("toks", "3"),
      "graft_minhash_sig" -> Seq("toks"), "graft_simhash" -> Seq("toks"),
      "graft_band_hashes" -> Seq("sig"), "graft_url_canon" -> Seq("u"),
      "graft_url_resolve" -> Seq("u", "'../c'"), "graft_sitemaps" -> Seq("s"),
      "graft_sitemap_entries" -> Seq("s"), "graft_crawl_delay" -> Seq("s", "'graftbot/1.0'"),
      "graft_robots_allowed" -> Seq("s", "'/x/y'", "'graftbot/1.0'"),
      "graft_html_text" -> Seq("s"), "graft_html_links" -> Seq("s"),
      "graft_link_anchors" -> Seq("s"), "graft_lang_id" -> Seq("s"),
      "graft_bpe_tokens" -> Seq("s"), "graft_cosine" -> Seq("v", "array(3.0D, 2.0D, 1.0D)"),
      "graft_srp_buckets" -> Seq("v"),
      "graft_nearest_centroid" -> Seq("v", "array(array(1.0D, 0.0D, 0.0D), array(0.0D, 0.0D, 1.0D))"),
      "graft_dequant_dot" -> Seq("code", "array(0.5D, 0.25D, 1.0D)", "0.0D", "1.0D"),
      "graft_adc" -> Seq("ptab", "pq", "2"),
      "graft_bpe_tokens_with" -> Seq("s", "array(array('h', 'e'), array('l', 'l'))"),
      "graft_wire_decode" -> Seq("w"), "graft_json_int" -> Seq("w", "'user_id'"))
    assert(calls.keySet == Kernels.names.toSet, "every SQL name needs a case here")
    val in = spark.table("graft_kernel_in")
    for ((name, args) <- calls) withClue(s"$name: ") {
      val viaSql = spark.sql(
        s"SELECT id, $name(${args.mkString(", ")}) AS r FROM graft_kernel_in").collect()
      val viaCol = in.select(col("id"), Kernels(name, args.map(expr): _*).as("r")).collect()
      assert(viaSql.sortBy(_.getLong(0)).toSeq == viaCol.sortBy(_.getLong(0)).toSeq)
      assert(viaSql.filter(_.getLong(0) == 3L).forall(_.isNullAt(1)), "NULL input must give NULL")
      assert(viaSql.exists(r => r.getLong(0) < 3L && !r.isNullAt(1)), "no non-NULL result")
    }
    def analysisError(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    }
    assert(analysisError("SELECT graft_gram_stats(toks, cast(id AS int)) FROM graft_kernel_in")
      .contains("graft_gram_stats requires a literal int gram width"))
    assert(analysisError("SELECT graft_robots_allowed(s, '/x', s) FROM graft_kernel_in")
      .contains("graft_robots_allowed requires a literal string agent"))
    assert(analysisError("SELECT graft_json_int(w, s) FROM graft_kernel_in")
      .contains("graft_json_int requires a literal string field"))
    assert(analysisError("SELECT graft_lang_id(s, s) FROM graft_kernel_in")
      .contains("graft_lang_id takes exactly 1 argument"))
  }
}

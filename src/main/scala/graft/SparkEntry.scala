package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The query registry: one `Query` record per declared query. Each
  * is an operator from SURVEY.md §2 expressed Spark-first; an
  * oracle-checked one carries the DuckDB-equivalent ANSI SQL that
  * `tools/selfcheck.py` hash-compares against at sf0.01. Column names
  * are aligned on both sides (the compare sorts columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One declared query.
    *  - `run` builds it over a testdata dir;
    *  - `family` (operator family) and `entry` (entry point) are its
    *    row in README.md's index, rendered by `RegistryDoc`;
    *  - `oracle` is the DuckDB SQL it is checked against; `None`
    *    means `no_oracle` by design, pinned by an sbt test instead
    *    (sketch estimates / seeded walks / ANN recall);
    *  - `snapshot` marks a query whose CONSTRUCTION (not first
    *    query) runs Spark jobs: bounded driver iteration loops
    *    (`llm_host_rank` counts hosts then runs 5 checkpointed rank
    *    jobs; `llm_link_bfs` runs up to 4 frontier joins) and
    *    persisted-index builders (`llm_link_incr` / `llm_ann_probe`
    *    write a parquet snapshot on first construction per input
    *    fingerprint). Every other query is a pure logical plan. */
  final case class Query(name: String, run: (SparkSession, String) => DataFrame,
      family: String, entry: String, oracle: Option[String] = None,
      snapshot: Boolean = false)

  // Oracle SQL fragments: each names a block of lines that two or more
  // oracles share, so it is written once. An oracle interpolates them
  // with `raw"""…"""`, so a backslash stays a backslash as in a plain
  // literal (and `$$` would be a literal `$`). A fragment's first line
  // continues the line it is interpolated into; its later lines carry
  // their own indentation, which `shift` deepens where an oracle nests
  // the block further. ORACLES.md shows every oracle's assembled text.
  // These vals must precede `registry`, which reads them.

  /** `block` with every line after its first indented `n` more columns. */
  private def shift(block: String, n: Int): String = block.replace("\n", "\n" + " " * n)

  /** q1/q5/q11: sum of the discounted extended price, in decimals. */
  private val sumDiscPrice = """CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"""

  /** q13/q15/q17/q18: each click (probe `p`) as-of joined to a
    * purchase (ref `r`) of the same user; the oracle appends the
    * timestamp comparison. */
  private val clickCols = """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                round(p.value, 4) AS click_value,"""
  private val clicksAsofPurchases = """FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click') p
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                         WHERE event_type = 'purchase') r"""
  /** q13/q15: the latest purchase at or before each click. */
  private val asofPrior = raw"""$clickCols
                epoch_us(r.ts) AS asof_ts_us, round(r.value, 4) AS asof_value
         $clicksAsofPurchases
           ON p.user_id = r.user_id AND p.ts >= r.ts"""

  /** eco_sessions/q16: per-user gap sessions (a gap > 30 min opens
    * one) over floored epoch seconds, rows `s(user_id, sec, session)`. */
  private val sessionRows = """e AS (
           SELECT user_id, event_id, date_trunc('microseconds', ts) AS mts,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
         g AS (
           SELECT user_id, sec, mts, event_id,
             CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS gap
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id)),
         s AS (
           SELECT user_id, sec,
             sum(gap) OVER (PARTITION BY user_id ORDER BY mts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
           FROM g)"""

  /** The habitat graph: `r` ranks each habitat's events so `rn = 1`
    * is its first; `habitatPairs` adds its coordinates `n` and the
    * haversine distance `d` of every habitat pair, the expression tree
    * mirrored verbatim from Geo.haversineKm so both engines evaluate
    * the identical double formula. */
  private val firstPerHabitat = """r AS (SELECT event_type, value, user_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn
           FROM events)"""
  private val habitatPairs = raw"""$firstPerHabitat,
         n AS (SELECT event_type AS habitat,
                 round(value % 180.0 - 90.0, 6) AS lat,
                 CAST(user_id % 360 - 180 AS DOUBLE) AS lon
               FROM r WHERE rn = 1),
         d AS (SELECT a.habitat AS h1, b.habitat AS h2,
                 2 * 6371.0 * asin(sqrt(pow(sin(radians(b.lat - a.lat) / 2), 2) +
                   cos(radians(a.lat)) * cos(radians(b.lat)) *
                   pow(sin(radians(b.lon - a.lon) / 2), 2))) AS dist
               FROM n a JOIN n b ON a.habitat < b.habitat)"""

  /** The Markov chain's observed steps: each event and its user's next. */
  private val markovPairs = """pairs AS (
           SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS nxt
           FROM events)"""

  /** Lower-cased whitespace tokens `t` of each document. */
  private val docTokens = """toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                       FROM documents)"""

  /** The same tokens as an array, for positional slicing. */
  private val tokenArrays = """toks AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
         )"""

  /** Over `toks`: the distinct word 3-gram shingles `sh`, each doc's
    * shingle count `sizes` and every doc pair's shared count `i`. */
  private val shingleOverlap = """sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)
                WHERE len(t) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"""

  /** llm_dedup_clusters/llm_curate: the transitive closure of the
    * exact-or-near duplicate relation (a recursive CTE). Near edges are
    * llm_dedup_near's all-pairs >= 0.8 Jaccard, exact edges join a doc
    * to the min doc of its normalized-text group; `lab` labels each
    * doc with the min doc_id it reaches. */
  private val dupClusters = raw"""toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                  FROM documents),
         $shingleOverlap,
         near AS (SELECT doc_a AS a, doc_b AS b
                  FROM i JOIN sizes sa ON sa.doc_id = doc_a
                         JOIN sizes sb ON sb.doc_id = doc_b
                  WHERE n_common / (sa.n + sb.n - n_common) >= 0.8),
         g AS (SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS gmin
               FROM documents),
         ex AS (SELECT gmin AS a, doc_id AS b FROM g WHERE doc_id <> gmin),
         e0 AS (SELECT a, b FROM near UNION SELECT a, b FROM ex),
         edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         reach(d, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.d, e.b FROM reach JOIN edges e ON e.a = reach.r),
         lab AS (SELECT d AS doc_id, min(r) AS cluster_id FROM reach GROUP BY d)"""

  /** llm_simhash/llm_simhash_pairs: each doc's 60 SimHash `bits`, one
    * vote per word bigram hashed to the first 15 hex digits of md5. */
  private val simhashBits = raw"""$docTokens,
         big AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                 FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
                 WHERE len(t) >= 2),
         h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM big),
         bits AS (SELECT doc_id, b,
                    CASE WHEN sum(((hv >> b) & 1) * 2 - 1) > 0
                         THEN 1::BIGINT ELSE 0::BIGINT END AS bit
                  FROM h, (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b)"""

  /** Each doc's text lower-cased, trimmed and whitespace-collapsed. */
  private val normText = """d AS (SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
           FROM documents)"""

  /** The winnowed fingerprint set `sel(doc_id, h)` (k=8 chars, w=16
    * positions): the selection key packs the 36-bit gram hash with the
    * complemented 24-bit position, so min(key) is (min hash,
    * rightmost); a position is selected iff SOME window ending at or
    * after it chose its key, i.e. the max of the following w mins
    * equals the key (each wmin <= key of every position its window
    * contains, so exists == max). Gram hash = llm_fingerprint's md5
    * trick. */
  private val winnowSel = raw"""$normText,
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 substr(t, CAST(i AS INTEGER), 8) AS gg
               FROM d, LATERAL (SELECT unnest(range(1, least(len(t) - 6, 16777216))) AS i)
               WHERE len(t) >= 23),
         h AS (SELECT doc_id, pos, ('0x' || substr(md5(gg), 1, 14))::BIGINT AS h FROM g),
         k AS (SELECT doc_id, pos, h,
                 (h % 68719476736) * 16777216 + (16777215 - pos) AS key FROM h),
         w AS (SELECT doc_id, pos, h, key,
                 CASE WHEN pos >= 16 THEN min(key) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) END AS wmin
               FROM k),
         s AS (SELECT doc_id, h, key,
                 max(wmin) OVER (PARTITION BY doc_id
                   ORDER BY pos ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
               FROM w),
         sel AS (SELECT DISTINCT doc_id, h FROM s WHERE m = key)"""

  /** llm_dedup_incremental/llm_dedup_bloom: the new batch (src10..19)
    * deduped against the existing corpus (src0..9) and within itself,
    * keeping the min doc_id per survivor. */
  private val newBatchSurvivors = """WITH d AS (SELECT doc_id, CAST(substr(source, 4, 10) AS INT) AS src_n,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash
           FROM documents)
         SELECT text_hash, min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_dups_in_batch
         FROM d WHERE src_n >= 10
           AND text_hash NOT IN (SELECT text_hash FROM d WHERE src_n < 10)
         GROUP BY 1"""

  /** llm_bpe_tokenize/llm_chunk_bpe: the seed BPE model's tokens of the
    * synthesized sample text, a closed form of doc_id: `bpeSample` is
    * each doc's case and repeat count, `bpeTokens` the token list
    * `toks` (the tail of a CTE over `p`). */
  private val bpeSample = """p AS (SELECT doc_id, doc_id % 4 AS bpe_case, doc_id % 5 + 1 AS k
                    FROM documents WHERE text IS NOT NULL)"""
  private val bpeTokens = """CASE bpe_case
                        WHEN 0 THEN [CASE WHEN i=0 THEN 'the' ELSE ' the' END FOR i IN range(k)]
                        WHEN 1 THEN flatten([[CASE WHEN i=0 THEN 'data' ELSE ' data' END, ' z', 'q'] FOR i IN range(k)])
                        WHEN 2 THEN flatten([[CASE WHEN i=0 THEN 'the' ELSE ' the' END, 'data'] FOR i IN range(k)])
                        ELSE list_concat(['the',' data',' model',' train'], flatten([[' z','q'] FOR i IN range(k)]))
                      END AS toks
                    FROM p)"""

  /** llm_split/llm_curate: each doc's fold from its salted md5 prefix. */
  private val splitFold = """SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS b
               FROM documents)"""

  /** llm_html_extract/llm_crawl_extract: the synthesized page's visible
    * text, the h1's 'Doc & <id>' plus the whitespace-collapsed text. */
  private val pageText = """concat('Doc & ', doc_id,
                  CASE WHEN regexp_matches(text, '\S')
                       THEN concat(' ', trim(regexp_replace(text, '\s+', ' ', 'g')))
                       ELSE '' END) AS extracted_text"""

  /** llm_url_frontier/llm_frontier_schedule: each doc's admitted
    * frontier URL, its host and the host's RFC 9309 verdict. */
  private val frontierRow = """CASE n_chars % 4
             WHEN 0 THEN concat('http://', source, '.example.com/data/pub/', doc_id)
             WHEN 1 THEN concat('https://', source, '.example.com/data/raw/', doc_id)
             WHEN 2 THEN concat('http://', source, '.example.com/tmp/run', doc_id, '.log')
             ELSE concat('http://', source, '.example.com/doc/~', doc_id, '?q=1')
           END AS canonical_url,
           concat(source, '.example.com') AS host,
           CASE n_chars % 4
             WHEN 0 THEN true
             WHEN 1 THEN false
             WHEN 2 THEN false
             ELSE length(source) % 2 = 1
           END AS allowed"""

  /** The 101-host link graph: each page's three affine-map targets,
    * the tail of the `d` CTE over documents with text. */
  private val linkTargets = """(doc_id * 2 + 1) % 101 AS d1,
                  (doc_id * 3 + 7) % 101 AS d2,
                  (doc_id * 7 + 13) % 101 AS d3
           FROM documents WHERE text IS NOT NULL)"""
  /** Its distinct host edges `e` (self-loops dropped) and `nodes`. */
  private val hostEdges = raw"""d AS (SELECT doc_id % 101 AS src,
                  $linkTargets,
         raw AS (SELECT src, unnest([d1, d2, d3]) AS dst FROM d),
         e AS (SELECT DISTINCT src, dst FROM raw WHERE dst <> src),
         nodes AS (SELECT src AS h FROM e UNION SELECT dst FROM e)"""

  /** Steps `p`1..`p`k of the host-rank power iteration in fixed-point
    * longs, step i from step i-1: r(v) = tp + (85 * sum(r(u) //
    * outdeg(u))) // 100 over `nodes`, the constants `con`, the
    * `edges` and the out-degrees `deg`. Written for CTE names at
    * column 9; `shift` moves it. */
  private def powerSteps(p: String, k: Int, nodes: String, con: String, edges: String,
      deg: String): String =
    (1 to k).map(i => raw"""$p$i AS (SELECT $nodes.h, tp + (85 * coalesce(s.inflow, 0)) // 100 AS r
                FROM $nodes CROSS JOIN $con
                LEFT JOIN (SELECT $edges.dst AS h, sum(p.r // $deg.outdeg) AS inflow
                           FROM $edges JOIN $p${i - 1} p ON p.h = $edges.src
                                  JOIN $deg ON $deg.src = $edges.src
                           GROUP BY 1) s ON s.h = $nodes.h)""").mkString(",\n         ")

  /** llm_host_rank/llm_mix_ranked: five cold power steps from the
    * uniform base = 1e12 // N, teleport tp = (15 * base) // 100. */
  private val hostRanks = raw"""$hostEdges,
         con AS (SELECT (1000000000000 // count(*)) AS base,
                        (15 * (1000000000000 // count(*))) // 100 AS tp
                 FROM nodes),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         p0 AS (SELECT h, base AS r FROM nodes CROSS JOIN con),
         ${powerSteps("p", 5, "nodes", "con", "e", "deg")}"""

  /** llm_mix_ranked: a rank's bucket around the uniform base. */
  private val rankBucket = """CASE WHEN r IS NULL THEN 1
                         WHEN r >= (11 * base) // 10 THEN 5
                         WHEN r >= base THEN 4
                         WHEN r >= (8 * base) // 10 THEN 3
                         ELSE 2 END"""

  /** llm_media_decode/llm_media_wav: one row per char of md5(text). */
  private val md5CharRows = """FROM (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
              LATERAL (SELECT unnest(range(1, 33)) AS i)
         GROUP BY doc_id"""

  /** Every declared query, grouped by family in README order.
    * RegistryDocSpec pins the names unique. */
  val registry: Seq[Query] = Seq(
    Query("q1_pricing_summary", Relational.q1PricingSummary _,
      "relational", "Relational.q1PricingSummary",
      Some(raw"""SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         $sumDiscPrice
           AS sum_disc_price,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
         round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    Query("q2_filter_project", Relational.q2FilterProject _,
      "relational", "Relational.q2FilterProject",
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_discount
         FROM lineitem WHERE l_quantity > 45.0 AND l_discount >= 0.05""")),
    Query("q3_revenue_by_nation", Relational.q3RevenueByNation _,
      "relational", "Relational.q3RevenueByNation",
      Some("""SELECT n_name,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""")),
    Query("q4_top_orders", Relational.q4TopOrders _, "relational", "Relational.q4TopOrders",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),
    Query("q5_revenue_by_region", Relational.q5RevenueByRegion _,
      "relational", "Relational.q5RevenueByRegion",
      Some(raw"""SELECT r_name,
         $sumDiscPrice
           AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""")),
    Query("q6_semi_join", Relational.q6SemiJoin _, "relational", "Relational.q6SemiJoin",
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)""")),
    Query("q7_anti_join", Relational.q7AntiJoin _, "relational", "Relational.q7AntiJoin",
      Some("""SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)""")),
    Query("q8_cube", Relational.q8Cube _, "relational", "Relational.q8Cube",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    Query("q9_top_per_customer", Relational.q9TopPerCustomer _,
      "relational", "Relational.q9TopPerCustomer",
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn <= 3""")),
    Query("q10_set_ops", Relational.q10SetOps _, "relational", "Relational.q10SetOps",
      Some("""SELECT 'except' AS op, status FROM
           (SELECT o_orderstatus AS status FROM orders
            EXCEPT SELECT l_linestatus AS status FROM lineitem) a
         UNION ALL
         SELECT 'intersect' AS op, status FROM
           (SELECT o_orderstatus AS status FROM orders
            INTERSECT SELECT l_linestatus AS status FROM lineitem) b""")),
    Query("q11_parts_by_brand", Relational.q11PartsByBrand _,
      "relational", "Relational.q11PartsByBrand",
      Some(raw"""SELECT p_brand, count(*) AS n_items,
           ${shift(sumDiscPrice, 2)}
             AS revenue,
           round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)
             AS avg_retail
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""")),
    Query("q12_priority", Relational.q12Priority _, "relational", "Relational.q12Priority",
      Some("""SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_quantity > 25.0
         GROUP BY l_linestatus""")),
    // DuckDB's native ASOF LEFT JOIN is the oracle for the engine's
    // union+window as-of (Joins.asofJoin): largest ref ts <= probe ts
    // per user, nulls kept for probe rows with no prior ref
    Query("q13_asof_join", Joins.asofJoin _, "temporal-join", "Joins.asofJoin",
      Some(asofPrior)),
    // point-in-interval range join against the same literal band
    // table the Spark side bin-explodes (Joins.bands)
    Query("q14_range_join", Joins.rangeJoinBands _, "temporal-join", "Joins.rangeJoinBands",
      Some("""WITH bands(band, lo, hi) AS (VALUES
           ('micro', 0.0, 1.0), ('tiny', 1.0, 5.0), ('small', 5.0, 20.0),
           ('mid', 20.0, 75.0), ('large', 75.0, 150.0), ('xl', 150.0, 300.0),
           ('huge', 300.0, 1000.0))
         SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
                count(*) AS n_events,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
         FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
         GROUP BY band, lo, hi""")),
    // the skew-proof as-of twin, with the chunk cap forced far below
    // the testdata's per-user row counts (max ~43 at sf0.1) so the
    // boundary stitch REALLY runs through the oracle gate — at the
    // production default the twin degenerates to single chunks
    //
    // the stitched twin answers the SAME question as q13 (bit-equal
    // by construction, JoinsSpec) — the oracle is the same ASOF join
    Query("q15_asof_stitched", (s, d) => Joins.asofJoinStitched(s, d, maxRowsPerKey = 8L),
      "temporal-join", "Joins.asofJoinStitched",
      Some(asofPrior)),
    // interval × interval overlap: the session derivation is
    // eco_sessions' oracle verbatim; the window grid is one 90-min
    // window every 6 h from the first event. The theta join is the
    // oracle's prerogative — the engine runs the binned equi-join
    // with the first-overlap-bin dedupe guard instead (Joins.scala)
    Query("q16_interval_join", Joins.intervalJoin _, "temporal-join", "Joins.intervalJoin",
      Some(raw"""WITH $sessionRows,
         sess AS (
           SELECT user_id, min(sec) AS s_lo, max(sec) AS s_hi
           FROM s GROUP BY user_id, session),
         span AS (SELECT min(sec) AS t0, max(sec) AS t1 FROM e),
         ks AS (SELECT unnest(generate_series(0,
                  CAST(floor((t1 - t0) / 21600) AS BIGINT))) AS k, t0 FROM span),
         wins AS (SELECT k, t0 + k * 21600 AS w_lo,
                         t0 + k * 21600 + 5400 AS w_hi FROM ks)
         SELECT k, w_lo, w_hi, count(*) AS n_sessions,
                count(DISTINCT user_id) AS n_users
         FROM sess JOIN wins ON s_lo < w_hi AND w_lo <= s_hi
         GROUP BY 1, 2, 3""")),
    // forward as-of: DuckDB's ASOF with the comparison flipped picks
    // the NEAREST ref at-or-after each probe
    Query("q17_asof_forward", Joins.asofJoinForward _, "temporal-join", "Joins.asofJoinForward",
      Some(raw"""$clickCols
                epoch_us(r.ts) AS asof_ts_us, round(r.value, 4) AS asof_value
         $clicksAsofPurchases
           ON p.user_id = r.user_id AND p.ts <= r.ts""")),
    // tolerance-bounded as-of (pandas merge_asof tolerance): refs
    // staler than 6h are no match — both branches exercised at
    // oracle scale (sf0.01: 222 of 1,865 matches survive)
    //
    // tolerance-bounded as-of: q13's ASOF join, then any ref staler
    // than 6 hours is nulled out — the oracle states the semantics
    // as a post-match guard, exactly how the engine applies it
    Query("q18_asof_tolerance", (s, d) => Joins.asofJoinTolerance(s, d),
      "temporal-join", "Joins.asofJoinTolerance",
      Some(raw"""$clickCols
                CASE WHEN p.ts - r.ts <= INTERVAL 6 HOUR
                     THEN epoch_us(r.ts) END AS asof_ts_us,
                CASE WHEN p.ts - r.ts <= INTERVAL 6 HOUR
                     THEN round(r.value, 4) END AS asof_value
         $clicksAsofPurchases
           ON p.user_id = r.user_id AND p.ts >= r.ts""")),
    Query("eco_stats", Ecosystem.stats _, "eco-aggregate", "Ecosystem.stats",
      Some("""WITH g AS (SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value,
           round(avg(value), 4) AS avg_value
           FROM events GROUP BY event_type)
         SELECT event_type, n, sum_value, avg_value,
           round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS share FROM g""")),
    Query("eco_window_counts", Ecosystem.windowCounts _, "eco-aggregate", "Ecosystem.windowCounts",
      Some("""SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS wstart,
           event_type, count(*) AS n
         FROM events GROUP BY 1, 2""")),
    Query("eco_trends", Ecosystem.trends _, "eco-aggregate", "Ecosystem.trends",
      Some("""WITH g AS (SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT CAST(epoch(w) AS BIGINT) AS wstart, event_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY w) AS DOUBLE), 6) AS share_of_hour
         FROM g""")),
    Query("eco_recent", Ecosystem.recent _, "eco-aggregate", "Ecosystem.recent",
      Some("""SELECT event_id, user_id, event_type, round(value, 4) AS value
         FROM events
         WHERE date_trunc('microseconds', ts) >=
           (SELECT max(date_trunc('microseconds', ts)) FROM events) - INTERVAL 1 HOUR""")),
    Query("eco_distinct_users", Ecosystem.distinctUsers _,
      "eco-aggregate", "Ecosystem.distinctUsers",
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type""")),
    Query("eco_importance", Ecosystem.importance _, "eco-aggregate", "Ecosystem.importance",
      Some("""WITH g AS (SELECT event_type,
           avg(abs(value)) / 50.0 * (1000.0 / avg(CAST(json_extract_string(props, '$.k') AS INTEGER) + 1)) AS raw
           FROM events GROUP BY event_type)
         SELECT event_type, round(raw, 6) AS raw_score,
           round(raw / sum(raw) OVER (), 6) AS rank_score FROM g""")),
    Query("eco_mapreduce", Ecosystem.mapReduceCounts _, "eco-aggregate", "Ecosystem.mapReduceCounts",
      Some("""SELECT key, count(*) AS n FROM (
           SELECT 'type:' || event_type AS key FROM events
           UNION ALL
           SELECT 'user:' || CAST(user_id AS VARCHAR) AS key FROM events) t
         GROUP BY key""")),
    Query("eco_window_events", Ecosystem.windowEvents _, "eco-aggregate", "Ecosystem.windowEvents",
      Some("""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS wstart, event_type,
           array_to_string(list_sort(list(user_id)), ',') AS users_csv,
           count(*) AS n
         FROM events GROUP BY 1, 2""")),
    Query("eco_sql_stats", Ecosystem.sqlStats _, "eco-aggregate", "Ecosystem.sqlStats",
      Some("""SELECT event_type, user_id, count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY event_type, user_id""")),
    // Hopping windows: every event contributes to exactly two
    // 10-minute windows at 5-minute hops; replay the expansion as a
    // two-bucket UNION ALL.
    Query("eco_hopping_counts", Ecosystem.hoppingCounts _,
      "eco-aggregate", "Ecosystem.hoppingCounts",
      Some("""WITH e AS (SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b, event_type
             FROM events),
         x AS (SELECT b AS wstart, event_type FROM e
               UNION ALL SELECT b - 300, event_type FROM e)
         SELECT wstart, event_type, count(*) AS n FROM x GROUP BY 1, 2""")),
    // Gap sessionization on floored epoch seconds both sides (Spark's
    // timestamp->long cast floors; DuckDB's epoch() keeps fractions,
    // so the floor is explicit); ordering at microsecond precision
    // like eco_transitions.
    Query("eco_sessions", Ecosystem.sessions _, "eco-aggregate", "Ecosystem.sessions",
      Some(raw"""WITH $sessionRows
         SELECT user_id, CAST(session AS BIGINT) AS session,
                min(sec) AS session_start, count(*) AS n_events,
                max(sec) - min(sec) AS duration_s
         FROM s GROUP BY 1, 2""")),
    Query("eco_hll_users", Ecosystem.approxDistinctUsers _,
      "sketch", "Ecosystem.approxDistinctUsers"),
    Query("eco_dgim_exact", Ecosystem.dgimExact _, "sketch", "Ecosystem.dgimExact",
      Some("""SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS wstart,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           count(*) AS n_total
         FROM events GROUP BY 1""")),
    // Bloom has no false negatives, so probing only present keys is
    // deterministic: every in_bloom must be TRUE (= exact IN semantics).
    Query("eco_bloom_members", Sketches.bloomMembers _, "sketch", "Sketches.bloomMembers",
      Some("""SELECT DISTINCT event_type, user_id AS probe_user, TRUE AS in_bloom
         FROM events WHERE user_id < 50""")),
    Query("eco_bloom_params", Sketches.bloomParams _, "sketch", "Sketches.bloomParams",
      Some("""WITH g AS (SELECT event_type, count(DISTINCT user_id) AS n_keys
                    FROM events GROUP BY 1),
         m AS (SELECT event_type, n_keys,
                 CAST(floor(-n_keys * ln(0.03) / (ln(2) * ln(2))) AS BIGINT) AS m_bits
               FROM g)
         SELECT event_type, n_keys, m_bits,
           CAST(floor(m_bits / n_keys * ln(2)) AS BIGINT) AS k_hashes FROM m""")),
    Query("eco_minhash_jaccard", Sketches.minhashJaccard _, "sketch", "Sketches.minhashJaccard"),
    // Min-achiever semantics: for each (cohort, hash fn), the user
    // whose Kirsch-Mitzenmacher md5 hash achieved the signature
    // minimum; `sampled` is the seeded deterministic stand-in for the
    // reference's random.sample (hash parity). md5 prefixes are 14
    // hex digits so h1 + 7*h2 < 2^59 fits BIGINT on both engines.
    Query("eco_minhash_sample", Sketches.minhashSample _, "sketch", "Sketches.minhashSample",
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         h AS (SELECT event_type, user_id,
                 ('0x' || substr(md5('a' || CAST(user_id AS VARCHAR)), 1, 14))::BIGINT AS h1,
                 ('0x' || substr(md5('b' || CAST(user_id AS VARCHAR)), 1, 14))::BIGINT AS h2
               FROM u),
         e AS (SELECT event_type, user_id, i AS hash_idx, h1 + i * h2 AS hv
               FROM h, (SELECT unnest(range(8)) AS i)),
         m AS (SELECT event_type, hash_idx, min(hv) AS min_hash
               FROM e GROUP BY 1, 2)
         SELECT m.event_type, m.hash_idx, m.min_hash,
           min(e.user_id) AS min_user,
           (m.min_hash % 2 = 0) AS sampled
         FROM m JOIN e ON e.event_type = m.event_type
                      AND e.hash_idx = m.hash_idx AND e.hv = m.min_hash
         GROUP BY 1, 2, 3""")),
    Query("eco_jaccard_exact", Sketches.jaccardExact _, "sketch", "Sketches.jaccardExact",
      Some("""WITH p AS (SELECT DISTINCT event_type, user_id FROM events),
         s AS (SELECT event_type, count(*) AS n FROM p GROUP BY 1),
         i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_common
               FROM p a JOIN p b ON a.user_id = b.user_id AND a.event_type < b.event_type
               GROUP BY 1, 2)
         SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
           round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
         FROM i JOIN s sa ON sa.event_type = type_a
                JOIN s sb ON sb.event_type = type_b""")),
    Query("eco_hll_faithful", Sketches.hllFaithful _, "sketch", "Sketches.hllFaithful"),
    Query("eco_dgim_true", Sketches.dgimTrue _, "sketch", "Sketches.dgimTrue"),
    // stitched sub-window DGIM — the hot-key scale path; rows-only
    // (order-dependent sketch), 50% bound pinned in SketchesSpec
    Query("eco_dgim_stitched", (s, d) => Sketches.dgimStitched(s, d),
      "sketch", "Sketches.dgimStitched"),
    Query("eco_transitions", Ecosystem.transitions _, "graph", "Ecosystem.transitions",
      Some("""WITH pairs AS (
           SELECT event_type AS cur_event,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS next_event
           FROM events),
         g AS (SELECT cur_event, next_event, count(*) AS n FROM pairs
               WHERE next_event IS NOT NULL GROUP BY 1, 2)
         SELECT cur_event, next_event, n,
           round(n / CAST(sum(n) OVER (PARTITION BY cur_event) AS DOUBLE), 6) AS p
         FROM g""")),
    Query("eco_graph_nodes", Graph.graphNodes _, "graph", "Graph.graphNodes",
      Some(raw"""WITH $firstPerHabitat
         SELECT event_type AS habitat,
           round(value % 180.0 - 90.0, 6) AS lat,
           CAST(user_id % 360 - 180 AS DOUBLE) AS lon
         FROM r WHERE rn = 1""")),
    Query("eco_graph_edges", Graph.graphEdges _, "graph", "Graph.graphEdges",
      Some(raw"""WITH $habitatPairs
         SELECT h1, h2, round(dist, 4) AS dist_km FROM d WHERE dist <= 15000.0""")),
    Query("eco_walk_freq", Graph.walkFreq _, "graph", "Graph.walkFreq"),
    // Recurrence via recursive-CTE mutual reachability; period via the
    // same BFS-level cycle-GCD the Scala side uses
    // (MarkovChainAnalysis.py:119-146 semantics).
    Query("eco_markov_classes", Graph.markovClasses _, "graph", "Graph.markovClasses",
      Some(raw"""WITH RECURSIVE $markovPairs,
         e AS (SELECT DISTINCT cur, nxt FROM pairs WHERE nxt IS NOT NULL),
         states AS (SELECT DISTINCT s FROM
                      (SELECT cur AS s FROM e UNION ALL SELECT nxt AS s FROM e) u),
         walk(src, node, d) AS (
           SELECT s, s, 0 FROM states
           UNION
           SELECT w.src, e.nxt, w.d + 1 FROM walk w JOIN e ON e.cur = w.node
           WHERE w.d < 32),
         dist AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2),
         mutual AS (SELECT d1.src AS s, count(*) AS sz
                    FROM dist d1 JOIN dist d2 ON d1.node = d2.src AND d2.node = d1.src
                    GROUP BY 1),
         per AS (SELECT d.src AS s,
                   list_reduce(list(d.d + 1), (a, b) -> gcd(a, b)) AS period
                 FROM dist d JOIN e ON e.cur = d.node AND e.nxt = d.src GROUP BY 1),
         cls AS (SELECT st.s AS state,
                   (coalesce(m.sz, 1) > 1 OR
                    st.s IN (SELECT cur FROM e WHERE cur = nxt)) AS is_recurrent,
                   CAST(coalesce(p.period, 1) AS BIGINT) AS period
                 FROM states st LEFT JOIN mutual m ON m.s = st.s
                                LEFT JOIN per p ON p.s = st.s)
         SELECT state, is_recurrent, period,
           CASE WHEN NOT is_recurrent THEN 'transient'
                WHEN period = 1 THEN 'recurrent-aperiodic'
                ELSE 'recurrent-periodic' END AS dtmc_class
         FROM cls""")),
    Query("eco_transition_matrix", Graph.transitionMatrix _, "graph", "Graph.transitionMatrix",
      Some(raw"""WITH $markovPairs,
         g AS (SELECT cur, nxt, count(*) AS n FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT cur, nxt,
                 round(n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
               FROM g)
         SELECT cur AS cur_event,
           round(coalesce(sum(CASE WHEN nxt = 'click' THEN p END), 0), 6) AS p_click,
           round(coalesce(sum(CASE WHEN nxt = 'error' THEN p END), 0), 6) AS p_error,
           round(coalesce(sum(CASE WHEN nxt = 'purchase' THEN p END), 0), 6) AS p_purchase,
           round(coalesce(sum(CASE WHEN nxt = 'signup' THEN p END), 0), 6) AS p_signup,
           round(coalesce(sum(CASE WHEN nxt = 'view' THEN p END), 0), 6) AS p_view
         FROM t GROUP BY cur""")),
    Query("eco_graph_components", Graph.graphComponents _, "graph", "Graph.graphComponents",
      Some(raw"""WITH RECURSIVE $habitatPairs,
         ed AS (SELECT h1 AS a, h2 AS b FROM d WHERE dist <= 15000.0),
         edges AS (SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed),
         reach(h, x) AS (
           SELECT habitat, habitat FROM n
           UNION
           SELECT reach.h, e.b FROM reach JOIN edges e ON e.a = reach.x)
         SELECT h AS habitat, min(x) AS component FROM reach GROUP BY h""")),
    Query("eco_ts_roundtrip", Ecosystem.tsRoundtrip _, "parse-generate", "Ecosystem.tsRoundtrip",
      Some("""WITH x AS (SELECT strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' Z' AS s FROM events),
         p AS (SELECT s, strptime(regexp_replace(s, ' Z$', ''), '%Y-%m-%dT%H:%M:%S') AS parsed
               FROM x)
         SELECT CAST(epoch(date_trunc('hour', parsed)) AS BIGINT) AS hstart,
           count(*) AS n, min(s) AS sample_ts
         FROM p GROUP BY 1""")),
    Query("eco_json_guard", Ecosystem.jsonGuard _, "parse-generate", "Ecosystem.jsonGuard",
      Some("""WITH x AS (SELECT event_type,
             CASE WHEN event_id % 97 = 0 THEN substr(props, 1, 3) ELSE props END AS raw
           FROM events)
         SELECT event_type, count(*) AS n_total,
           CAST(sum(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END) AS BIGINT) AS n_bad,
           CAST(sum(CASE WHEN json_valid(raw)
                    THEN CAST(json_extract_string(raw, '$.k') AS INT) END) AS BIGINT) AS sum_k
         FROM x GROUP BY 1""")),
    Query("eco_nested_struct", Ecosystem.nestedStruct _, "parse-generate", "Ecosystem.nestedStruct",
      Some("""SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
         FROM events GROUP BY event_type""")),
    Query("gen_events", Ecosystem.genEvents _, "parse-generate", "Ecosystem.genEvents",
      Some("""SELECT range AS id, md5(CAST(range AS VARCHAR)) AS synth_id,
           (['click','error','purchase','signup','view'])
             [CAST((range * 1103515245 + 12345) % 2147483648 % 5 AS INT) + 1] AS event_type,
           round(((range * 1103515245 + 12345) % 2147483648 % 10000) / 100.0, 4) AS value,
           1700000000 + range * 60 AS ts_epoch
         FROM range(0, 1000)""")),
    Query("llm_dedup_exact", Llm.dedupExact _, "llm-dedup", "Llm.dedupExact",
      Some("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash,
           count(*) AS n_docs, min(doc_id) AS keep_doc_id
         FROM documents GROUP BY 1""")),
    // All-pairs exact Jaccard over word-3-gram shingles (feasible at
    // sf0.01; the Spark side must find the same >=0.8 pairs via its
    // banded LSH + candidate-only verification).
    Query("llm_dedup_near", Llm.dedupNear _, "llm-dedup", "Llm.dedupNear",
      Some(raw"""WITH $docTokens,
         $shingleOverlap,
         j AS (SELECT doc_a, doc_b, n_common / (sa.n + sb.n - n_common) AS jac
               FROM i JOIN sizes sa ON sa.doc_id = doc_a
                      JOIN sizes sb ON sb.doc_id = doc_b)
         SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8""")),
    Query("llm_simhash", Llm.simhash _, "llm-dedup", "Llm.simhash",
      Some(raw"""WITH $simhashBits
         SELECT doc_id, CAST(sum(bit * (1::BIGINT << b)) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id""")),
    Query("llm_simhash_pairs", Llm.simhashPairs _, "llm-dedup", "Llm.simhashPairs",
      Some(raw"""WITH $simhashBits,
         sig AS (SELECT doc_id, sum(bit * (1::BIGINT << b)) AS simhash FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")),
    // Rolling char-8-gram fingerprints, "0 mod 16" selection; gram
    // hash = first 14 hex digits of md5 (same cross-engine trick as
    // llm_simhash). bit_xor folds the selected set order-free.
    Query("llm_fingerprint", Llm.fingerprint _, "llm-dedup", "Llm.fingerprint",
      Some(raw"""WITH $normText,
         g AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 8) AS g
               FROM d, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
               WHERE len(t) >= 8),
         h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 14))::BIGINT AS h FROM g)
         SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           coalesce(min(h) FILTER (WHERE h % 16 = 0), -1) AS min_fp,
           coalesce(bit_xor(h) FILTER (WHERE h % 16 = 0), -1) AS fp_xor
         FROM h GROUP BY doc_id""")),
    // winnowing (SWA 2003): guaranteed detection of shared substrings
    // >= 23 normalized chars; rollup + MOSS pair report + Lee-et-al
    // style per-doc duplicate coverage, all over `winnowSel`
    Query("llm_winnow", Llm.winnow _, "llm-dedup", "Llm.winnow",
      Some(raw"""WITH $winnowSel
         SELECT doc_id, count(*) AS n_sel, min(h) AS min_sel,
           bit_xor(h) AS sel_xor
         FROM sel GROUP BY doc_id""")),
    // MOSS-style pair report over the winnowed sets; fingerprints in
    // > 16 docs dropped as stop-grams (bounds the h-join fanout).
    Query("llm_dup_spans", Llm.dupSpans _, "llm-dedup", "Llm.dupSpans",
      Some(raw"""WITH $winnowSel,
         hd AS (SELECT h, count(*) AS nd FROM sel GROUP BY h),
         ok AS (SELECT sel.doc_id, sel.h FROM sel JOIN hd USING (h) WHERE nd <= 16),
         n AS (SELECT doc_id, count(*) AS ns FROM ok GROUP BY doc_id),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS shared
               FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, shared,
           round(CAST(shared AS DOUBLE) / (na.ns + nb.ns - shared), 6) AS jacc
         FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
         WHERE shared >= 2""")),
    // Per-doc duplicate coverage: fraction of the winnowed set shared
    // with any other document.
    Query("llm_dup_coverage", Llm.dupCoverage _, "llm-dedup", "Llm.dupCoverage",
      Some(raw"""WITH $winnowSel,
         hd AS (SELECT h, count(*) AS nd FROM sel GROUP BY h)
         SELECT sel.doc_id, count(*) AS n_sel,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS coverage
         FROM sel JOIN hd USING (h) GROUP BY sel.doc_id""")),
    // Per-source duplication report over the winnowed coverage; the
    // high-dup predicate is integer (2*shared >= sel), sums recast to
    // BIGINT (DuckDB sum widens to HUGEINT and would flip the schema).
    Query("llm_dup_sources", Llm.dupSources _, "llm-dedup", "Llm.dupSources",
      Some(raw"""WITH $winnowSel,
         hd AS (SELECT h, count(*) AS nd FROM sel GROUP BY h),
         cov AS (SELECT sel.doc_id, count(*) AS n_sel,
                   CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
                 FROM sel JOIN hd USING (h) GROUP BY sel.doc_id)
         SELECT d2.source, count(*) AS n_docs,
           CAST(sum(n_sel) AS BIGINT) AS n_sel_sum,
           CAST(sum(n_shared) AS BIGINT) AS n_shared_sum,
           round(CAST(sum(n_shared) AS DOUBLE) / sum(n_sel), 6) AS dup_rate,
           CAST(sum(CASE WHEN n_shared * 2 >= n_sel THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup
         FROM cov JOIN documents d2 USING (doc_id) GROUP BY d2.source""")),
    // Exact word-3-gram Jaccard over the doc_id < 50 diagnostic
    // slice (the oracle-checked twin of the n-gram near-dup family;
    // full-corpus scale path = llm_dedup_near's banded LSH).
    Query("llm_ngram_jaccard", Llm.ngramJaccard _, "llm-dedup", "Llm.ngramJaccard",
      Some(raw"""WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                       FROM documents WHERE doc_id < 50),
         $shingleOverlap
         SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_common,
           round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
         FROM i JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b""")),
    // Exact embedding-cosine pairs >= 0.35 among vec_id < 200 (the
    // oracle-checked twin of embedNearDup; cosine rounded to 6 on
    // both sides like llm_knn_exact).
    Query("llm_dedup_embed", (s, d) => Llm.dedupEmbed(s, d), "llm-dedup", "Llm.dedupEmbed",
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
                    FROM embeddings WHERE vec_id < 200),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(a.ve, b.ve), 6) AS cos_sim
               FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.35""")),
    Query("llm_dedup_clusters", Llm.dedupClusters _, "llm-dedup", "Llm.dedupClusters",
      Some(raw"""WITH RECURSIVE
         $dupClusters
         SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_n
         FROM lab""")),
    // Distinct word-8-gram overlap of each val/test doc against the
    // train split (same salted-hash split as llm_split). The oracle
    // joins exact gram strings where Spark joins 64-bit gram hashes.
    Query("llm_contamination", Llm.contamination _, "llm-dedup", "Llm.contamination",
      Some("""WITH b AS (SELECT doc_id, text,
             CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id, text,
                   ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100 AS h
                 FROM documents)),
         t AS (SELECT doc_id, split, string_split_regex(lower(trim(text)), '\s+') AS t FROM b),
         g AS (SELECT DISTINCT doc_id, split,
                 t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
                 t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7] AS g
               FROM t, LATERAL (SELECT unnest(range(1, len(t)-6)) AS i)
               WHERE len(t) >= 8),
         tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
         ev AS (SELECT doc_id, split, g FROM g WHERE split <> 'train')
         SELECT ev.doc_id, ev.split,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(tr.g) AS BIGINT) AS n_hit,
           round(count(tr.g) / count(*), 6) AS contam_frac
         FROM ev LEFT JOIN tr ON ev.g = tr.g
         GROUP BY 1, 2""")),
    Query("llm_dedup_incremental", Llm.dedupIncremental _, "llm-dedup", "Llm.dedupIncremental",
      Some(newBatchSurvivors)),
    // Segment granularity: 10-token windows, kept only at the
    // corpus-wide first (doc_id, position) occurrence; clean_hash
    // digests the order-preserving reassembly. generate_series +
    // list slicing replays Spark's sequence + slice exactly.
    Query("llm_segment_dedup", Llm.segmentDedup _, "llm-dedup", "Llm.segmentDedup",
      Some(raw"""WITH $tokenArrays,
         segs0 AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(0, CAST(floor((len(t)-1)/10) AS BIGINT)),
             i -> struct_pack(seg := i, seg_text := array_to_string(t[(i*10+1):(i*10+10)], ' ')))) AS u
           FROM toks
         ),
         segs AS (SELECT doc_id, u.seg AS seg, u.seg_text AS seg_text FROM segs0),
         ranked AS (
           SELECT doc_id, seg, seg_text,
                  row_number() OVER (PARTITION BY md5(seg_text) ORDER BY doc_id, seg) AS rn
           FROM segs
         )
         SELECT doc_id,
                count(*) AS n_segs,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS kept_frac,
                md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END, ' ' ORDER BY seg), '')) AS clean_hash
         FROM ranked GROUP BY doc_id""")),
    // bloom-prefiltered twin of llm_dedup_incremental: identical
    // output, only maybe-dup rows reach the exact anti-join
    //
    // the bloom prefilter changes data movement, never the answer —
    // the oracle is llm_dedup_incremental's, verbatim
    Query("llm_dedup_bloom", Llm.dedupBloom _, "llm-dedup", "Llm.dedupBloom",
      Some(newBatchSurvivors)),
    // incremental near-dup: new crawl probed against the existing
    // corpus's LSH band index, cross-era pairs only, exact-verified
    //
    // cross-corpus all-pairs exact Jaccard (old = src0..src9, new =
    // src10..src19) — llm_dedup_near's oracle restricted to
    // cross-era pairs; the Spark side must find the same >= 0.8
    // pairs by probing the old corpus's band index with new-batch
    // signatures only
    Query("llm_dedup_near_incr", Llm.dedupNearIncremental _, "llm-dedup", "Llm.dedupNearIncremental",
      Some("""WITH d AS (SELECT doc_id, text, CAST(substr(source, 4, 10) AS INT) AS src_n
                    FROM documents),
         toks AS (SELECT doc_id, src_n, string_split_regex(lower(trim(text)), '\s+') AS t
                  FROM d),
         sh AS (SELECT DISTINCT doc_id, src_n, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)
                WHERE len(t) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         i AS (SELECT a.doc_id AS old_id, b.doc_id AS new_id, count(*) AS n_common
               FROM sh a JOIN sh b ON a.s = b.s AND a.src_n < 10 AND b.src_n >= 10
               GROUP BY 1, 2),
         j AS (SELECT old_id, new_id, n_common / (sa.n + sb.n - n_common) AS jac
               FROM i JOIN sizes sa ON sa.doc_id = old_id
                      JOIN sizes sb ON sb.doc_id = new_id)
         SELECT new_id AS new_doc_id, old_id AS old_doc_id, round(jac, 6) AS jaccard
         FROM j WHERE jac >= 0.8""")),
    // Probes are vec_id < 10; cosine computed in double on both
    // sides, rounded to 6 before ranking so ordering ties break on
    // vec_id identically in both engines.
    Query("llm_knn_exact", Llm.knnExact _, "llm-similarity", "Llm.knnExact",
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         p AS (SELECT vec_id AS pid, ve AS pv FROM v WHERE vec_id < 10),
         s AS (SELECT pid AS probe_id, v.vec_id,
                 round(list_cosine_similarity(pv, ve), 6) AS sim
               FROM v, p WHERE v.vec_id <> pid),
         r AS (SELECT probe_id, vec_id, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
               FROM s)
         SELECT probe_id, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 10""")),
    Query("llm_ann_lsh", Llm.annLsh _, "llm-similarity", "Llm.annLsh"),
    Query("llm_ann_ivf", (s, d) => Llm.annIvf(s, d), "llm-similarity", "Llm.annIvf"),
    // probe-only steady state: llm_ann_ivfpq semantics against a
    // persisted per-dir index snapshot (built once, reloaded after)
    Query("llm_ann_probe", (s, d) => Llm.annProbe(s, d), "llm-similarity", "Llm.annProbe",
      snapshot = true),
    // All quantization arithmetic is double in the exact operator
    // order of the Spark side, so codes and errors are bit-identical.
    Query("llm_embed_quantize", Llm.embedQuantize _, "llm-similarity", "Llm.embedQuantize",
      Some("""WITH q AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                  CAST(list_min(embedding) AS DOUBLE) AS mn,
                  CAST(list_max(embedding) AS DOUBLE) AS mx
           FROM embeddings
         ),
         codes AS (
           SELECT vec_id, e, mn, mx,
                  list_transform(e, x -> CASE WHEN mx = mn THEN 0
                    ELSE LEAST(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT)) END) AS code
           FROM q
         )
         SELECT vec_id,
                md5(array_to_string(code, ',')) AS code_hash,
                round(list_max(list_transform(list_zip(e, code),
                      p -> abs(p[1] - (mn + (CAST(p[2] AS DOUBLE) + 0.5) * (mx - mn) / 255.0)))), 6) AS max_abs_err
         FROM codes""")),
    // no_oracle: quantized first stage is approximate — recall vs
    // llm_knn_exact pinned in LlmSpec
    Query("llm_knn_quantized", Llm.knnQuantized _, "llm-similarity", "Llm.knnQuantized"),
    // no_oracle: PQ-ADC first stage is approximate — recall floor +
    // run-to-run determinism pinned in LlmSpec
    Query("llm_ann_pq", (s, d) => Llm.annPq(s, d), "llm-similarity", "Llm.annPq"),
    // no_oracle: IVFADC composition (coarse cells + residual PQ) —
    // recall floor + determinism + pruning pinned in LlmSpec
    Query("llm_ann_ivfpq", (s, d) => Llm.annIvfPq(s, d), "llm-similarity", "Llm.annIvfPq"),
    Query("llm_text_stats", Llm.textStats _, "llm-text", "Llm.textStats",
      Some("""SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS sum_tokens,
           round(avg(len(string_split_regex(lower(trim(text)), '\s+'))), 4) AS avg_tokens,
           round(avg(length(text)), 4) AS avg_chars
         FROM documents GROUP BY lang""")),
    // lang-id oracle: the scored snippet's language is a closed
    // function of (lang, doc_id) — labeled lang, except doc_id % 5 ==
    // 0 rows get an English snippet — and LangIdSpec pins the
    // Cavnar-Trenkle scorer to 15/15 on the held-out snippets, so
    // the prediction IS the snippet language
    Query("llm_lang_id", Llm.langId _, "llm-text", "Llm.langId",
      Some("""SELECT lang,
           CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END AS pred_lang,
           count(*) AS n_docs
         FROM documents WHERE text IS NOT NULL GROUP BY 1, 2""")),
    Query("llm_quality", Llm.quality _, "llm-text", "Llm.quality",
      Some("""WITH f AS (SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_uniq,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
           FROM documents)
         SELECT doc_id, n_tokens, n_uniq,
           round(n_nonspace / n_tokens, 4) AS avg_token_len,
           round(n_uniq / n_tokens * least(1.0, n_tokens / 100.0), 6) AS quality
         FROM f""")),
    Query("llm_token_count", Llm.tokenCount _, "llm-text", "Llm.tokenCount",
      Some("""SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens
         FROM documents GROUP BY source""")),
    // no_oracle: DEFLATE ratio (DuckDB has no deflate) — the
    // Gopher-style redundancy signal; LlmSpec pins ordering,
    // determinism and bounds
    Query("llm_compress_ratio", Llm.compressRatio _, "llm-text", "Llm.compressRatio"),
    // mojibake repair: deliberately double-encoded rows repaired by
    // the strict-UTF-8 re-decode; recovered text stated by DuckDB
    //
    // mojibake-repair oracle: the garbling is synthesized (UTF-8
    // bytes of «text é read as Latin-1), so the correct repair IS
    // the marked original — recomputable engine-free
    Query("llm_fix_encoding", Llm.fixEncoding _, "llm-text", "Llm.fixEncoding",
      Some("""SELECT doc_id, true AS was_garbled,
                concat('«', text, 'é') AS fixed_text
         FROM documents WHERE text IS NOT NULL""")),
    // sliding-window chunker: 32-token windows, 8-token overlap at
    // the gate (testdata docs run <= ~100 tokens, so the production
    // 128/16 default would never exercise the multi-window path)
    //
    // sliding-window chunker oracle (32-token windows / stride 24,
    // the gate's multi-window regime): identical whitespace tokens,
    // window arithmetic ceil((n-32)/24)+1, 1-based inclusive list
    // slicing — chunk text reassembles from the same token list
    Query("llm_chunk", (s, d) => Llm.chunkDocs(s, d, chunkTokens = 32, overlap = 8),
      "llm-text", "Llm.chunkDocs",
      Some("""WITH toks AS (
           SELECT doc_id,
                  CASE WHEN regexp_matches(text, '\S')
                       THEN string_split_regex(trim(text), '\s+')
                       ELSE CAST([] AS VARCHAR[]) END AS t,
                  CASE WHEN regexp_matches(text, '\S')
                       THEN len(string_split_regex(trim(text), '\s+'))
                       ELSE 0 END AS n
           FROM documents WHERE text IS NOT NULL),
         counts AS (
           SELECT doc_id, t, n,
                  CASE WHEN n <= 32 THEN 1
                       ELSE CAST(ceil((n - 32) / 24.0) AS INT) + 1 END AS n_chunks
           FROM toks)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                CAST(least(32, n - i * 24) AS BIGINT) AS n_chunk_tokens,
                array_to_string(list_slice(t, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text
         FROM counts, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)""")),
    Query("llm_repetition", Llm.repetition _, "llm-text", "Llm.repetition",
      Some(raw"""WITH $docTokens,
         ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
         bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
                FROM ok, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         tg AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
                FROM ok, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)),
         bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_c
                   FROM bc GROUP BY 1),
         tstat AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT g) AS n_tri_d
                   FROM tg GROUP BY 1)
         SELECT b.doc_id, n_bigrams,
           round(max_c / n_bigrams, 6) AS top_bigram_frac,
           round((n_tri - n_tri_d) / n_tri, 6) AS dup_trigram_frac
         FROM bstat b JOIN tstat t ON b.doc_id = t.doc_id""")),
    // Top-100 vocabulary with corpus/document frequency and ln-idf;
    // (freq desc, token asc) tie-break makes the SET deterministic.
    Query("llm_vocab_topk", Llm.vocabTopK _, "llm-text", "Llm.vocabTopK",
      Some("""WITH toks AS (SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS corpus_freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           round(ln(n_docs / count(DISTINCT doc_id)), 6) AS idf
         FROM toks, n GROUP BY token, n_docs
         ORDER BY corpus_freq DESC, token LIMIT 100""")),
    // Injected-PII redaction: counts + md5 of the scrubbed text.
    // Injection expressions must match Llm.piiScrubOn digit for
    // digit — the scrub_hash compare is byte-exact.
    Query("llm_pii_scrub", Llm.piiScrub _, "llm-text", "Llm.piiScrub",
      Some("""WITH p AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
               THEN ' call +01-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
             CASE WHEN doc_id % 13 = 0
               THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS txt
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(txt, '\+[0-9]{2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(txt, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
             '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
             '\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g')) AS scrub_hash
         FROM p""")),
    // Character-entropy: the oracle sums k*log2(k) in sorted-char
    // order (ORDER BY inside the aggregate) to mirror the Spark
    // side's sorted fold, keeping the float rounding deterministic.
    Query("llm_char_entropy", Llm.charEntropy _, "llm-text", "Llm.charEntropy",
      Some("""WITH ch AS (SELECT doc_id,
             unnest(regexp_extract_all(regexp_replace(lower(text), '\s', '', 'g'), '.')) AS c
           FROM documents),
         cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
         tot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                   sum(k * log2(k) ORDER BY c) AS s
                 FROM cnt GROUP BY 1)
         SELECT doc_id, n AS n_chars_ns, round(log2(n) - s / n, 6) AS char_entropy
         FROM tot WHERE n > 0""")),
    // Exact interpolated percentiles: Spark `percentile` and DuckDB
    // `quantile_cont` share the rank = p*(n-1) linear-interpolation
    // definition; round-4 absorbs float formatting. (llm_heavy_hitters
    // is no_oracle by design: CMS estimates are sketch-valued — its
    // exact twin is llm_vocab_topk and the bound is pinned in LlmSpec.)
    Query("llm_length_quantiles", Llm.lengthQuantiles _, "llm-text", "Llm.lengthQuantiles",
      Some("""SELECT source, count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           round(quantile_cont(n_chars, 0.99), 4) AS p99,
           max(n_chars) AS max_chars
         FROM documents GROUP BY source""")),
    Query("llm_heavy_hitters", Llm.heavyHitters _, "llm-text", "Llm.heavyHitters"),
    Query("llm_unigram_logprob", Llm.unigramLogprob _, "llm-text", "Llm.unigramLogprob",
      Some("""WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents
         ),
         vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT sum(c) AS n FROM vocab)
         SELECT t.doc_id, count(*) AS n_toks,
                round(avg(-ln(v.c / CAST(tot.n AS DOUBLE))), 6) AS avg_neg_logp
         FROM toks t JOIN vocab v USING (tok), tot GROUP BY t.doc_id""")),
    Query("llm_tfidf_terms", Llm.tfidfTerms _, "llm-text", "Llm.tfidfTerms",
      Some("""WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents
         ),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / CAST(df.df AS DOUBLE)) AS score
           FROM tf JOIN df USING (term), n
         ),
         ranked AS (
           SELECT doc_id, term, score,
                  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
           FROM scored
         )
         SELECT doc_id, rank, term, round(score, 6) AS score
         FROM ranked WHERE rank <= 3""")),
    // Postings are canonicalized as "doc:pos" CSV ordered by
    // (doc_id, pos) — 0-based positions on both engines.
    Query("llm_inverted_index", Llm.invertedIndex _, "llm-text", "Llm.invertedIndex",
      Some(raw"""WITH $tokenArrays,
         p0 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
             i -> struct_pack(pos := i - 1, term := t[i]))) AS u
           FROM toks
         ),
         postings AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM p0)
         SELECT term, count(*) AS n_postings,
                count(DISTINCT doc_id) AS df,
                md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR),
                    ',' ORDER BY doc_id, pos)) AS postings_hash
         FROM postings GROUP BY term""")),
    // subword tokenization: the seed BPE model (merges trained from
    // the embedded corpus at class load) tokenizes synthesized
    // closed-form sample text distributed through the real kernel;
    // DuckDB restates tokens, count and the decode round-trip from
    // doc_id alone (the llm_url_normalize playbook)
    //
    // BPE oracle: the seed model's tokenization of the synthesized
    // sample text is a closed form of doc_id — BpeSpec pins the four
    // word tokenizations the forms rely on ('the' -> [the],
    // 'data zq' -> [data| z|q], 'thedata' -> [the|data], and the c3
    // sentence) — so DuckDB restates the token spelling, count and
    // decode round-trip per row via list comprehensions
    Query("llm_bpe_tokenize", Bpe.bpeTokenize _, "llm-text", "Bpe.bpeTokenize",
      Some(raw"""WITH $bpeSample,
              t AS (SELECT doc_id, bpe_case,
                      $bpeTokens
         SELECT doc_id, bpe_case,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                list_aggregate(toks, 'string_agg', '|') AS tokens,
                list_aggregate(toks, 'string_agg', '') AS decoded
         FROM t""")),
    // the BPE-token sibling of llm_chunk: windows of 4 subword
    // tokens, overlap 1, chunk text recovered by decoding the token
    // slice; same synthesized sample text, every chunk restated by
    // DuckDB via a list comprehension over the closed-form tokens
    //
    // same closed-form token sequence, sliced into 4-token windows
    // advancing by 3 and decoded per chunk (ltrim drops the slice's
    // leading word-boundary space)
    Query("llm_chunk_bpe", (s, d) => Bpe.chunkBpe(s, d), "llm-text", "Bpe.chunkBpe",
      Some(raw"""WITH $bpeSample,
              t AS (SELECT doc_id,
                      $bpeTokens,
              c AS (SELECT doc_id, toks, len(toks) AS n,
                      CASE WHEN len(toks) <= 4 THEN 1
                           ELSE CAST(ceil((len(toks) - 4) / 3.0) AS INT) + 1 END AS n_chunks
                    FROM t)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                CAST(least(4, n - i * 3) AS BIGINT) AS n_chunk_tokens,
                ltrim(list_aggregate(list_slice(toks, i * 3 + 1, i * 3 + 4), 'string_agg', '')) AS chunk_text
         FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)""")),
    Query("llm_split", Llm.splitFolds _, "llm-corpus", "Llm.splitFolds",
      Some(splitFold)),
    Query("llm_sample_stratified", (s, d) => Llm.sampleStratified(s, d),
      "llm-corpus", "Llm.sampleStratified",
      Some("""SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_source
         FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rn
               FROM (SELECT doc_id, source,
                       ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS rk
                     FROM documents))
         WHERE rn <= 20""")),
    // Mixture sampling: keep iff 56-bit salted hash % 100000 falls
    // under the source's integer threshold — exact integer compare,
    // no float probability anywhere.
    Query("llm_mix_weighted", Llm.mixWeighted _, "llm-corpus", "Llm.mixWeighted",
      Some("""WITH d AS (SELECT doc_id, source,
             CAST(substr(source, 4, 10) AS INT) AS src_n,
             ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100000 AS u
           FROM documents)
         SELECT doc_id, source, u AS mix_rank FROM d
         WHERE u < (src_n % 5 + 1) * 20000""")),
    // End-to-end curation: survivors = cluster representatives (the
    // same recursive-CTE closure as llm_dedup_clusters) that clear
    // the quality floor and the dup-trigram ceiling, labeled with
    // their llm_split fold. Filters run on the same expressions the
    // standalone oracles use, so each stage is already proven.
    Query("llm_curate", Llm.curate _, "llm-corpus", "Llm.curate",
      Some(raw"""WITH RECURSIVE
         $dupClusters,
         reps AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id),
         splits AS (${shift(splitFold, 2)}),
         base AS (SELECT tk.doc_id,
                    CAST(len(tk.t) AS BIGINT) AS n_tokens,
                    round(len(list_distinct(tk.t)) / len(tk.t)
                          * least(1.0, len(tk.t) / 100.0), 6) AS quality
                  FROM toks tk),
         tg AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
                FROM (SELECT doc_id, t FROM toks WHERE len(t) >= 3) ok,
                     LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)),
         dup AS (SELECT doc_id,
                   (count(*) - count(DISTINCT g)) / count(*) AS dup_frac
                 FROM tg GROUP BY 1)
         SELECT b.doc_id, s.split, b.n_tokens, b.quality
         FROM base b
         JOIN reps r ON r.doc_id = b.doc_id
         JOIN splits s ON s.doc_id = b.doc_id
         LEFT JOIN dup d ON d.doc_id = b.doc_id
         WHERE b.quality >= 0.15 AND coalesce(d.dup_frac, 0.0) <= 0.05""")),
    // A-Res weighted sampling: u from the salted 56-bit md5 prefix
    // (exact in doubles up to 2^53), ordered by the UNROUNDED
    // ln(u)/n_chars key on both engines; wkey is rounded only in the
    // projection, after the top-k cut.
    Query("llm_sample_weighted", (s, d) => Llm.sampleWeighted(s, d),
      "llm-corpus", "Llm.sampleWeighted",
      Some("""WITH s AS (
           SELECT doc_id, source, n_chars,
             (('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                % 9007199254740992 + 1) / 9007199254740992.0 AS u
           FROM documents)
         SELECT doc_id, source, n_chars, round(ln(u) / n_chars, 6) AS wkey
         FROM s ORDER BY ln(u) / n_chars DESC, doc_id LIMIT 50""")),
    // crawl-container ingestion: per-document two-record WARC
    // segments ride the real ISO-28500 record walk; the response
    // record's URI / length / payload recomputed by DuckDB
    //
    // real WARC-record-walk oracle: the synthesized two-record
    // segment is a pure function of (doc_id, source, text), so the
    // response record's every extracted field is recomputable
    // engine-free — the length is the UTF-8 byte count, the payload
    // round-trips the text itself
    Query("llm_warc_extract", graft.sources.Warc.warcExtract _, "llm-corpus", "Warc.warcExtract",
      Some("""SELECT doc_id, 2 AS n_records,
                concat('https://', source, '/doc/', doc_id) AS target_uri,
                CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
                text AS payload_text
         FROM documents WHERE text IS NOT NULL""")),
    // the full ingest path: gzip member -> record walk -> HTTP split;
    // status/type/body recomputed by DuckDB
    //
    // full ingest-path oracle (gunzip + record walk + HTTP split):
    // the synthesized gzipped segment wraps the text in a fixed HTTP
    // message, so every extracted field is recomputable engine-free
    Query("llm_warc_http", graft.sources.Warc.warcHttp _, "llm-corpus", "Warc.warcHttp",
      Some("""SELECT doc_id,
                'HTTP/1.1 200 OK' AS status_line,
                'text/html; charset=UTF-8' AS content_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes,
                text AS body_text
         FROM documents WHERE text IS NOT NULL""")),
    // the production-true entity path on top of that: chunked
    // transfer reassembly + Content-Encoding gunzip + BOM/charset/
    // UTF-8-sniff text decode; recovered text recomputed by DuckDB
    //
    // production-true entity-path oracle (chunked reassembly +
    // content-gunzip + charset decode): the synthesized message is a
    // pure function of (doc_id, text) — charset regime by doc_id%3,
    // the recovered text is the body marker-suffixed, and any stage
    // failing surfaces as a '!' sentinel that cannot match. The
    // ISO-8859-1 case projects the body onto U+00..U+FF on BOTH
    // sides (the Scala side drops chars ISO-8859-1 cannot encode,
    // this regex drops the same code points) so the leg holds on any
    // corpus, not just Latin-1-clean testdata
    Query("llm_warc_entity", graft.sources.Warc.warcEntity _, "llm-corpus", "Warc.warcEntity",
      Some("""SELECT doc_id, CAST(doc_id % 3 AS INT) AS charset_case,
                CASE doc_id % 3
                  WHEN 0 THEN 'text/plain; charset=UTF-8'
                  WHEN 1 THEN 'text/plain; charset=ISO-8859-1'
                  ELSE 'text/plain' END AS content_type,
                CASE doc_id % 3
                  WHEN 1 THEN concat(regexp_replace(text, '[^\x{00}-\x{FF}]', '', 'g'), ' é')
                  ELSE concat(text, ' é') END AS recovered_text
         FROM documents WHERE text IS NOT NULL""")),
    // HTML -> text between the entity decode and the quality family:
    // bounded single-pass tag/script/comment strip + entity decode;
    // the closed-form extraction restated by DuckDB
    //
    // HTML-extraction oracle: the synthesized page's visible text is
    // a closed form — the h1's entity-decoded 'Doc & <id>' plus the
    // escaped-then-extracted document text, whitespace-collapsed;
    // style/script/comment content must vanish for the row to match
    Query("llm_html_extract", graft.sources.Html.htmlExtract _, "llm-corpus", "Html.htmlExtract",
      Some(raw"""SELECT doc_id,
                $pageText
         FROM documents WHERE text IS NOT NULL""")),
    // the SEAM of the crawl chain: WARC member -> HTTP entity ->
    // charset decode -> html-text kernel -> tokens, one query; text
    // and token count both restated by DuckDB
    //
    // crawl-chain seam oracle: the recovered page's visible text is
    // the same closed form as llm_html_extract — but only if the
    // WARC member walk, HTTP unchunk, content-gunzip, charset decode
    // AND the html kernel each executed correctly in sequence; the
    // token count is 3 ('Doc & <id>') + the text's \s+ tokens
    Query("llm_crawl_extract", graft.sources.Html.crawlExtract _, "llm-corpus", "Html.crawlExtract",
      Some(raw"""SELECT doc_id,
                $pageText,
                CAST(3 + CASE WHEN regexp_matches(text, '\S')
                              THEN len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                              ELSE 0 END AS BIGINT) AS n_tokens
         FROM documents WHERE text IS NOT NULL""")),
    // crawl-policy audit: RFC 9309 parse + longest-match verdicts
    // distributed; the case table recomputed by DuckDB
    //
    // RFC 9309 verdict oracle: the synthesized policy and per-row
    // path make the correct verdict a closed form — allowed iff the
    // path hits the longest-match Allow (/data/pub overrides the
    // shorter /data Disallow) or misses the anchored wildcard
    // (*.log$ must not catch .txt)
    Query("llm_robots_filter", graft.sources.Robots.robotsFilter _,
      "llm-corpus", "Robots.robotsFilter",
      Some("""SELECT doc_id,
                CASE n_chars % 4
                  WHEN 0 THEN concat('/data/pub/', doc_id)
                  WHEN 1 THEN concat('/data/raw/', doc_id)
                  WHEN 2 THEN concat('/tmp/run', doc_id, '.log')
                  ELSE concat('/tmp/run', doc_id, '.txt') END AS url_path,
                (n_chars % 4) IN (0, 3) AS allowed
         FROM documents WHERE text IS NOT NULL""")),
    // crawl-frontier canonicalization: RFC 3986 syntax-based URL
    // normalization distributed; canonical forms stated by DuckDB
    //
    // RFC 3986 canonicalization oracle: each case's canonical form
    // is a closed function of (source, doc_id) — lower-cased host +
    // stripped default port, dot-segments collapsed, unreserved
    // escape decoded (%7E -> ~) with reserved escapes preserved and
    // hex upper-cased (%2f -> %2F), fragment dropped / query kept
    Query("llm_url_normalize", graft.sources.Urls.urlNormalize _, "llm-corpus", "Urls.urlNormalize",
      Some("""SELECT doc_id,
                CASE n_chars % 4
                  WHEN 0 THEN concat('HTTP://', upper(source), '.Example.COM:80/Doc/', doc_id)
                  WHEN 1 THEN concat('https://', source, '.example.com:443/a/./b/../doc/', doc_id)
                  WHEN 2 THEN concat('http://', source, '.example.com/%7Edoc/%2Fesc%2f/', doc_id)
                  ELSE concat('http://', source, '.example.com/doc/', doc_id, '?q=1&r=2#section-', doc_id)
                END AS url,
                CASE n_chars % 4
                  WHEN 0 THEN concat('http://', source, '.example.com/Doc/', doc_id)
                  WHEN 1 THEN concat('https://', source, '.example.com/a/doc/', doc_id)
                  WHEN 2 THEN concat('http://', source, '.example.com/~doc/%2Fesc%2F/', doc_id)
                  ELSE concat('http://', source, '.example.com/doc/', doc_id, '?q=1&r=2')
                END AS canonical_url
         FROM documents WHERE text IS NOT NULL""")),
    // the frontier pipeline chained end-to-end: extract links from
    // page markup -> resolve -> canonicalize -> host -> broadcast
    // per-host robots verdict -> seen-set collapse on the canonical
    // key; DuckDB recomputes every stage per doc
    //
    // frontier-composition oracle: every stage is a closed form of
    // (source, n_chars, doc_id) — the canonical URL each case's two
    // spellings collapse to, the host, the RFC 9309 verdict under
    // that host's policy (even-length sources additionally disallow
    // /doc, so case 3 is host-dependent), n_seen = the 2 aliases the
    // seen-set collapsed, first_doc_id = the lone contributing doc
    Query("llm_url_frontier", graft.sources.Urls.urlFrontier _, "llm-corpus", "Urls.urlFrontier",
      Some(raw"""SELECT
           $frontierRow,
           CAST(2 AS BIGINT) AS n_seen,
           doc_id AS first_doc_id
         FROM documents WHERE text IS NOT NULL""")),
    // outlink discovery: href/src extraction (quoted/unquoted,
    // comment/script decoys ignored) + RFC 3986 section-5 resolution
    // against the page URL + canonicalization, all columnar kernels;
    // DuckDB restates the eight resolved links per doc
    //
    // outlink-discovery oracle: the synthesized page embeds eight
    // extractable links (and three decoys in comment/script/style
    // that must NOT appear); each resolved+canonicalized target is a
    // closed form of (source, doc_id) — relative refs resolve against
    // the page URL http://<source>.example.com/d/<doc_id>/page.html
    Query("llm_html_links", graft.sources.Html.htmlLinks _, "llm-corpus", "Html.htmlLinks",
      Some("""SELECT doc_id, CAST(l.link_no AS BIGINT) AS link_no,
           CASE l.link_no
             WHEN 1 THEN concat('http://', source, '.example.com/static/site.css')
             WHEN 2 THEN concat('http://', source, '.example.com/d/js/app.js')
             WHEN 3 THEN 'https://other.example.org/x/y?z=1'
             WHEN 4 THEN concat('http://cdn.example.net/lib/v', doc_id, '.js')
             WHEN 5 THEN concat('http://', source, '.example.com/d/', doc_id, '/page2?a=1&b=2')
             WHEN 6 THEN concat('http://', source, '.example.com/d/', doc_id, '/page.html')
             WHEN 7 THEN concat('http://', source, '.example.com/d/', doc_id, '/bare/sub/page3')
             ELSE concat('http://', source, '.example.com/img/logo.png')
           END AS url
         FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS link_no) l
         WHERE text IS NOT NULL""")),
    // per-host politeness schedule over the frontier's admitted URLs:
    // deterministic per-host slots + fetch times, one host exchange,
    // per-partition sort only; DuckDB restates the window arithmetic
    //
    // politeness-schedule oracle: the frontier's closed form (the
    // llm_url_frontier oracle) filtered to allowed rows, then pure
    // window arithmetic — per-host dense slots ordered by
    // (first_doc_id, canonical_url), fetch time (slot-1) x the
    // host's own Crawl-delay (even-length sources declare 2 s in
    // frontierPolicy; odd declare none -> the 1 s default)
    Query("llm_frontier_schedule", graft.sources.Urls.frontierSchedule _,
      "llm-corpus", "Urls.frontierSchedule",
      Some(raw"""WITH f AS (
           SELECT
             ${shift(frontierRow, 2)},
             doc_id AS first_doc_id,
             CASE WHEN length(source) % 2 = 0 THEN 2000 ELSE 1000 END AS delay_ms
           FROM documents WHERE text IS NOT NULL)
         SELECT host, canonical_url, first_doc_id,
           CAST(row_number() OVER w AS BIGINT) AS slot,
           CAST(delay_ms AS BIGINT) AS delay_ms,
           CAST((row_number() OVER w - 1) * delay_ms AS BIGINT) AS fetch_at_ms
         FROM f WHERE allowed
         WINDOW w AS (PARTITION BY host ORDER BY first_doc_id, canonical_url)""")),
    // crawl-seed discovery: RFC 9309 sitemap records out of robots.txt
    // (global, group-independent) canonicalized into frontier seeds;
    // map-only, both surviving seeds restated by DuckDB
    //
    // seed-discovery oracle: the synthesized robots.txt names three
    // sitemaps per row — a relative one (dropped: not fetchable), a
    // messy-cased default-port one and a clean https index — and the
    // two survivors' canonical forms are closed in (source, doc_id)
    Query("llm_sitemap_seeds", graft.sources.Robots.sitemapSeeds _,
      "llm-corpus", "Robots.sitemapSeeds",
      Some("""SELECT doc_id, CAST(s.n AS BIGINT) AS sitemap_no,
           CASE s.n
             WHEN 1 THEN concat('http://', source, '.example.com/maps/sitemap-', doc_id, '.xml')
             ELSE concat('https://', source, '.example.com/sitemap-index.xml')
           END AS sitemap_url
         FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS n) s
         WHERE text IS NOT NULL""")),
    // the host-level web graph out of the closed crawl loop: links
    // extracted from page markup -> resolved -> canonicalized -> host
    // edges with multiplicity; DuckDB re-aggregates the closed form
    //
    // link-graph oracle: each page links to the three affine-map
    // targets (target 1 twice — anchor + img asset), self-loops drop;
    // the closed form re-aggregates host-pair multiplicities
    Query("llm_link_graph", graft.operators.LinkGraph.linkGraph _,
      "llm-corpus", "LinkGraph.linkGraph",
      Some(raw"""WITH d AS (SELECT doc_id % 101 AS src,
                  $linkTargets,
         raw AS (SELECT src, unnest([d1, d2, d3, d1]) AS dst FROM d)
         SELECT concat('h', CAST(src AS VARCHAR), '.example') AS src_host,
                concat('h', CAST(dst AS VARCHAR), '.example') AS dst_host,
                count(*) AS n_links
         FROM raw WHERE dst <> src GROUP BY 1, 2""")),
    // host authority: PageRank in exact fixed-point long arithmetic
    // (5 iterations, damping 85/100, 1e12 scale) — layout-independent
    // by construction; DuckDB restates every iteration
    //
    // host-rank oracle: the SAME fixed-point power iteration, unrolled
    // — base = 1e12 // N, teleport = (15*base) // 100, five steps of
    // r(v) = teleport + (85 * sum(r(u) // outdeg(u))) // 100. DuckDB's
    // // floor-division equals Spark's div on this non-negative domain
    Query("llm_host_rank", graft.operators.LinkGraph.hostRank _, "llm-corpus", "LinkGraph.hostRank",
      Some(raw"""WITH $hostRanks
         SELECT concat('h', CAST(h AS VARCHAR), '.example') AS host,
                CAST(r AS BIGINT) AS rank_scaled
         FROM p5"""), snapshot = true),
    // crawl-horizon reachability: min hop distance from the seed
    // hosts within 4 hops, frontier BFS over the materialized edge
    // set; DuckDB restates it as a depth-bounded recursive CTE
    //
    // link-BFS oracle: depth-bounded recursive walk with UNION dedup
    // (each (host, depth) pair once), min(d) = the BFS distance
    Query("llm_link_bfs", graft.operators.LinkGraph.linkBfs _, "llm-corpus", "LinkGraph.linkBfs",
      Some(raw"""WITH RECURSIVE $hostEdges,
         w AS (SELECT h, 0 AS depth FROM nodes WHERE h % 10 = 0
               UNION
               SELECT e.dst, w.depth + 1 FROM w JOIN e ON e.src = w.h
               WHERE w.depth < 4)
         SELECT concat('h', CAST(h AS VARCHAR), '.example') AS host,
                CAST(min(depth) AS BIGINT) AS dist
         FROM w GROUP BY 1"""), snapshot = true),
    // the link graph at crawl cadence: previous generation's edge
    // counts reloaded from a persisted parquet index, merged with the
    // new crawl's delta — old pages never re-extracted; both eras'
    // counts restated by DuckDB as conditional sums
    //
    // cross-era link-graph oracle: the same closed-form edge stream,
    // each era's multiplicity a conditional sum (prev = docs with
    // doc_id % 3 != 0, the persisted index; new = the % 3 == 0 crawl)
    Query("llm_link_incr", graft.operators.LinkGraph.linkIncr _, "llm-corpus", "LinkGraph.linkIncr",
      Some(raw"""WITH d AS (SELECT doc_id, doc_id % 101 AS src,
                  $linkTargets,
         raw AS (SELECT doc_id, src, unnest([d1, d2, d3, d1]) AS dst FROM d)
         SELECT concat('h', CAST(src AS VARCHAR), '.example') AS src_host,
                concat('h', CAST(dst AS VARCHAR), '.example') AS dst_host,
                CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
                CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                count(*) AS n_links
         FROM raw WHERE dst <> src GROUP BY 1, 2"""), snapshot = true),
    // the mixture step host authority exists FOR: per-document rank
    // bucket via one broadcast join of the host-sized rank table,
    // salted-hash keep rule weighted by the bucket; DuckDB restates
    // rank, bucket and keep per row
    //
    // authority-weighted mixing oracle: host rank from the SAME
    // unrolled 5-iteration CTE as llm_host_rank, bucketed around the
    // uniform base, salted-hash keep rule per row
    Query("llm_mix_ranked", graft.operators.LinkGraph.mixRanked _,
      "llm-corpus", "LinkGraph.mixRanked",
      Some(raw"""WITH $hostRanks
         SELECT doc_id,
                concat('h', CAST(doc_id % 101 AS VARCHAR), '.example') AS host,
                CAST(${shift(rankBucket, 1)} AS BIGINT) AS rank_bucket,
                u AS mix_rank
         FROM (SELECT doc_id,
                      ('0x' || substr(md5('mixrank:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100000 AS u,
                      p5.r, con.base
               FROM documents
               CROSS JOIN con
               LEFT JOIN p5 ON p5.h = doc_id % 101
               WHERE text IS NOT NULL) x
         WHERE u < ($rankBucket) * 15000"""), snapshot = true),
    // host authority at crawl cadence: the previous era ranks cold
    // (5 iterations), the merged graph re-ranks with 2 WARM
    // iterations seeded from those ranks; DuckDB restates the whole
    // chain in exact integer arithmetic
    //
    // warm-start authority oracle: era-A edges (doc_id % 3 != 0)
    // rank cold for 5 iterations, the merged graph's nodes seed from
    // them (new hosts at the merged base) and take 2 warm steps --
    // every stage exact integer arithmetic, restated verbatim
    Query("llm_host_rank_warm", graft.operators.LinkGraph.hostRankWarm _,
      "llm-corpus", "LinkGraph.hostRankWarm",
      Some(raw"""WITH d AS (SELECT doc_id, doc_id % 101 AS src,
                           ${shift(linkTargets, 9)},
              rawA AS (SELECT src, unnest([d1, d2, d3]) AS dst FROM d WHERE doc_id % 3 <> 0),
              eA AS (SELECT DISTINCT src, dst FROM rawA WHERE dst <> src),
              nA AS (SELECT src AS h FROM eA UNION SELECT dst FROM eA),
              cA AS (SELECT (1000000000000 // count(*)) AS base,
                            (15 * (1000000000000 // count(*))) // 100 AS tp FROM nA),
              dgA AS (SELECT src, count(*) AS outdeg FROM eA GROUP BY 1),
              a0 AS (SELECT h, base AS r FROM nA CROSS JOIN cA),
              ${shift(powerSteps("a", 5, "nA", "cA", "eA", "dgA"), 5)},
              rawF AS (SELECT src, unnest([d1, d2, d3]) AS dst FROM d),
              eF AS (SELECT DISTINCT src, dst FROM rawF WHERE dst <> src),
              nF AS (SELECT src AS h FROM eF UNION SELECT dst FROM eF),
              cF AS (SELECT (1000000000000 // count(*)) AS base,
                            (15 * (1000000000000 // count(*))) // 100 AS tp FROM nF),
              dgF AS (SELECT src, count(*) AS outdeg FROM eF GROUP BY 1),
              w0 AS (SELECT nF.h, coalesce(a5.r, cF.base) AS r
                     FROM nF CROSS JOIN cF LEFT JOIN a5 ON a5.h = nF.h),
              ${shift(powerSteps("w", 2, "nF", "cF", "eF", "dgF"), 5)}
         SELECT concat('h', CAST(h AS VARCHAR), '.example') AS host,
                CAST(r AS BIGINT) AS rank_scaled
         FROM w2"""), snapshot = true),
    // link-context features: anchor (href, text) pairs through the
    // graft_link_anchors kernel -> host edges -> top terms per
    // destination host; every per-doc term multiset restated by
    // DuckDB from the closed form and re-aggregated
    //
    // anchor-term oracle: each doc's three anchors carry closed-form
    // term multisets to closed-form destination hosts (self-loops
    // dropped like the link graph); DuckDB re-aggregates and re-ranks
    // with the same (count desc, term) total order
    Query("llm_anchor_terms", (s, d) => graft.operators.LinkGraph.anchorTerms(s, d),
      "llm-corpus", "LinkGraph.anchorTerms",
      Some("""WITH d AS (SELECT doc_id, doc_id % 101 AS s,
                           (doc_id * 2 + 1) % 101 AS d1, (doc_id * 3 + 7) % 101 AS d2
                    FROM documents WHERE text IS NOT NULL),
              raw AS (
                SELECT concat('h', d1, '.example') AS dst_host, t.term
                FROM d, (SELECT unnest(['fast','data','&','spark']) AS term) t WHERE d1 <> s
                UNION ALL
                SELECT concat('h', d2, '.example') AS dst_host, t.term
                FROM d, (SELECT unnest(['query','engine','scale']) AS term) t WHERE d2 <> s
                UNION ALL
                SELECT concat('h', d1, '.example') AS dst_host, t.term
                FROM d, (SELECT unnest(['data','engine']) AS term) t WHERE d1 <> s),
              agg AS (SELECT dst_host, term, count(*) AS n FROM raw GROUP BY 1, 2),
              rk AS (SELECT dst_host, term, n,
                       row_number() OVER (PARTITION BY dst_host ORDER BY n DESC, term) AS r
                     FROM agg)
         SELECT dst_host, CAST(r AS BIGINT) AS term_rank, term, CAST(n AS BIGINT) AS n
         FROM rk WHERE r <= 3""")),
    // seed discovery one hop further: sitemap DOCUMENT parsing —
    // urlset/sitemapindex entries (entity decode, CDATA, comment
    // decoys, lenient case) extracted by the real bounded walk and
    // canonicalized; every entry restated by DuckDB
    //
    // sitemap-document oracle: each synthesized body's typed entries
    // are a closed form of (source, doc_id) — the sitemapindex case
    // canonicalizes its second child (case/port/whitespace), the
    // urlset case decodes &amp;, keeps CDATA literal (raw & inside),
    // drops the comment decoy and surfaces the relative loc as a
    // visible '!', the upper-case case exercises lenient tags + %7E
    Query("llm_sitemap_urls", graft.sources.Sitemap.sitemapUrls _,
      "llm-corpus", "Sitemap.sitemapUrls",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 AS sitemap_case,
                           concat(source, '.example.com') AS h
                    FROM documents WHERE text IS NOT NULL),
              e AS (SELECT doc_id, sitemap_case,
                      CASE sitemap_case
                        WHEN 0 THEN [
                          {'kind': 'sitemap', 'loc': concat('https://', h, '/maps/child-a-', doc_id, '.xml')},
                          {'kind': 'sitemap', 'loc': concat('http://', h, '/maps/child-b-', doc_id, '.xml')}]
                        WHEN 1 THEN [
                          {'kind': 'url', 'loc': concat('https://', h, '/p/', doc_id, '?a=1&b=2')},
                          {'kind': 'url', 'loc': concat('https://', h, '/cdata/', doc_id, '?q=r&s=t')},
                          {'kind': 'url', 'loc': '!'}]
                        ELSE [
                          {'kind': 'url', 'loc': concat('http://', h, '/Upper/', doc_id)},
                          {'kind': 'url', 'loc': concat('https://', h, '/~doc/', doc_id)}]
                      END AS entries
                    FROM p)
         SELECT doc_id, sitemap_case, CAST(i + 1 AS BIGINT) AS entry_no,
                entries[i + 1].kind AS kind, entries[i + 1].loc AS loc_url
         FROM e, LATERAL (SELECT unnest(range(0, len(entries))) AS i)""")),
    Query("llm_media_meta", Llm.mediaMeta _, "multimodal", "Llm.mediaMeta",
      Some("""SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(text) AS BIGINT) AS first_byte,
           sha256(text) AS sha_hex,
           lang AS meta_lang
         FROM documents""")),
    // the typed media pipeline's oracled leg: per-doc decode metadata
    // through the REAL executor-side mapPartitions pass
    //
    // the typed decode pipeline's metadata is deterministic for stub
    // (text) payloads: n_bytes = UTF-8 byte length, n_frames =
    // ceil(n_bytes / 4) at the default stride — the oracle recomputes
    // both from documents, so the row only matches if the real
    // mapPartitions pipeline ran over every non-null-text row
    Query("llm_media_frames", graft.operators.Multimodal.mediaFrames _,
      "multimodal", "Multimodal.mediaFrames",
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS n_frames
         FROM documents WHERE text IS NOT NULL""")),
    // the REAL-decoder oracle: synthesized PGM payloads decoded
    // executor-side, pixel-sum checksum recomputed by DuckDB
    //
    // real-decoder oracle: the 32x1 PGM's pixels ARE the ASCII bytes
    // of md5(text), so the checksum is recomputable engine-free
    Query("llm_media_decode", graft.operators.Multimodal.mediaDecodeChecksum _,
      "multimodal", "Multimodal.mediaDecodeChecksum",
      Some(raw"""SELECT doc_id, 32 AS w, 1 AS h,
                CAST(SUM(ord(substr(md5(text), i, 1))) AS BIGINT) AS px_sum
         $md5CharRows""")),
    // same construction for the audio branch: synthesized 8-bit PCM
    // WAV payloads ride the real RIFF decode, sample-sum checksum
    // recomputed by DuckDB
    //
    // real audio-decoder oracle: the WAV's 32 data bytes ARE the
    // ASCII chars of md5(text); 8-bit PCM recenters each byte to
    // (b - 128) * 256, so the sample sum is recomputable engine-free
    Query("llm_media_wav", graft.operators.Multimodal.mediaWavChecksum _,
      "multimodal", "Multimodal.mediaWavChecksum",
      Some(raw"""SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
                CAST(SUM((ord(substr(md5(text), i, 1)) - 128) * 256) AS BIGINT) AS smp_sum
         $md5CharRows""")),
    // compressed-audio sibling: per-row-varying synthesized MP3s
    // (ID3v2 tag + CBR frame train) ride the real header walk;
    // frame count / duration / tag size recomputed by DuckDB
    //
    // real MP3-header-walk oracle: the synthesized stream's shape is
    // a pure function of n_chars (tag pad = n_chars % 16, frames =
    // 1 + n_chars % 8, MPEG1 Layer III 128 kbps 44100 Hz mono), so
    // frame count, floor-division duration and tag size are
    // recomputable engine-free
    Query("llm_media_mp3", graft.operators.Multimodal.mediaMp3Meta _,
      "multimodal", "Multimodal.mediaMp3Meta",
      Some("""SELECT doc_id,
                44100 AS sample_rate, 128 AS bitrate_kbps, 1 AS channels,
                CAST(1 + n_chars % 8 AS INT) AS n_frames,
                CAST(floor((1 + n_chars % 8) * 1152 * 1000.0 / 44100) AS BIGINT) AS duration_ms,
                CAST(10 + n_chars % 16 AS INT) AS id3_bytes
         FROM documents WHERE text IS NOT NULL""")),
    // video-container sibling: synthesized ISO-BMFF boxes ride the
    // real recursive box walk; brand / duration / tracks / dims
    // recomputed by DuckDB
    //
    // real MP4-box-walk oracle: the synthesized container's shape is
    // a pure function of n_chars (mvhd timescale 1000 / duration
    // n_chars·37 ms, 1 + n_chars % 3 tracks, 16.16 dims from
    // n_chars % 5, an mdat tail the walk must skip), so every field
    // is recomputable engine-free
    Query("llm_media_mp4", graft.operators.Multimodal.mediaMp4Meta _,
      "multimodal", "Multimodal.mediaMp4Meta",
      Some("""SELECT doc_id, 'isom' AS brand,
                CAST(n_chars * 37 AS BIGINT) AS duration_ms,
                CAST(1 + n_chars % 3 AS INT) AS n_tracks,
                CAST(16 * (1 + n_chars % 5) AS INT) AS w,
                CAST(9 * (1 + n_chars % 5) AS INT) AS h
         FROM documents WHERE text IS NOT NULL""")),
    Query("sink_partitioned", graft.sources.Sinks.partitionedRoundTrip _,
      "sink-layout", "Sinks.partitionedRoundTrip",
      Some("""SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE source IN ('src3', 'src7')
         GROUP BY source, lang""")),
    Query("sink_orc", graft.sources.Sinks.orcRoundTrip _, "sink-layout", "Sinks.orcRoundTrip",
      Some("""SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""")),
    // the length(text) = n_chars conjunct proves the text column
    // survived JSON escaping byte-for-byte on the read-back side
    Query("sink_jsonl", graft.sources.Sinks.jsonlRoundTrip _, "sink-layout", "Sinks.jsonlRoundTrip",
      Some("""SELECT source, count(*) AS n_docs
         FROM documents WHERE n_chars > 200 AND length(text) = n_chars
         GROUP BY source""")),
    // same text-survival conjunct, through the RFC-4180 CSV dialect
    Query("sink_csv", graft.sources.Sinks.csvRoundTrip _, "sink-layout", "Sinks.csvRoundTrip",
      Some("""SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE n_chars > 200 AND length(text) = n_chars
         GROUP BY lang""")),
    Query("sink_bucketed", graft.sources.Sinks.bucketedRoundTrip _,
      "sink-layout", "Sinks.bucketedRoundTrip",
      Some("""SELECT a.source AS source,
                CAST(sum(CASE WHEN a.text = b.text THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
         FROM documents a JOIN documents b ON a.doc_id = b.doc_id
         GROUP BY a.source""")),
  )

  /** Query name → builder, derived from `registry`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The registry as a SQL surface (round-11 verdict item 8):
    * registers every declared query as a named temp view over `dir`,
    * so a downstream user can `spark.sql("SELECT * FROM
    * q13_asof_join")` any declared query — the `eco_sql_stats`
    * serving path, generalized from one hand-registered view to the
    * whole registry. Registration is LAZY: a temp view stores the
    * analyzed logical plan, nothing executes until the view is
    * queried, so registering all ~90 costs milliseconds and each
    * query still optimizes end-to-end (filters a user writes over
    * the view push INTO the view's plan — it is one Catalyst tree,
    * not a materialization boundary). Exception: the iterative graph
    * legs (`llm_host_rank`, `llm_link_bfs`, like the collected Markov
    * matrix before them) run their bounded driver loops at
    * CONSTRUCTION time, and `llm_link_incr` / `llm_ann_probe` build
    * their persisted index snapshot on FIRST construction per
    * (dir, input-fingerprint) — so those views are snapshots of the
    * data at registration, the honest semantics for an iterative or
    * index-backed result; re-register to refresh. Because those legs
    * run real Spark jobs at CONSTRUCTION time, a caller who only
    * wants the lazy views can pass
    * `includeSnapshotLegs = false` and register the snapshot-
    * semantics legs individually later (each is one
    * `queries(name)(spark, dir).createOrReplaceTempView(name)`) —
    * registering the surface for unrelated queries then costs
    * milliseconds, not the graph family's iteration jobs. Returns
    * the registered names, sorted. */
  def registerSqlSurface(spark: SparkSession, dir: String,
      includeSnapshotLegs: Boolean = true): Seq[String] = {
    val legs = registry.filter(q => includeSnapshotLegs || !q.snapshot).sortBy(_.name)
    legs.foreach(q => q.run(spark, dir).createOrReplaceTempView(q.name))
    legs.map(_.name)
  }
}

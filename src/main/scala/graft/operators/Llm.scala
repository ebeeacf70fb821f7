package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SketchAggs
import graft.operators.Ckpt.CkptOps
import graft.plans.Kernels
import graft.sources.Tables

/** Large-scale training-data pipeline operators over the `documents`
  * and `embeddings` tables: deduplication (exact hash, MinHash-LSH,
  * SimHash), similarity search (exact cosine top-k + LSH-bucketed
  * ANN), and text analysis (token stats, language ID, quality
  * scoring). These go beyond the reference's surface (north-star
  * requirement); the sketch machinery is shared with the ecosystem
  * sketches (bloomfilter.py / minwisehashing.py ancestry).
  *
  * Scale posture, the common thread: nothing here is all-pairs.
  * Near-dup candidate generation is banded/bucketed (MinHash bands,
  * SimHash band keys, hyperplane buckets) so the quadratic step only
  * runs inside buckets; exact verification touches candidate pairs
  * only. Exact-twin queries exist where the approximate operator
  * is not deterministic enough for the hash-matching oracle.
  */
object Llm {

  // ---- shared text primitives -------------------------------------------

  /** The exact-dedup grouping hash: md5 of the whitespace-normalized
    * text (runs of whitespace collapsed, trimmed, lower-cased). The one
    * definition behind every exact-dup group, batch and streaming
    * (`Streaming.dedupDocs`). */
  private[graft] def textHash(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** The crawl era of a `documents` row: source `srcN` → N. The
    * incremental queries split the corpus at era 10 (existing
    * src0..src9, new batch src10..src19). */
  private def srcEra: Column = expr("cast(substring(source, 4, 10) as int)")

  /** The distinct word-3-gram shingles of a token array (>= 3 tokens)
    * — the unit of the near-dup Jaccard. */
  private def shingleSet(toks: Column): Column =
    array_distinct(transform(sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", toks(i), toks(i + 1), toks(i + 2))))

  /** (key, shingle) rows of a (key, toks) frame of >= 3-token rows. */
  private def shinglesOf(keyedToks: DataFrame): DataFrame =
    keyedToks.select(col("key"), explode(shingleSet(col("toks"))).as("shingle"))

  // ---- deduplication -----------------------------------------------------

  /** Exact dedup: group documents by `textHash`; each group keeps its
    * smallest doc_id. One scan, one shuffle on the 128-bit hash — the
    * canonical 100 TB exact-dedup plan (hash first, never compare raw
    * text). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), textHash(col("text")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))

  /** (doc_id, text, text_hash) of a (doc_id, text) frame: the working
    * set of every sketch-over-groups pipeline (near-dup, SimHash),
    * widened (see `Tables.widened`) and materialized once with an
    * eager localCheckpoint — without it, every broadcast exchange
    * re-executes the scan→md5→group subtree as its own (often
    * single-task) job, which round-3 profiling measured at 10-60 s of
    * pure recomputation at sf0.1. Checkpointed blocks are dropped by
    * the ContextCleaner when the frames are GC'd (no session-level
    * cache leak); a cluster run at 100 TB would use a reliable
    * checkpoint for the same stage cut. */
  private def exactGroups(docs: DataFrame): DataFrame =
    Tables.widened(docs)
      .select(col("doc_id"), col("text"), textHash(col("text")).as("text_hash"))
      .ckptLocal()

  /** One tokenized representative (smallest doc_id) per exact-duplicate
    * group of `exactGroups` output: (key = text_hash, toks), groups of
    * at least `minToks` tokens only. Tokenization normalizes exactly
    * the way `textHash` does (lower + trim + whitespace collapse), so
    * every member of a group has the representative's tokens. */
  private def repToks(m: DataFrame, minToks: Int): DataFrame =
    m.groupBy(col("text_hash"))
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("text_hash").as("key"), split(lower(trim(col("r.text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= minToks)

  /** Selects, at the kernel call sites that keep an independent SQL
    * formulation (MinHash signature, SimHash, band hashes, ADC,
    * char/gram run stats, gram hashes, fingerprint, winnow, term
    * counts, segments, postings, cosine, SRP, dequant, centroid, wire
    * decode), between the kernel and that reference:
    * `spark.graft.kernels.enabled`, default true. Kernels never need
    * the session extension, so the conf is the only switch;
    * `KernelParitySpec` flips it to pin whole-query agreement between
    * the two formulations. The first `false` answer in a session logs
    * one WARN, so the slower reference path is never silent. */
  private[graft] def kernelOn(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.kernels.enabled", "true").trim.toLowerCase match {
      case "true" | "1" | "yes" | "on"  => true
      case "false" | "0" | "no" | "off" =>
        if (kernelsOffWarned.put(spark, java.lang.Boolean.TRUE) == null)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "graft: spark.graft.kernels.enabled=false selects the SQL reference " +
              "formulations instead of the native kernels in this session")
        false
      case other => throw new IllegalArgumentException(
        s"spark.graft.kernels.enabled must be a boolean ('$other' given); " +
          "use true/false (1/0, yes/no, on/off accepted)")
    }

  /** The sessions `kernelOn` has warned about (weak: a stopped session
    * is not retained). */
  private val kernelsOffWarned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** The ADC table-lookup sum shared by the three PQ scan sites
    * (`annPq`, `probeAnnIndex`, streaming `annSuspects`): approx
    * dot = Σⱼ ptab[j·ks + codeⱼ] over a vector's `m` packed byte
    * codes. Kernel path: the codegen'd `graft_adc` (plans/AdcSum) —
    * one primitive loop per candidate inside WholeStageCodegen.
    * Fallback: the same fold as a SQL higher-order aggregate,
    * unpacking each code byte with hex/conv (binary has no SQL
    * subscript). Both accumulate left-to-right from 0.0, so the
    * paths are bit-identical (KernelParitySpec). */
  private[graft] def adcExpr(spark: SparkSession, m: Int, ks: Int): Column =
    if (kernelOn(spark)) Kernels("graft_adc", col("ptab"), col("code"), lit(ks))
    else expr(
      s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
          (a, j) -> a + element_at(ptab,
            j * $ks + cast(conv(hex(substring(code, j + 1, 1)), 16, 10) as int) + 1))""")

  /** The 128-slot MinHash signature of a token array (>= 3 tokens) as
    * struct(n = distinct-shingle count, sig), computed per row: every
    * shingle of a key comes from its own token array, so no shuffle
    * regroups shingles. `graft_minhash_sig` with kernels on; with
    * kernels off the same arithmetic as a SQL expression, bit-equal
    * (LlmSpec pins it on the corpus and edge fixtures; it is also the
    * streaming leg's signature, where only per-row expressions run).
    *
    * Kirsch-Mitzenmacher double hashing: each distinct shingle hashes
    * twice, h1/h2 = pmod(xxhash64(seed, s), 2^31), and slot i keeps
    * min (h1 + i·h2) mod 2^31 — 64x fewer string hash evaluations than
    * 128 seeded xxhash64 calls per shingle (the 31-bit range keeps
    * max h1 + 127·h2 < 2^38 overflow-free; slot collisions are
    * ~n_shingles/2^31 ≈ 1e-7 — no recall impact). The shingle-set
    * size rides along with the signature, and then through the band
    * join, so no separate size subquery rescans the corpus. */
  private[graft] def minhashSig(spark: SparkSession, toks: Column): Column =
    if (kernelOn(spark)) Kernels("graft_minhash_sig", toks)
    else {
      val m = lit(1L << 31)
      val sh = shingleSet(toks)
      val hashed = transform(sh, s =>
        struct(pmod(xxhash64(lit(1), s), m).as("h1"), pmod(xxhash64(lit(2), s), m).as("h2")))
      struct(size(sh).cast("long").as("n"),
        aggregate(hashed, array_repeat(lit(Long.MaxValue), 128), (acc, h) =>
          zip_with(acc, sequence(lit(0), lit(127)),
            (a, i) => least(a, pmod(h("h1") + i * h("h2"), m)))).as("sig"))
    }

  /** The band-hash expression over a `sig` column: 32 bands × 4 rows,
    * kernel with kernels on, seed-chained xxhash64 fold otherwise
    * (bit-equal; LlmSpec). The HOF lambda evaluates interpretively
    * (Slice.nullSafeEval was a top frame in warm llm_curate profiles);
    * the kernel is one primitive loop. Shared with the streaming
    * suspects leg. */
  private[graft] def bandHashesExpr(spark: SparkSession) =
    if (kernelOn(spark)) Kernels("graft_band_hashes", col("sig"))
    else expr("transform(sequence(0, 31), b -> xxhash64(b, slice(sig, b*4 + 1, 4)))")

  /** (key, n, band, band_hash) — each signature of a (key, n, sig)
    * frame exploded into its 32 band hashes, the unit the band join
    * buckets on. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("key"), col("n"), posexplode(bandHashesExpr(sigs.sparkSession)))
      .toDF("key", "n", "band", "band_hash")

  /** The band join: group pairs (hash_a from `x`, hash_b from `y`)
    * sharing any (band, band_hash) bucket and passing `keyPred` on
    * their keys — candidate pairs, each once, with their shingle-set
    * sizes (n_a, n_b). Never all-pairs: a jaccard-0.9 pair is missed
    * with probability (1-0.9⁴)³² ≈ 3e-7. A corpus's self join passes
    * `_ < _`; an index probe passes `_ =!= _`, so its candidates are
    * (index group, batch group) only — index×index and batch×batch
    * collisions never materialize, and a group on both sides never
    * pairs with itself (the exact-hash path covers that at 1.0). */
  private[graft] def bandPairs(x: DataFrame, y: DataFrame,
      keyPred: (Column, Column) => Column): DataFrame =
    bandsOf(x).as("x").join(bandsOf(y).as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          keyPred(col("x.key"), col("y.key")))
      .select(col("x.key").as("hash_a"), col("x.n").as("n_a"),
              col("y.key").as("hash_b"), col("y.n").as("n_b"))
      .distinct()

  /** Exact-Jaccard verification of band candidates (hash_a, n_a,
    * hash_b, n_b) against the groups' token arrays: the candidate
    * keys' shingles are exploded — restricted to CANDIDATE keys by a
    * semi-join first, since on a web corpus candidates are a tiny
    * fraction of groups — each pair is expanded by side a's shingles
    * and hash-joined against side b's set, and pairs at >= 0.8 are
    * kept: (hash_a, hash_b, jac). The candidates and the candidate
    * shingles each feed two joins, so both are materialized once.
    * `groups` are the (key, toks) sides the candidates came from; a
    * group on both sides of a probe carries identical toks (same
    * normalized text), so the key-dedup after their union is
    * value-stable. */
  private def verifiedPairs(cand: DataFrame, groups: DataFrame*): DataFrame = {
    val c = cand.ckptLocal()
    val candKeys = c.select(col("hash_a").as("key"))
      .unionByName(c.select(col("hash_b").as("key"))).distinct()
    val toks = groups.map(_.select(col("key"), col("toks"))).reduce(_ unionByName _)
      .join(candKeys, Seq("key"), "left_semi")
    val sh = shinglesOf(if (groups.size > 1) toks.dropDuplicates("key") else toks).ckptLocal()
    c.join(sh.select(col("key").as("hash_a"), col("shingle")), Seq("hash_a"))
      .join(sh.select(col("key").as("hash_b"), col("shingle")), Seq("hash_b", "shingle"))
      .groupBy(col("hash_a"), col("hash_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jac", col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jac") >= 0.8)
      .select(col("hash_a"), col("hash_b"), col("jac"))
  }

  /** Group pairs → doc pairs, the pair-list contract of `dedupNear` and
    * `simhashPairs`: any two members of one group in `groups` (key)
    * pair at `intra` (identical normalized text), and each group pair
    * (hash_a, hash_b, measure) pairs every member of one group with
    * every member of the other, inheriting the measure. Output:
    * (doc_a < doc_b, measure). The expansion is output-sized — the
    * irreducible cost of the pair-list contract (a production dedup
    * run would stop at the group table, i.e. `dedupExact`, or at
    * `dedupClusters`). */
  private def docPairs(members: DataFrame, groups: DataFrame, pairs: DataFrame,
      intra: Column): DataFrame = {
    val measure = pairs.columns(2)
    val vm = members.join(groups.select(col("key").as("text_hash")), Seq("text_hash"))
    val within = vm.as("m1").join(vm.as("m2"),
        col("m1.text_hash") === col("m2.text_hash") && col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"), intra.as(measure))
    val cross = pairs
      .join(members.select(col("text_hash").as("hash_a"), col("doc_id").as("ida")), Seq("hash_a"))
      .join(members.select(col("text_hash").as("hash_b"), col("doc_id").as("idb")), Seq("hash_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"), col(measure))
    within.unionByName(cross)
  }

  /** Near-dup detection via MinHash + LSH banding, exact-verified,
    * hardened against duplicate-heavy corpora:
    *  0. exact duplicates collapse to one representative per group
    *     (the `dedupExact` hash) BEFORE any pairwise step — web-scale
    *     corpora have huge exact-dup clusters, and without this the
    *     band buckets go quadratic in cluster size;
    *  1. one 128-slot MinHash signature per representative
    *     (`minhashSig`);
    *  2. 32 bands × 4 rows: groups sharing any band-hash become
    *     candidate pairs (`bandPairs`);
    *  3. candidates are verified with the exact shingle Jaccard at
    *     the representative level and kept at >= 0.8;
    *  4. group pairs expand back to doc pairs (`docPairs`):
    *     intra-group pairs are jaccard 1.0 by construction (identical
    *     normalized text ⇒ identical shingle set), cross-group pairs
    *     inherit their representatives' jaccard.
    * The oracle computes the same >= 0.8 pairs all-pairs in DuckDB —
    * feasible at sf0.01, which is exactly why the banded plan is the
    * one that ships: at 100 TB only step 3's candidate set is
    * quadratic, and it is tiny.
    *
    * NOTE: CONSTRUCTING this DataFrame runs Spark jobs (the eager
    * `localCheckpoint`s of `exactGroups`, the index groups, the
    * candidates and the candidate shingles). Callers composing plans
    * lazily should expect construction-time jobs here (also true of
    * `simhash` / `simhashPairs`). */
  def dedupNear(spark: SparkSession, dir: String): DataFrame =
    dedupNearOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The shared trunk of the near-dup pipeline: the corpus's own
    * `NearDupIndex` and the verified >= 0.8 Jaccard pairs BETWEEN its
    * exact-duplicate groups (hash_a < hash_b, jac) — the index
    * probing itself. `dedupNearOn` expands these to the doc-pair
    * contract; `dedupClustersOn` runs connected components over them
    * without ever materializing the quadratic expansion. */
  private def nearDupCore(docs: DataFrame): (NearDupIndex, DataFrame) = {
    val idx = buildNearDupIndex(docs)
    (idx, verifiedPairs(bandPairs(idx.groups, idx.groups, _ < _), idx.groups))
  }

  private[graft] def dedupNearOn(docs: DataFrame): DataFrame = {
    val (idx, repPairs) = nearDupCore(docs)
    // only the index's groups (>= 3 tokens) pair within themselves —
    // shorter docs are outside the near-dup domain, here and in the
    // oracle
    docPairs(idx.members, idx.groups,
      repPairs.select(col("hash_a"), col("hash_b"), round(col("jac"), 6).as("jaccard")),
      lit(1.0))
  }

  /** Dedup CLUSTERS — the production output of a dedup run: every
    * document labeled with its canonical cluster (cluster_id = min
    * doc_id among all exact-or-near duplicates, transitively) plus
    * the cluster size. Keeping `WHERE doc_id = cluster_id` is the
    * one-filter "keep one representative per cluster" policy.
    *
    * Scale shape: components run over the GROUP graph (one node per
    * distinct normalized text, edges = verified >= 0.8 group pairs) —
    * a web-scale duplicate cluster contributes ONE node, never its
    * quadratic pair expansion (`dedupNear`'s expansion is the
    * pair-list contract's cost, deliberately skipped here). Exact
    * duplicates are connected by construction (same group node), so
    * even sub-shingle-length texts cluster with their exact copies.
    * The closure itself is `Graph.connectedComponents` — ids-only
    * label frames, O(log diameter) rounds. Construction runs eager
    * localCheckpoint jobs (see `dedupNear`'s note). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def dedupClustersOn(docs: DataFrame): DataFrame = {
    val (idx, repPairs) = nearDupCore(docs)
    val members = idx.members
    // group node id = min doc_id of the group, so the component min
    // IS the min doc_id over every doc in the cluster
    val gid = members.groupBy(col("text_hash")).agg(min(col("doc_id")).as("gid"))
    // checkpointed: `ge` hangs off the band-join + shingle-verify
    // subtree (repPairs), and connectedComponents consumes it TWICE
    // (the symmetrized edge build and the endpoint node seed) — each
    // un-checkpointed consumer would re-execute the whole LSH verify
    // pipeline as its own job tree (measured ~2x the query's CPU at
    // sf0.1 before this cut)
    val ge = repPairs
      .join(gid.select(col("text_hash").as("hash_a"), col("gid").as("src")), Seq("hash_a"))
      .join(gid.select(col("text_hash").as("hash_b"), col("gid").as("dst")), Seq("hash_b"))
      .select(col("src"), col("dst"))
      .ckptLocal()
    // iterate ONLY over groups that touch a near edge — on a web
    // corpus the vast majority of groups have none, and an edgeless
    // node's component is itself, so it never needs to ride the CC
    // rounds' shuffles; the left join below folds it back in
    val endpoints = ge.select(col("src").as("id"))
      .unionByName(ge.select(col("dst").as("id"))).distinct()
    val comp = Graph.connectedComponents(endpoints, ge)
    members.join(gid, Seq("text_hash"))
      .join(comp, col("gid") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("gid")).as("cluster_id"))
      .withColumn("cluster_n",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
  }

  /** Incremental (cross-corpus) exact dedup — the recurring-crawl
    * stage of a corpus pipeline: a NEW batch of documents (sources
    * src10..src19) is deduplicated against the EXISTING corpus
    * (src0..src9) and within itself, keeping the smallest doc_id per
    * surviving normalized-text group. The reference only ever dedups
    * within one store (`consumer.py` upsert semantics); this is the
    * pipeline operator a crawl cadence actually needs.
    *
    * Scale shape: the existing corpus never materializes text — only
    * its distinct 128-bit hashes cross the wire into a left_anti
    * hash join keyed on the same column as the new batch's final
    * groupBy, so AQE plans one shuffle per side and the anti join
    * co-locates with the keep-min aggregation. At 100 TB the
    * existing-hash side would be a bucketed hash table on disk;
    * nothing here depends on it fitting in memory. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(Tables.documents(spark, dir))

  /** (doc_id, src_n = `srcEra`, text_hash) of a documents frame — the
    * hashes-only working set of both incremental exact-dedup twins. */
  private def eraHashes(docs: DataFrame): DataFrame =
    Tables.widened(docs).select(col("doc_id"), srcEra.as("src_n"),
      textHash(col("text")).as("text_hash"))

  private[graft] def dedupIncrementalOn(docs: DataFrame): DataFrame = {
    val d = eraHashes(docs)
    val existing = d.filter(col("src_n") < 10).select(col("text_hash")).distinct()
    d.filter(col("src_n") >= 10)
      .join(existing, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
           count(lit(1)).as("n_dups_in_batch"))
  }

  /** The Bloom-prefiltered twin of `dedupIncremental` — IDENTICAL
    * output (same DuckDB oracle), different data movement: instead
    * of anti-joining the whole new crawl against the existing-corpus
    * hashes, build a Bloom over those hashes (a mergeable partial
    * aggregation, ~1.2 MB per 10⁶ keys at 1% fpp), broadcast it, and
    * let only the MAYBE-dup rows (true dups + ~fpp of the rest)
    * reach the exact anti-join; bloom misses are DEFINITELY new
    * (no false negatives) and bypass the join entirely.
    *
    * Exactness: a true dup always hits the bloom, so it always
    * reaches the confirm join; a false positive reaches the join and
    * is cleared by it. The sketch changes WHERE rows go, never the
    * answer. At 100 TB this is the sketch-semi-join bandwidth trade:
    * the anti-join's probe side shrinks from the full crawl to
    * dups + fpp·crawl, and the corpus side ships as one broadcast
    * sketch instead of a shuffled hash table — the same pattern
    * Spark's own runtime-filter join pruning applies, made explicit
    * and sized from a cheap distinct-count pre-pass. The bloom probe
    * is a broadcast-reading Scala UDF (the same documented exception
    * as `Sketches.bloomMembers`; it runs only on the new-batch
    * filter, never inside a shuffle). */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame =
    dedupBloomOn(Tables.documents(spark, dir))

  private[graft] def dedupBloomOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{functions => F, Encoders}
    // materialized once: the scan→md5 working set feeds FIVE consumers
    // (the distinct-count pre-pass, the bloom build, both branches of
    // the maybe-dup union, and the confirm join's build side) — each
    // would otherwise re-run the scan + per-row md5 as its own job
    // (§8 doctrine, the `exactGroups` pattern). The frame is (id, int,
    // 128-bit hash) — never the text column.
    val d = eraHashes(docs).ckptLocal()
    val existing = d.filter(col("src_n") < 10).select(col("text_hash")).distinct()
    // size from a sketch pre-pass (undersizing only raises the fpp,
    // which only costs extra confirm-join rows, never correctness)
    val cap = math.max(64L,
      existing.agg(approx_count_distinct(col("text_hash")).as("n"))
        .head().getLong(0) * 3 / 2)
    val bloomUdaf =
      F.udaf(new SketchAggs.BloomAgg(expectedItems = cap, fpp = 0.01), Encoders.STRING)
    val bloomBytes = existing.filter(col("text_hash").isNotNull)
      .agg(bloomUdaf(col("text_hash"))).head().getAs[Array[Byte]](0)
    val bloom = SketchAggs.deserializeBloom(bloomBytes)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    // null text ⇒ null md5: route null-hash rows down the confirm-free
    // branch (a null key never matches a left_anti build row, so the
    // exact twin keeps them too — the twins stay bit-identical on
    // null-text corpora instead of this one NPE-ing in the probe)
    val mightBeDup = F.udf((h: String) => h != null && bc.value.mightContainString(h))
    val fresh = d.filter(col("src_n") >= 10)
    fresh.filter(mightBeDup(col("text_hash")))
      .join(existing, Seq("text_hash"), "left_anti")
      .unionByName(fresh.filter(!mightBeDup(col("text_hash"))))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
           count(lit(1)).as("n_dups_in_batch"))
  }

  /** Incremental NEAR-dup dedup — `dedupIncremental`'s fuzzy twin,
    * the crawl-cadence operator the dedup family was missing: every
    * NEW-batch document (src10..src19) paired with every EXISTING-
    * corpus document (src0..src9) whose word-3-gram Jaccard is
    * >= 0.8 — boilerplate re-crawls and light edits that exact
    * hashing can't catch. Output: (new_doc_id, old_doc_id, jaccard),
    * the decision table "drop these new docs, here's why".
    *
    * Scale shape vs `dedupNear`: the existing corpus's 32-band LSH
    * table is the BUILD/INDEX side — at a real cadence it is
    * precomputed once per corpus generation, bucketed on
    * (band, band_hash), and only the new batch computes signatures
    * and probes it (`bandPairs` with `=!=`). Old×old and new×new
    * bucket collisions never become candidate pairs, so per-crawl
    * work is probe-sized: O(new-batch bands + matched buckets), never
    * a full-corpus re-band. Candidates are exact-verified on shingles
    * (the same `verifiedPairs` trunk as `dedupNear`); same-text
    * cross-era pairs short-circuit the sketch entirely at jaccard 1.0
    * through the exact-hash path. The DuckDB oracle computes the
    * cross-corpus pairs all-pairs — feasible at sf0.01, which is
    * exactly why the indexed plan is the one that ships. */
  def dedupNearIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupNearIncrementalOn(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source")))

  /** A PERSISTABLE near-dup corpus index — the artifact a crawl
    * cadence saves once per corpus generation and probes every batch:
    *  - `groups`: one row per shingled exact-dup group — key =
    *    `dedupExact`'s text_hash, n = shingle-set size, sig = 128-slot
    *    MinHash signature, toks = the representative's token array
    *    (for exact verification of candidates; any member yields the
    *    same array — `repToks`'s invariant);
    *  - `members`: (text_hash, doc_id) for every corpus document.
    * Both are plain columnar frames: write to parquet, read back,
    * probe — LlmSpec round-trips exactly that. At 100 TB `groups`
    * would be written bucketed by key and its band explode
    * pre-materialized sorted on (band, band_hash). */
  final case class NearDupIndex(groups: DataFrame, members: DataFrame)

  /** Build the near-dup index of a corpus (`doc_id`, `text`): one
    * scan → exact-dup collapse → one `minhashSig` per shingled group
    * (>= 3 tokens — the near-dup domain). `groups` is materialized
    * once: the band join reads it on both sides and the candidate
    * shingles read its token arrays. */
  def buildNearDupIndex(docs: DataFrame): NearDupIndex = {
    val spark = docs.sparkSession
    val m = exactGroups(docs)
    val groups = repToks(m, 3)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("key"), minhashSig(spark, col("toks")).as("s"), col("toks"))
      .select(col("key"), col("s.n").as("n"), col("s.sig").as("sig"), col("toks"))
      .ckptLocal()
    NearDupIndex(groups, m.select(col("text_hash"), col("doc_id")))
  }

  /** Probe a corpus index with a new batch: the index's bands are the
    * build side, the batch's bands probe them (`bandPairs` with `=!=`
    * — no index×index or batch×batch candidates ever materialize),
    * exact Jaccard verification over candidate keys only, plus the
    * exact-hash short-circuit for same-text cross-era pairs. Output:
    * (new_doc_id, old_doc_id, jaccard) at >= 0.8. */
  def probeNearDupIndex(index: NearDupIndex, newDocs: DataFrame): DataFrame =
    probeNearDupIndexBuilt(index, buildNearDupIndex(newDocs))

  private def probeNearDupIndexBuilt(index: NearDupIndex,
      probe: NearDupIndex): DataFrame = {
    // (hash_a = index group, hash_b = batch group, jac)
    val pairs = verifiedPairs(bandPairs(index.groups, probe.groups, _ =!= _),
      index.groups, probe.groups)
    val oldDocs = index.members.select(col("text_hash"), col("doc_id").as("old_doc_id"))
    val newD = probe.members.select(col("text_hash"), col("doc_id").as("new_doc_id"))
    // cross-group near pairs expand to (index member × batch member)
    val near = pairs
      .join(oldDocs.withColumnRenamed("text_hash", "hash_a"), Seq("hash_a"))
      .join(newD.withColumnRenamed("text_hash", "hash_b"), Seq("hash_b"))
      .select(col("new_doc_id"), col("old_doc_id"), round(col("jac"), 6).as("jaccard"))
    // same-hash cross-era pairs are exact dups — jaccard 1.0 within
    // the shingled domain (the oracle only sees >= 3-token docs)
    val exact = oldDocs.join(newD, Seq("text_hash"))
      .join(probe.groups.select(col("key").as("text_hash")), Seq("text_hash"), "left_semi")
      .select(col("new_doc_id"), col("old_doc_id"), lit(1.0).as("jaccard"))
    near.unionByName(exact)
  }

  private[graft] def dedupNearIncrementalOn(docs: DataFrame): DataFrame = {
    // the registry form splits ONE documents table by source era; a
    // real cadence passes two genuinely distinct tables (and reads
    // the index from storage instead of rebuilding — see
    // NearDupIndex). The era split costs a second scan here, which
    // is the point: build and probe are independent pipelines.
    val d = docs.select(col("doc_id"), col("text"), (srcEra < 10).as("is_old"))
    // the two era indexes are INDEPENDENT pipelines until the band
    // probe, so their checkpoint chains materialize CONCURRENTLY
    // (Ckpt.par2 — the curate pattern, r21): the batch index's scan
    // overlaps the corpus index's shuffles instead of following its
    // barriers back to back
    val (index, probe) = Ckpt.par2(docs.sparkSession)(
      buildNearDupIndex(d.filter(col("is_old")).drop("is_old")),
      buildNearDupIndex(d.filter(!col("is_old")).drop("is_old")))
    probeNearDupIndexBuilt(index, probe)
  }

  /** 60-bit SimHash signatures per exact-duplicate GROUP over word
    * bigrams (with multiplicity — on this corpus distinct-token
    * SimHash is degenerate because all docs share a tiny vocabulary).
    * Identical normalized text ⇒ identical bigram multiset ⇒
    * identical signature, so the sketch is built once per distinct
    * text. The feature hash is md5-derived so the DuckDB oracle
    * reproduces it bit-for-bit. Returns (key = text_hash, simhash). */
  private def simhashSigs(m: DataFrame): DataFrame = {
    // per-representative sketch: with kernels on the whole
    // bigram → md5-60-bit → ±1 votes → sign fold runs as one native
    // pass per row (graft_simhash — every bigram of a key comes from
    // ONE representative row, same argument as graft_minhash_sig);
    // the explode + 60-column sum aggregation is the SQL reference
    // formulation. LlmSpec pins the signatures bit-equal.
    val toks = repToks(m, 2)
    if (kernelOn(m.sparkSession))
      toks.select(col("key"), Kernels("graft_simhash", col("toks")).as("simhash"))
    else simhashSigsHof(toks)
  }

  /** The explode + 60-vote aggregation formulation — the SQL
    * reference (kernels disabled) and the drift-pin twin of
    * `graft_simhash`. The signature is built as 60 plain per-bit vote
    * `sum()`s — a codegen'd HashAggregate with a primitive buffer.
    * Takes the tokenized reps (`key`, `toks`). */
  private[graft] def simhashSigsHof(toks: DataFrame): DataFrame = {
    val bigrams = toks
      .select(col("key"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))")).as("g"))
      .withColumn("hv", conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map(b =>
      sum(shiftright(col("hv"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v_$b"))
    bigrams.groupBy(col("key")).agg(votes.head, votes.tail: _*)
      .select(col("key"),
        (0 until 60).map(b => when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Per-document SimHash: the group signature joined back to group
    * members — at 100 TB the sketch build runs over distinct texts,
    * not documents (web corpora are duplicate-heavy). Construction
    * runs eager localCheckpoint jobs (see `dedupNear`'s note). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // m is read by both the member projection and the sig build
    val m = exactGroups(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    m.select(col("doc_id"), col("text_hash"))
      .join(simhashSigs(m), col("text_hash") === col("key"))
      .select(col("doc_id"), col("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance <= 3 using the
    * classic 4-band × 15-bit scheme: by pigeonhole, any pair within
    * distance 3 agrees exactly on at least one band, so the band
    * equi-join (bucketed, shuffle on band key) finds every such pair
    * without an all-pairs pass; the Hamming filter then runs on
    * candidates only. Like `dedupNear`, exact duplicates collapse to
    * one representative before the band join (they would otherwise
    * share every band bucket and make it quadratic in cluster size);
    * group pairs expand back to doc pairs at the end (`docPairs`,
    * intra-group = Hamming 0 by construction). Construction runs
    * eager localCheckpoint jobs (see `dedupNear`'s note). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // m (scan+md5) and sig feed four consumers each (band join sides,
    // member expansion, group filter) — materialize both once
    val m = exactGroups(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val sig = simhashSigs(m).ckptLocal()
    val bands = sig.select(col("key"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), b -> (simhash >> (b*15)) & 32767)")))
      .toDF("key", "simhash", "band", "band_key")
    val repPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.key") < col("y.key"))
      .select(col("x.key").as("hash_a"), col("y.key").as("hash_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    docPairs(m.select(col("doc_id"), col("text_hash")), sig, repPairs, lit(0L))
  }

  // ---- text analysis -----------------------------------------------------

  /** Corpus stats by language: doc counts, token counts (whitespace
    * tokenization), char counts. Plain partial-agg-friendly rollup. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("sum_tokens"),
           round(avg(col("n_tokens")), 4).as("avg_tokens"),
           round(avg(length(col("text"))), 4).as("avg_chars"))

  /** Language ID by Cavnar–Trenkle character-n-gram rank profiles
    * (operators/LangId.scala — the REAL public method, replacing the
    * round-≤17 four-rule char-class heuristic), reported as a
    * confusion matrix against the labeled `lang`. The testdata's
    * `text` is English-vocabulary filler whatever its label, so the
    * leg scores a deterministic HELD-OUT snippet per row instead:
    * snippet language = the labeled lang, EXCEPT every doc_id % 5 ==
    * 0 row deliberately gets an English snippet (so the matrix has
    * off-diagonal mass and a scorer that ignored its input would
    * fail); snippet variant = doc_id % 3; the row's doc_id is
    * appended (digits are outside the gram alphabet — the scorer
    * must ignore them). LangIdSpec pins all 15 (lang × variant)
    * held-out snippets to classify correctly, which is exactly what
    * makes the closed-form oracle sound; the REAL scorer runs
    * distributed via the `graft_lang_id` kernel — one map-only
    * codegen scan — and DuckDB restates the matrix from the case
    * arithmetic. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val effLang = when(pmod(col("doc_id"), lit(5)) === 0, lit("en"))
      .otherwise(col("lang"))
    val variant = pmod(col("doc_id"), lit(3)).cast("int")
    val snippet = LangId.heldOut.toSeq.sortBy(_._1).flatMap { case (l, ss) =>
      ss.zipWithIndex.map { case (s, v) => (l, v, s) }
    }.foldLeft(lit(null).cast("string")) { case (acc, (l, v, s)) =>
      when(effLang === l && variant === v, lit(s)).otherwise(acc)
    }
    // widened BEFORE the kernel evaluates (r21, guide §2.6/§2.3): the
    // single-split scan ran the whole per-row profile scorer as ONE
    // task (wall ≈ CPU ≈ 0.7 s at sf0.1); the scored text derives
    // from (doc_id, lang) only, so the round-robin exchange carries
    // two narrow columns — text is consumed by the pushed-down
    // isnotnull filter below the widen. Counting aggregate above:
    // layout-independent.
    Tables.widened(
        Tables.documents(spark, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang")))
      .withColumn("pred_lang", LangId.langCol(
        concat(snippet, lit(" "), col("doc_id").cast("string"))))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-document quality score: unique-token ratio × length factor
    * (saturating at 100 tokens), plus the raw features. All integer
    * features are surfaced as BIGINT so both engines agree on
    * schema. Tokens and raw text are derived in one select from a
    * single `documents` scan — a map-only plan, no join (the round-3
    * verdict flagged a tokenize-then-self-join formulation that read
    * the parquet twice and shuffled on doc_id for columns the first
    * scan already had). */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        (length(regexp_replace(col("text"), "\\s", "")) / size(col("toks"))).as("raw_tok_len"))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        round(col("raw_tok_len"), 4).as("avg_token_len"),
        round(col("n_uniq") / col("n_tokens") * least(lit(1.0), col("n_tokens") / 100.0), 6).as("quality"))

  /** Token counting two ways per source: plain whitespace and a
    * BPE-style pre-tokenization regex (letter runs | digit runs |
    * single non-alnum) — the standard cheap estimator for LLM token
    * budgets. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("n_bpe", size(expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_ws")).as("sum_ws_tokens"),
           sum(col("n_bpe")).as("sum_bpe_tokens"))

  /** Sliding-window document chunker (`llm_chunk`) — the pretraining
    * / RAG segmentation primitive: each document splits into windows
    * of `chunkTokens` whitespace tokens advancing by
    * `chunkTokens − overlap`, so consecutive chunks share `overlap`
    * tokens of context and every token lands in at least one chunk
    * (the last window may be shorter; a document at or under the
    * budget is exactly one chunk). Window count =
    * ceil((n − C)/stride) + 1 — the final window always contributes
    * new tokens, never a fully-contained duplicate.
    *
    * Entirely declarative — tokenize, window arithmetic, posexplode
    * over a sequence, slice + concat_ws — so the whole operator is
    * one codegen'd map-side pass with NO shuffle and output-sized
    * cost: at 100 TB chunking is a pure scan, embarrassingly
    * parallel by document, and composes upstream of the embedding /
    * dedup stages that consume chunks. Tokenization matches
    * `tokenCount`'s whitespace rule (and the DuckDB oracle's
    * `string_split_regex`) token for token. */
  def chunkDocs(spark: SparkSession, dir: String, chunkTokens: Int = 128,
      overlap: Int = 16): DataFrame =
    chunkFrame(Tables.documents(spark, dir), chunkTokens, overlap)

  /** Frame-level chunker core over any (doc_id, text) frame — batch
    * (`chunkDocs`) and streaming (`Streaming.chunkStream`) share it;
    * being a pure map-side projection it lifts per micro-batch
    * unchanged, the same contract as `decodeFeatures`. */
  private[graft] def chunkFrame(docs: DataFrame, chunkTokens: Int,
      overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .filter(col("text").isNotNull)
      // a whitespace-only document has ZERO tokens — `split(trim(""),
      // "\\s+")` says `[""]` (one phantom token; worse with tabs and
      // newlines, which `trim` does not strip), and a phantom token
      // count would lie to a downstream packing stage — so gate on
      // "contains any non-whitespace at all" explicitly
      .select(col("doc_id"),
        when(col("text").rlike("\\S"), split(trim(col("text")), "\\s+"))
          .otherwise(array().cast("array<string>")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks", when(col("n") <= chunkTokens, lit(1))
        .otherwise(ceil((col("n") - chunkTokens).cast("double") / stride).cast("int") + 1))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n_chunks") - 1)))
      .select(col("doc_id"),
        col("pos").as("chunk_idx"),
        least(lit(chunkTokens), col("n") - col("col") * stride)
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("col") * stride + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Compression-ratio quality signal (`llm_compress_ratio`) — the
    * Gopher/CCNet-style redundancy detector: template spam and
    * machine-generated boilerplate DEFLATE far below diverse prose,
    * so deflated-bytes / raw-bytes is a cheap, language-agnostic
    * quality feature (low ratio → repetitive; near/above 1 →
    * high-entropy garbage). Raw DEFLATE (nowrap, fixed level 6) via
    * the JDK so the measurement is header-free and deterministic;
    * one Deflater per partition, reset per row — no per-row
    * allocation beyond the output walk, constant memory at any
    * document size. Map-only: at 100 TB this is a pure scan like the
    * rest of the quality family. no_oracle by design (DuckDB has no
    * deflate); LlmSpec pins the discriminative ordering (repetitive
    * ≪ prose < shuffled-alphabet), run-to-run determinism, and
    * ratio sanity bounds. */
  def compressRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(6, true)
        val buf = new Array[Byte](65536)
        it.map { case (docId, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(raw)
          defl.finish()
          var out = 0L
          while (!defl.finished()) out += defl.deflate(buf)
          val ratio = if (raw.length == 0) 1.0 else out.toDouble / raw.length
          (docId, raw.length.toLong, out,
            BigDecimal(ratio).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.toDF("doc_id", "n_bytes", "n_deflated", "ratio")
  }

  /** Mojibake repair — the core double-encoding fix every web-corpus
    * cleaner ships (the ftfy trick): text that was UTF-8 on the wire
    * but decoded as Latin-1 somewhere upstream shows as `Ã©`-style
    * garbage; re-encoding the string as Latin-1 recovers the
    * original bytes, and if those bytes are STRICT valid UTF-8 whose
    * decode differs from the input, the string was double-encoded
    * and the decode is the repair. Conservative by construction:
    * genuine Latin-1-looking text (`café`) re-encodes to bytes that
    * are NOT valid UTF-8 (a lone 0xE9) and is left alone; pure ASCII
    * decodes to itself and is left alone; characters above U+00FF
    * cannot round-trip through Latin-1 and are left alone. Returns
    * Some(repaired) only when all three gates pass. */
  private[graft] def repairMojibake(s: String): Option[String] = {
    import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
    val bytes = s.getBytes(StandardCharsets.ISO_8859_1)
    if (new String(bytes, StandardCharsets.ISO_8859_1) != s) return None // chars > 0xFF
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out != s) Some(out) else None
    } catch { case _: CharacterCodingException => None }
  }

  /** The ORACLED leg (`llm_fix_encoding`): every document is wrapped
    * in non-ASCII guillemet/accent markers (the corpus text is pure
    * ASCII, where mojibake is invisible), deliberately double-encoded
    * the way a mislabeled pipeline would (UTF-8 bytes read as
    * Latin-1), and repaired DISTRIBUTED by the real detector. The
    * oracle states the repaired text directly from `documents` — a
    * row matches only if detection fired AND the repair recovered
    * the exact original, per row. */
  def fixEncoding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (docId, text) =>
          val clean = "«" + text + "é" // «text é — forces non-ASCII
          val garbled = new String(clean.getBytes(StandardCharsets.UTF_8),
            StandardCharsets.ISO_8859_1)
          repairMojibake(garbled) match {
            case Some(fixed) => (docId, true, fixed)
            case None => (docId, false, garbled)
          }
        }
      }.toDF("doc_id", "was_garbled", "fixed_text")
  }

  /** Per-source document-length distribution (p50/p90/p99/max) — the
    * corpus-profiling step that feeds sequence-length budgeting and
    * outlier cuts. Uses Spark's EXACT `percentile` (linear
    * interpolation, matching DuckDB `quantile_cont` digit for digit
    * after round-4) because per-source groups are modest; the
    * documented 100 TB path swaps in `approx_percentile` — same
    * query shape, mergeable t-digest-style buffers, no exact sort —
    * pinned within-error against the exact result in LlmSpec. */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("round(percentile(n_chars, 0.5), 4)").as("p50"),
        expr("round(percentile(n_chars, 0.9), 4)").as("p90"),
        expr("round(percentile(n_chars, 0.99), 4)").as("p99"),
        max(col("n_chars")).as("max_chars"))

  /** Weighted source mixing — the pretraining data-mixture operator:
    * each source gets a sampling weight (here a deterministic
    * function of the source number: (n%5+1)/5 → 0.2..1.0, standing
    * in for the quality/temperature weights a real mixture config
    * supplies) and each document is kept iff a content-free salted
    * hash of its stable id falls under the source's threshold. Pure
    * integer compare on a 56-bit md5 prefix — reproducible on any
    * engine, any partitioning, any run — the property mixture
    * resampling needs so a corpus rebuild yields the same tokens.
    * Map-only: one scan, zero shuffles, trivially parallel at
    * 100 TB. */
  def mixWeighted(spark: SparkSession, dir: String): DataFrame =
    mixWeightedOn(Tables.documents(spark, dir))

  private[graft] def mixWeightedOn(docs: DataFrame): DataFrame =
    Tables.widened(docs)
      .select(col("doc_id"), col("source"), srcEra.as("src_n"),
        (conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 14), 16, 10)
          .cast("long") % 100000L).as("u"))
      .filter(col("u") < (col("src_n") % 5 + 1).cast("long") * 20000L)
      .select(col("doc_id"), col("source"), col("u").as("mix_rank"))

  /** Vocabulary head — the first step of tokenizer training: top-100
    * tokens by corpus frequency with document frequency and
    * ln-idf, tie-broken (freq desc, token asc) so the result set is
    * deterministic. One explode + one partial-agg groupBy on token;
    * the corpus-size scalar rides a single-row broadcast (never a
    * driver collect); top-k is TakeOrdered, not a global sort. At
    * 100 TB the token groupBy is the canonical word-count shuffle —
    * map-side combine collapses each partition to its distinct
    * tokens before anything moves. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // with the term-counts kernel the input rows are already distinct
    // (doc, term) pairs, so corpus_freq is a plain sum and doc_freq a
    // plain count — no count_distinct, which otherwise rewrites to a
    // second (token, doc_id)-keyed aggregate over every token
    // occurrence (the expensive half of this query's round-7 CPU)
    val grouped =
      if (kernelOn(spark))
        termCountsOf(docs.select(col("doc_id"), col("text")))
          .groupBy(col("term").as("token"))
          .agg(sum(col("cnt")).as("corpus_freq"), count(lit(1)).as("doc_freq"))
      else
        Tables.widened(docs)
          .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("corpus_freq"), count_distinct(col("doc_id")).as("doc_freq"))
    grouped
      .crossJoin(broadcast(n))
      .select(col("token"), col("corpus_freq"), col("doc_freq"),
        round(log(col("n_docs") / col("doc_freq")), 6).as("idf"))
      .orderBy(col("corpus_freq").desc, col("token"))
      .limit(100)
  }

  /** Heavy-hitter tokens via Count-Min Sketch — `vocabTopK`'s
    * sketch-path twin, the shape that survives when the vocabulary
    * itself is too hot to exact-count in one pass (streams, or a
    * groupBy whose skewed head key melts a reducer). One pass over
    * the token stream: each partition folds its tokens into a local
    * d×w counter array (d=4 md5-derived Kirsch-Mitzenmacher rows,
    * w=8192 — CMS guarantees est ∈ [true, true + εN] w.h.p.) and
    * records local candidates by the pigeonhole rule (a token with
    * global count ≥ minCount must have local count ≥ minCount/P in
    * at least one of P partitions). Sketches merge by elementwise
    * add — the partial-aggregation property that makes the operator
    * mergeable across 1000 executors or micro-batches; the final
    * merge moves only P constant-size (256 KB) arrays plus the
    * candidate strings, never token-level data. Estimates = min over
    * the d rows, filtered to ≥ minCount. Deterministic (md5 hashes,
    * no RNG); pinned in LlmSpec against exact counts: never
    * underestimates, overestimate bounded. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOn(Tables.documents(spark, dir), minCount = 50L)

  private[graft] def heavyHittersOn(docs: DataFrame, minCount: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val depth = 4
    val width = 8192
    val toks = Tables.widened(docs)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .as[String]
    val nPart = math.max(1, toks.rdd.getNumPartitions)
    val localBar = math.max(1L, minCount / nPart)
    // writes the CMS row indices into a caller-owned buffer: the old
    // per-token form allocated a fresh Array[Int] plus two boxed
    // foldLeft Ranges PER TOKEN inside the sketch hot loop (r22;
    // identical arithmetic — same byte fold, same KM expansion)
    def rowsOf(t: Array[Byte], out: Array[Int]): Unit = {
      var h1 = 0L; var h2 = 0L
      var i = 0
      while (i < 8) { h1 = (h1 << 8) | (t(i) & 0xffL); i += 1 }
      while (i < 16) { h2 = (h2 << 8) | (t(i) & 0xffL); i += 1 }
      h2 |= 1L
      var d = 0
      while (d < depth) { out(d) = (((h1 + d * h2) & Long.MaxValue) % width).toInt; d += 1 }
    }
    val (sketch, candidates) = toks
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val arr = Array.ofDim[Long](depth * width)
        val rows = new Array[Int](depth)
        val local = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          rowsOf(md.digest(t.getBytes("UTF-8")), rows)
          var i = 0
          while (i < depth) { arr(i * width + rows(i)) += 1L; i += 1 }
          local.update(t, local.getOrElse(t, 0L) + 1L)
        }
        Iterator((arr, local.collect { case (t, c) if c >= localBar => t }.toArray))
      }
      // elementwise-add merge, combined as a depth-2 TREE: partials
      // merge pairwise on executors first, so the driver folds
      // ~sqrt(P) pre-combined buffers instead of P sequential 256 KB
      // merges — at fleet task counts the driver-side work stays
      // O(sqrt(P)) while the data-dependent part still never leaves
      // executors. The merge is commutative + associative
      // (elementwise long add; candidate-set union), so tree order
      // cannot change the result.
      .rdd.treeReduce({ (a, b) =>
        val m = a._1.clone()
        var i = 0
        while (i < m.length) { m(i) += b._1(i); i += 1 }
        (m, (a._2 ++ b._2).distinct)
      }, depth = 2)
    val md = java.security.MessageDigest.getInstance("MD5")
    val rowsBuf = new Array[Int](depth)
    val out = candidates.toSeq
      .map { t =>
        rowsOf(md.digest(t.getBytes("UTF-8")), rowsBuf)
        val est = (0 until depth).map(i => sketch(i * width + rowsBuf(i))).min
        (t, est)
      }
      .filter(_._2 >= minCount)
      .sortBy { case (t, est) => (-est, t) }
    out.toDF("token", "est_count")
  }

  /** PII scrubbing — redact emails / phone numbers / IPv4s and count
    * what was removed. The synthetic corpus carries no natural PII,
    * so the query injects deterministic doc_id-keyed contact strings
    * first (same pattern as `Ecosystem.jsonGuard`'s corrupt-row
    * injection: the operator under test is the scrub, the injection
    * just gives it work). Output is counts + md5 of the scrubbed
    * text, so the oracle verifies the redaction byte-for-byte
    * without shipping full text. Map-only: one scan, zero shuffles;
    * the three regexes are sequential `regexp_replace`s inside one
    * projection. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOn(Tables.documents(spark, dir))

  // LINEAR-TIME forms of the PII patterns. Spark's regexp_* run
  // java.util.regex, where the naive `[a-z0-9]+@…` is O(n²) on a
  // long unbroken alnum run with no '@' (the same hostile-input
  // class as the bounded HTML entity scan): the find loop retries
  // EVERY interior start of the run, and each retry re-consumes the
  // tail. Two changes, together linear, both semantics-preserving:
  //  - a negative lookbehind `(?<![a-z0-9])` pins match starts to
  //    RUN STARTS, so the n-1 interior retries fail in O(1) each —
  //    sound because any match's leading token run always extends
  //    left to its run start (the boundary chars '@'/'.' are outside
  //    the class), so no match is lost;
  //  - possessive `++` (never gives back) removes the within-start
  //    backtrack — also sound for the same reason: a shorter run
  //    would put a class character where the boundary char must be.
  // A long run is then consumed O(1) times per document instead of
  // O(n) times. LlmSpec pins greedy/linear equivalence by fuzz and
  // the megabyte-run timing. The DuckDB oracle keeps the plain
  // greedy syntax: RE2 is automata-based (always linear) and accepts
  // neither `++` nor lookbehind. The phone pattern starts with a
  // literal '+' and uses bounded quantifiers — already linear.
  private[graft] val piiEmailRe = "(?<![a-z0-9])[a-z0-9]++@[a-z]++\\.[a-z]++"
  private[graft] val piiPhoneRe = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"
  private[graft] val piiIpRe = "(?<![0-9])[0-9]++\\.[0-9]++\\.[0-9]++\\.[0-9]++"

  private[graft] def piiScrubOn(docs: DataFrame): DataFrame =
    Tables.widened(docs)
      .withColumn("txt", concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +01-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit(""))))
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(piiEmailRe)).cast("long").as("n_email"),
        regexp_count(col("txt"), lit(piiPhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("txt"), lit(piiIpRe)).cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("txt"),
          piiEmailRe, "<EMAIL>"), piiPhoneRe, "<PHONE>"), piiIpRe, "<IP>")).as("scrub_hash"))

  /** Per-document character-level Shannon entropy (a language-model
    * quality signal: boilerplate and mojibake sit at the entropy
    * extremes). Map-only like `repetitionOn`: H = log2(n) −
    * (Σ k·log2 k)/n over character frequencies k, zero exchanges,
    * with the Σ accumulated in sorted-character order so the float
    * fold is deterministic on any host; the oracle sums in the same
    * sorted order (`ORDER BY` inside its aggregate).
    *
    * Two formulations, hash-identical (PropertySpec pins them):
    * the native codegen'd kernel `graft_char_run_stats`
    * (plans/RunStats.scala — one fused pass, no regex, no
    * per-character array) with kernels on, and the interpreted HOF
    * fold (sort the char array, `aggregate` run lengths) as the SQL
    * reference. The kernel exists
    * because the HOF form was the engine's largest remaining CPU
    * constant (12.5 CPU-s at sf0.1, round-7 bench listener): HOF
    * lambdas evaluate interpreted, and `regexp_extract_all` builds a
    * single-codepoint string per character. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.widened(Tables.documents(spark, dir))
    if (kernelOn(spark)) charEntropyKernel(docs)
    else charEntropyHof(docs)
  }

  private[graft] def charEntropyKernel(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Kernels("graft_char_run_stats", lower(col("text"))).as("st"))
      .filter(col("st.n") > 0L)
      .select(col("doc_id"),
        col("st.n").as("n_chars_ns"),
        round(log2(col("st.n")) - col("st.ent_sum") / col("st.n"), 6).as("char_entropy"))

  private[graft] def charEntropyHof(docs: DataFrame): DataFrame = {
    val fin = "acc.s + if(acc.run > 0, cast(acc.run as double) * log2(cast(acc.run as double)), cast(0.0 as double))"
    val ent =
      s"""round(
         |  (log2(cast(size(chars) as double)) -
         |   aggregate(
         |     array_sort(chars),
         |     named_struct('prev', cast(null as string), 'run', cast(0 as bigint), 's', cast(0.0 as double)),
         |     (acc, x) -> if(acc.prev <=> x,
         |       named_struct('prev', x, 'run', acc.run + cast(1 as bigint), 's', acc.s),
         |       named_struct('prev', x, 'run', cast(1 as bigint), 's', $fin)),
         |     acc -> $fin)
         |   / cast(size(chars) as double)), 6)""".stripMargin
    docs
      .select(col("doc_id"),
        expr("regexp_extract_all(regexp_replace(lower(text), '\\\\s', ''), '.', 0)").as("chars"))
      .filter(size(col("chars")) > 0)
      .select(col("doc_id"),
        size(col("chars")).cast("long").as("n_chars_ns"),
        expr(ent).as("char_entropy"))
  }

  /** Deterministic train/val/test assignment (80/10/10) by salted
    * content-free hash of the stable document id — the standard
    * reproducible split for training corpora: membership is a pure
    * function of doc_id (stable under reshards, appends, and
    * re-partitioning; no RNG, no state), and the salt string
    * namespaces this split from any other hash use of the id. Map-only
    * plan, embarrassingly parallel. The md5-prefix hash is the
    * engine-portable family (14 hex digits < 2^56, so the modulo is
    * overflow-free and sign-free in both engines). */
  def splitFolds(spark: SparkSession, dir: String): DataFrame =
    withSplit(Tables.documents(spark, dir)).select(col("doc_id"), col("split"))

  /** Appends the deterministic `split` column ('train'/'val'/'test',
    * 80/10/10 by salted doc_id hash) to any frame carrying `doc_id` —
    * shared by `splitFolds` and `contamination` so both see the SAME
    * assignment. */
  private def withSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("b",
        pmod(conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 14), 16, 10)
          .cast("long"), lit(100L)))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .drop("b")

  /** Within-document repetition metrics (Gopher/RefinedWeb-style
    * quality rules, adapted to this corpus's newline-free word
    * streams): the mass of the most frequent word bigram and the
    * fraction of duplicated word trigrams. High values flag the
    * boilerplate/looping documents a training pipeline drops. Domain:
    * docs with >= 3 tokens (both metrics defined).
    *
    * Single-pass, shuffle-free: every statistic is per-document, so
    * each row computes its own stats with array higher-order
    * functions (see `repetitionOn`'s inline plan note) — one corpus
    * scan, zero exchanges. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOn(Tables.documents(spark, dir))

  private[graft] def repetitionOn(docs: DataFrame): DataFrame = {
    // Every statistic is PER-DOCUMENT, so nothing here needs a
    // shuffle: instead of exploding grams into a 300x row table and
    // aggregating it back (two groupBys + a join in the round-5
    // version), each row computes its own stats in one map-only pass
    // — max duplicate-bigram count = largest gram frequency (= the
    // longest equal run in the SORTED gram array), distinct trigrams
    // = number of distinct frequencies' keys. The plan is map-only:
    // at 100 TB it streams through the corpus scan with zero
    // exchanges. Two hash-identical formulations (PropertySpec pins
    // them): the native codegen'd `graft_gram_stats` kernel
    // (plans/RunStats.scala) with kernels on —
    // no interpreted `transform`/`aggregate` lambdas, no gram-array
    // materialization — and the HOF fold as the fallback.
    val spark = docs.sparkSession
    val toks = Tables.widened(docs)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
    val counted =
      if (kernelOn(spark)) repetitionKernelCounts(toks)
      else repetitionHofCounts(toks)
    counted.select(col("doc_id"), col("n_bigrams"),
      round(col("max_c") / col("n_bigrams"), 6).as("top_bigram_frac"),
      round((col("n_tri") - col("n_tri_d")) / col("n_tri"), 6).as("dup_trigram_frac"))
  }

  /** Gram counts via the native `graft_gram_stats` kernel — one
    * fused pass per row, no gram-array materialization. */
  private[graft] def repetitionKernelCounts(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
      Kernels("graft_gram_stats", col("toks"), lit(2)).as("bg"),
      Kernels("graft_gram_stats", col("toks"), lit(3)).as("tg"))
      .select(col("doc_id"),
        col("bg.n").as("n_bigrams"), col("bg.max_run").as("max_c"),
        col("tg.n").as("n_tri"), col("tg.n_runs").as("n_tri_d"))

  /** The interpreted-HOF gram counts (`transform` + sorted-run
    * `aggregate` + `array_distinct`) — the SQL reference and
    * the drift-pin twin of `graft_gram_stats`. Takes the tokenized
    * frame (`doc_id`, `toks`) and returns the pre-ratio counts. */
  private[graft] def repetitionHofCounts(toks: DataFrame): DataFrame = {
    val maxRun =
      """aggregate(
        |  array_sort(bigrams),
        |  named_struct('prev', cast(null as string), 'run', cast(0 as bigint), 'best', cast(0 as bigint)),
        |  (acc, x) -> named_struct(
        |    'prev', x,
        |    'run', if(acc.prev <=> x, acc.run + 1, cast(1 as bigint)),
        |    'best', greatest(acc.best, if(acc.prev <=> x, acc.run + 1, cast(1 as bigint)))),
        |  acc -> acc.best)""".stripMargin
    toks
      .select(col("doc_id"),
        expr("transform(sequence(1, size(toks)-1), i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))").as("bigrams"),
        expr("transform(sequence(1, size(toks)-2), i -> concat(element_at(toks, i), ' ', element_at(toks, i+1), ' ', element_at(toks, i+2)))").as("trigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        expr(maxRun).as("max_c"),
        size(col("trigrams")).cast("long").as("n_tri"),
        size(array_distinct(col("trigrams"))).cast("long").as("n_tri_d"))
  }

  /** Train/eval decontamination (GPT-3 appendix-C style): for every
    * val/test document, the fraction of its distinct word-8-grams
    * that also occur anywhere in the train split. A contaminated
    * benchmark doc (high `contam_frac`) must be dropped from eval —
    * or its near-copies dropped from train — before training.
    *
    * Scale shape: grams are hashed to 64 bits (xxhash64) on the
    * executor BEFORE the overlap join, so the shuffle carries 8-byte
    * keys instead of ~50-char strings; the train side is a distinct
    * gram-hash set (partial-agg distinct, map-side combined) and the
    * eval side is the 20% split — the join never touches text. The
    * oracle compares exact gram strings; a 64-bit collision inside
    * one doc's gram set is the usual negligible (~2^-57 per pair)
    * fingerprinting tradeoff. Domain: docs with >= 8 tokens. */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def contaminationOn(docs: DataFrame): DataFrame = {
    // gram hashing via the native kernel when available: the HOF
    // lambda evaluates interpretively per gram; the kernel is one
    // pass per row, bit-equal to the fold (pinned in LlmSpec)
    val gramsExpr =
      if (kernelOn(docs.sparkSession))
        Kernels("graft_gram_hashes", col("toks"), lit(8))
      else expr(
        "transform(sequence(1, size(toks)-7), i -> xxhash64(concat_ws(' ', slice(toks, i, 8))))")
    // NOT widened: the gram kernel here is cheap enough (<1 CPU-s at
    // sf0.1) that round-robin-shuffling the full text column costs
    // more CPU than the extra parallelism saves (measured +4.4 CPU-s,
    // +0.2 s wall when widened).
    val grams = withSplit(docs)
      .select(col("doc_id"), col("split"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), col("split"), explode(gramsExpr).as("g"))
      .distinct()
    val train = grams.filter(col("split") === "train").select(col("g")).distinct()
    grams.filter(col("split") =!= "train")
      .join(train.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
           coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hit"))
      .withColumn("contam_frac", round(col("n_hit") / col("n_grams"), 6))
  }

  /** Deterministic stratified downsampling: keep at most `cap`
    * documents per source, chosen by hash-rank over a salted doc_id
    * hash — the standard data-mix rebalancing step (cap the
    * over-represented crawl sources) made reproducible: membership is
    * a pure function of (doc_id, source, cap), stable under reshards
    * and appends-of-unrelated-sources, no RNG state.
    *
    * Scale shape: rank-within-stratum is a `row_number` over a
    * source-partitioned window with a `rn <= cap` filter directly on
    * top — Spark's WindowGroupLimit rule (pinned in PlanSpec) turns
    * that into a per-partition partial top-k BEFORE the shuffle, so a
    * hot source streams through a bounded heap instead of sorting its
    * whole stratum on one task. */
  def sampleStratified(spark: SparkSession, dir: String, cap: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 14), 16, 10)
          .cast("long").as("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("source"), col("rn").cast("long").as("rank_in_source"))

  /** The end-to-end corpus-curation pipeline as ONE declared query —
    * what a training run actually consumes: keep each dup-cluster's
    * representative (transitive exact+near closure, `dedupClusters`),
    * drop low-quality (< 0.15) and repetition-heavy (> 0.05 dup
    * trigrams) documents, and assign the deterministic train/val/test
    * fold. Demonstrates that the family composes: the output is the
    * curated corpus manifest (doc_id, split, n_tokens, quality).
    *
    * Scale shape: every per-document metric (split, token stats,
    * quality) is computed in ONE pass over a single `documents` scan
    * (map-only expressions over one `toks` array); the trigram
    * dup-rate is the only branch that needs a shuffle (explode →
    * per-doc agg) and joins back on doc_id; the dedup branch reuses
    * `dedupClusters`' group-collapsed LSH. No metric re-scans the
    * corpus — composing the standalone queries naively would read
    * the 100 TB input four times. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    // Both per-doc statistics come from the row's own token array
    // (the `repetitionOn` formulation): quality from distinct-token
    // ratio, dup_frac from duplicated trigrams — so the stats side is
    // ONE map-only scan, no explode, no groupBy shuffle, no rejoin.
    // Docs under 3 tokens get a null dup_frac (outside the trigram
    // domain), coalesced to 0 in the filter — the same semantics the
    // round-7 grouped formulation had via its left join. Distinct
    // counts come from the native graft_gram_stats kernel with
    // kernels on (n_runs of the 1-gram/3-gram frequency map ==
    // size(array_distinct(...)) of the materialized gram arrays,
    // without the interpreted transform + distinct per row); the HOF
    // expressions remain the SQL reference.
    // widened: a single-file documents scan is one partition, which
    // would serialize the kernelized stats scan into one task
    // (measured 1.07 s of the warm query's wall at sf0.1)
    val tokenized = withSplit(Tables.widened(Tables.documents(spark, dir).select(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("split"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val stats =
      if (kernelOn(spark))
        tokenized
          .select(col("doc_id"), col("split"), col("toks"),
            size(col("toks")).cast("long").as("n_tokens"),
            Kernels("graft_gram_stats", col("toks"), lit(1)).getField("n_runs").cast("int").as("n_uniq"),
            Kernels("graft_gram_stats", col("toks"), lit(3)).as("tg"))
          .withColumn("dup_frac", when(size(col("toks")) >= 3,
            (col("tg.n") - col("tg.n_runs")).cast("double") / col("tg.n")))
      else
        tokenized
          .select(col("doc_id"), col("split"), col("toks"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_uniq"))
          .withColumn("dup_frac", when(size(col("toks")) >= 3, expr(
            """cast((size(toks) - 2) - size(array_distinct(transform(sequence(1, size(toks)-2),
               i -> concat(element_at(toks, i), ' ', element_at(toks, i+1), ' ', element_at(toks, i+2)))))
               as double) / (size(toks) - 2)""")))
    val statsPlan = stats
      .withColumn("quality",
        round(col("n_uniq") / col("n_tokens") * least(lit(1.0), col("n_tokens") / 100.0), 6))
      .select(col("doc_id"), col("split"), col("n_tokens"), col("quality"), col("dup_frac"))
    // The dedup branch and the stats scan are independent until the
    // final semi join, so their materializations run CONCURRENTLY
    // (Ckpt.par2): dedupClusters' chain of checkpoint barriers
    // overlaps the stats scan instead of following it.
    //
    // The stats ckpt itself materializes the per-doc stats BEFORE the
    // quality filter: predicate pushdown otherwise substitutes the
    // filter's column references with their defining expressions and
    // sinks the condition into the parquet scan — the tokenize + gram
    // kernels re-evaluated up to 4x per row, inside the scan's single
    // partition where the widen can't help (FilterExec does no
    // common-subexpression elimination; ProjectExec does, so the
    // checkpointed projection computes each kernel once). Measured:
    // the 1.4 s single-task scan stage disappears from the warm
    // plan at sf0.1.
    val (reps, statsCk) = Ckpt.par2(spark)(
      dedupClusters(spark, dir)
        .filter(col("doc_id") === col("cluster_id")).select(col("doc_id")),
      statsPlan.ckptLocal())
    statsCk
      .join(reps, Seq("doc_id"), "left_semi")
      .filter(col("quality") >= 0.15 && coalesce(col("dup_frac"), lit(0.0)) <= 0.05)
      .select(col("doc_id"), col("split"), col("n_tokens"), col("quality"))
  }

  /** Exact word-3-gram Jaccard between documents — the deterministic
    * oracle-checked twin of the n-gram near-dup family, over the
    * bounded doc_id < 50 diagnostic slice (C(50,2) pairs; the scale
    * path for full corpora is `dedupNear`'s banded LSH, which runs
    * the same shingle Jaccard on candidates only). One shingle
    * self-join; sizes ride separate tiny aggregates. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesOf(Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id").as("key"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3))
    val sizes = sh.groupBy(col("key")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.key") < col("b.key"))
      .groupBy(col("a.key").as("doc_a"), col("b.key").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("key").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("key").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Exact embedding-cosine near-dup pairs — the oracle-checked twin
    * of `embedNearDup`, over the bounded vec_id < 200 diagnostic
    * slice (the synthetic corpus is near-orthogonal noise, so the
    * threshold sits at the distribution's tail; real corpora use the
    * LSH-bucketed `embedNearDupOn` whose planted-cluster recall is
    * pinned in LlmSpec). */
  def dedupEmbed(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val v = vecs(spark, dir).filter(col("vec_id") < 200)
    val cos =
      if (kernelOn(spark)) Kernels("graft_cosine", col("va"), col("vb"))
      else expr("aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 AS double), (a, x) -> a + x)" +
        " / (sqrt(aggregate(va, cast(0.0 AS double), (a, x) -> a + x * x))" +
        " * sqrt(aggregate(vb, cast(0.0 AS double), (a, x) -> a + x * x)))")
    v.select(col("vec_id").as("id_a"), col("v").as("va")).as("a")
      .join(v.select(col("vec_id").as("id_b"), col("v").as("vb")).as("b"),
        col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cos, 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Document fingerprinting via rolling character 8-grams with
    * "0 mod p" selection (p = 16) — the classic content-fingerprint
    * scheme (the ancestor of winnowing): every 8-char window of the
    * whitespace-normalized text is hashed, and the ~1/p of hashes
    * that are ≡ 0 (mod p) form the document's fingerprint set.
    * Deterministic and position-independent, so shared fingerprints
    * across documents survive local edits — the standard cheap
    * near-copy signal for training-data pipelines. The gram hash is
    * md5-derived (14 hex digits < 2^56) so the DuckDB oracle
    * reproduces it bit-for-bit. Per-doc rollup: gram count, selected
    * count, min fingerprint, xor-fold of the fingerprint set (an
    * order-independent set digest — summing would overflow BIGINT). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintOn(Tables.documents(spark, dir))

  private[graft] def fingerprintOn(docs: DataFrame): DataFrame = {
    val normed = docs
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= 8)
    if (kernelOn(docs.sparkSession))
      // one fused pass per row — the ~300x gram table never
      // materializes and the groupBy disappears with it; the widen
      // round-robin (BEFORE the kernel, so the md5 work spreads)
      // only fires on a below-parallelism scan
      Tables.widened(normed)
        .select(col("doc_id"), Kernels("graft_fingerprint", col("t")).as("fp"))
        .select(col("doc_id"), col("fp.n_grams").as("n_grams"),
          col("fp.n_selected").as("n_selected"),
          col("fp.min_fp").as("min_fp"), col("fp.fp_xor").as("fp_xor"))
    else fingerprintHof(normed)
  }

  /** The gram-explode + groupBy formulation — the SQL reference
    * and the drift-pin twin of `graft_fingerprint`. Takes
    * the normalized (`doc_id`, `t`) frame. */
  private[graft] def fingerprintHof(normed: DataFrame): DataFrame =
    normed
      // partition by doc_id BEFORE the gram explode: the per-gram md5
      // work spreads across cores regardless of scan granularity, and
      // the final groupBy(doc_id) reuses this partitioning instead of
      // shuffling the ~300x larger gram table
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(t) - 7), i -> substring(t, i, 8))")).as("g"))
      .withColumn("h", conv(substring(md5(col("g")), 1, 14), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("h") % 16 === 0, 1L).otherwise(0L)).as("n_selected"),
        // coalesce(-1): a doc with zero selected grams must stay
        // BIGINT, not null — nulls flip the oracle compare's column
        // to float64, which cannot hold these 2^56-range values
        coalesce(min(when(col("h") % 16 === 0, col("h"))), lit(-1L)).as("min_fp"),
        expr("coalesce(bit_xor(CASE WHEN h % 16 = 0 THEN h END), -1)").as("fp_xor"))

  // ---- winnowing fingerprints + duplicate spans --------------------------

  /** Winnow geometry shared with the kernel (plans/RunStats.scala):
    * k = 8 chars, w = 16 gram positions — any exact shared substring
    * of >= w + k - 1 = 23 normalized chars is guaranteed detected
    * (Schleimer-Wilkerson-Aiken, SIGMOD 2003). A gram's selection key
    * packs a 36-bit selection hash with the bit-complemented 24-bit
    * 1-based position, so min(key) = (min hash, rightmost) in one
    * BIGINT order both engines share. */
  private val WinnowW = graft.plans.RunStatsKernel.WinnowW
  private val WinnowSelMod = graft.plans.RunStatsKernel.WinnowSelMod
  private val WinnowPosMod = graft.plans.RunStatsKernel.WinnowPosMod

  /** Minimum normalized length of the winnow domain (w + k − 1 = 23):
    * shorter docs have no full window and select nothing. Shared with
    * the streaming leg so a geometry change cannot desynchronize the
    * filters (r21 advice). */
  private[graft] val MinWinnowLen = WinnowW + 7

  /** The kernel caps grams at the packing's 2^24 − 1 position domain
    * (RunStats.winnow); every fallback formulation applies the SAME
    * truncation so a >16.7M-char document cannot silently diverge
    * between kernel, HOF, per-row and oracle forms (r21 advice). */
  private[graft] val MaxWinnowGrams = WinnowPosMod - 1L

  /** The distinct winnowed fingerprint set per document:
    * (doc_id, h) with h the full 56-bit md5-derived gram hash of each
    * selected position. Kernel path: one fused `graft_winnow` pass
    * per row (sel comes back distinct + sorted, so explode IS the
    * set). Fallback: the gram explode + two window passes — the
    * min-of-trailing-window selection, then selected-position
    * recovery via "a position is selected iff some window ending at
    * or after it chose its key", i.e. max of the following window's
    * mins equals the key (wmin(e) <= key(p) whenever e's window
    * contains p, so exists == max). Both formulations are the same
    * arithmetic the DuckDB oracle restates. */
  private[graft] def winnowSelectedOn(docs: DataFrame): DataFrame = {
    val normed = docs
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= MinWinnowLen) // < w+k-1 chars => no full window
    if (kernelOn(docs.sparkSession))
      Tables.widened(normed)
        .select(col("doc_id"), explode(Kernels("graft_winnow", col("t")).getField("sel")).as("h"))
    else winnowSelectedHof(normed)
  }

  /** The gram-explode + two-window-pass formulation — the SQL
    * reference and the drift-pin twin of `graft_winnow`.
    * Takes the normalized (`doc_id`, `t`) frame (length >= 23). */
  private[graft] def winnowSelectedHof(normed: DataFrame): DataFrame = {
    val selWin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1), 0)
    val recWin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, WinnowW - 1)
    normed
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, least(length(t) - 7, ${MaxWinnowGrams}L)), " +
          "i -> struct(i AS pos, substring(t, i, 8) AS g))"))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").cast("long").as("pos"),
        conv(substring(md5(col("pg.g")), 1, 14), 16, 10).cast("long").as("h"))
      .withColumn("key",
        (col("h") % WinnowSelMod) * WinnowPosMod + (lit(WinnowPosMod - 1L) - col("pos")))
      .withColumn("wmin", when(col("pos") >= WinnowW, min(col("key")).over(selWin)))
      .withColumn("m", max(col("wmin")).over(recWin))
      .filter(col("m") === col("key"))
      .select(col("doc_id"), col("h"))
      .distinct()
  }

  /** Per-document winnowed fingerprint rollup: distinct selected
    * count, min fingerprint, xor-fold (order-free set digest — the
    * `llm_fingerprint` convention). The guaranteed-detection upgrade
    * of `fingerprint`'s 0-mod-p selection: winnowing's window
    * invariant bounds the gap between selections, so matches >= 23
    * chars CANNOT be missed, where 0-mod-p detection is only
    * probabilistic per gram. */
  def winnow(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    if (kernelOn(spark)) {
      // the kernel's array IS the per-doc set (distinct, sorted
      // ascending), and doc_id is the table key — the rollup is a
      // per-row fold: zero exchange, zero explode (PlanSpec pin)
      val normed = docs
        .select(col("doc_id"),
          regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
        .filter(length(col("t")) >= MinWinnowLen)
      Tables.widened(normed)
        .select(col("doc_id"), Kernels("graft_winnow", col("t")).getField("sel").as("sel"))
        .filter(size(col("sel")) > 0)
        .select(col("doc_id"), size(col("sel")).cast("long").as("n_sel"),
          expr("sel[0]").as("min_sel"),
          expr("aggregate(sel, CAST(0 AS BIGINT), (a, x) -> a ^ x)").as("sel_xor"))
    } else
      winnowSelectedOn(docs)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sel"), min(col("h")).as("min_sel"),
          expr("bit_xor(h)").as("sel_xor"))
  }

  /** Document pairs sharing >= 2 winnowed fingerprints — the
    * MOSS-style duplicate-span report. Fingerprints appearing in more
    * than 16 distinct documents are dropped as stop-grams (boilerplate
    * — standard MOSS practice), which is also what bounds the h-join
    * fanout at corpus scale: the pair explosion is capped at 16^2/2
    * per fingerprint, the same discipline as the LSH band join. The
    * score is Jaccard over each pair's non-stop fingerprint sets. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOn(Tables.documents(spark, dir))

  private[graft] def dupSpansOn(docs: DataFrame): DataFrame = {
    // §8 doctrine: frames consumed by 2+ branches materialize once.
    // `sel` feeds the stop-gram count and the keep-join (2 consumers);
    // `ok` feeds the per-doc sizes and BOTH sides of the pair join
    // (3 consumers) — without the checkpoints the winnow scan of the
    // corpus re-executes four times, which is the difference between
    // one pass and four at 100 TB. Both frames are selected-sized
    // (~12% of grams as 16-byte rows), not corpus-sized.
    val sel = winnowSelectedOn(docs).ckptLocal()
    val hDocs = sel.groupBy(col("h"))
      .agg(count(lit(1)).as("nd")) // (doc_id, h) is distinct => count == distinct docs
    val ok = sel.join(hDocs.filter(col("nd") <= 16).select("h"), "h").ckptLocal()
    val n = ok.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val pairs = ok.as("a").join(ok.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    pairs
      .join(n.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6)
          .as("jacc"))
  }

  /** Pure-expression per-row winnow (the streaming fallback — window
    * functions don't exist on streams, and kernels may be disabled):
    * the same gram hashes, packed keys, min-of-each-window selection and
    * position recovery as `graft_winnow`, entirely in higher-order
    * functions over one row. Requires columns `t` (normalized text,
    * length >= 23). Yields the sorted distinct selected hash array —
    * bit-equal to `graft_winnow(t).sel` (LlmSpec pins it). */
  private[graft] val rowWinnowHsSql: String =
    s"transform(sequence(1, least(length(t) - 7, ${MaxWinnowGrams}L)), " +
      "i -> cast(conv(substring(md5(substring(t, i, 8)), 1, 14), 16, 10) AS bigint))"

  private[graft] val rowWinnowKsSql: String =
    s"transform(__wn_hs, (x, i) -> " +
      s"(x % ${WinnowSelMod}L) * ${WinnowPosMod}L + (${WinnowPosMod - 1L}L - (i + 1)))"

  private[graft] val rowWinnowSelSql: String =
    s"""array_sort(array_distinct(transform(
       |  array_distinct(transform(sequence($WinnowW, size(__wn_hs)),
       |    e -> array_min(slice(__wn_ks, e - ${WinnowW - 1}, $WinnowW)))),
       |  k -> element_at(__wn_hs,
       |    cast(${WinnowPosMod - 1L}L - (k % ${WinnowPosMod}L) AS int)))))""".stripMargin

  /** Bind the per-row winnow working arrays as real columns over a
    * frame carrying normalized text `t` (length >= 23, the callers'
    * filter): `__wn_hs` = the gram-hash array (one md5 per gram),
    * `__wn_ks` = the packed selection keys. Spark higher-order
    * functions evaluate interpretively with no subexpression caching,
    * and the previous single-expression form re-evaluated the whole
    * md5 transform inside every one of the ~n window lambdas —
    * O(n²) md5 per document; a 100 KB doc in the no-kernel streaming
    * path could stall a micro-batch (r21 advice). With the arrays
    * bound below, `rowWinnowSelSql` is O(n·w) per row. Callers
    * consuming the selection should evaluate `rowWinnowSelSql`
    * DIRECTLY (e.g. explode it) rather than aliasing it first: an
    * aliased array column feeding explode gets an inferred
    * `size(col) > 0` filter pushed back through the projection,
    * re-evaluating the chain per row (the curate stats-barrier trap,
    * SURVEY §8). Same arithmetic in the same order as the kernel, so
    * the selection stays bit-equal to `graft_winnow(t).sel` (LlmSpec
    * pins it); grams cap at the kernel's 2^24−1 packing domain. */
  private[graft] def withRowWinnowCols(df: DataFrame): DataFrame =
    df.withColumn("__wn_hs", expr(rowWinnowHsSql))
      .withColumn("__wn_ks", expr(rowWinnowKsSql))

  /** The bound-column selection as a named array column (test /
    * array-consumer convenience; see `withRowWinnowCols`'s note on
    * why explode-consumers use the expression form instead). */
  private[graft] def withRowWinnowSel(df: DataFrame, out: String): DataFrame =
    withRowWinnowCols(df)
      .withColumn(out, expr(rowWinnowSelSql))
      .drop("__wn_hs", "__wn_ks")

  /** The winnowed-fingerprint corpus index for the streaming
    * duplicate-span filter: (h, suspect_of) over the existing corpus,
    * built batch-side and typically persisted to parquet (bucket by
    * `h` for an exchange-free stream-static probe at scale). */
  def buildWinnowIndex(docs: DataFrame): DataFrame =
    winnowSelectedOn(docs).select(col("h"), col("doc_id").as("suspect_of"))

  /** Per-document duplicate coverage: the fraction of a document's
    * winnowed fingerprints that also appear in at least one OTHER
    * document — the doc-level "how much of this text exists elsewhere
    * in the corpus" filter signal (the winnowed analogue of the
    * exact-substring dedup measure of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"). */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    dupCoverageOn(Tables.documents(spark, dir))

  private[graft] def dupCoverageOn(docs: DataFrame): DataFrame = {
    // `sel` feeds the share-count and the join (2 consumers) — one
    // winnow scan instead of two (§8 doctrine, as in dupSpansOn)
    val sel = winnowSelectedOn(docs).ckptLocal()
    val hDocs = sel.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    sel.join(hDocs, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sel"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_sel"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_sel"), 6).as("coverage"))
  }

  /** Per-SOURCE duplication report: the winnowed coverage rolled up
    * to the `source` column — docs, total/shared fingerprint sums,
    * duplicate rate, and the count of high-dup docs (more than half
    * their fingerprints shared — an integer predicate, `2·shared >=
    * sel`, so the oracle needs no float comparison). The curator's
    * "which sources are boilerplate farms" signal: rates feed the
    * same mixing-weight machinery as host authority (`mixRanked`).
    * Everything except the final rate division is exact long
    * arithmetic, so the aggregation is order-free on any layout. */
  def dupSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dupCoverageOn(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sel")).as("n_sel_sum"),
        sum(col("n_shared")).as("n_shared_sum"),
        sum(when(col("n_shared") * 2 >= col("n_sel"), 1L).otherwise(0L))
          .as("n_high_dup"))
      .select(col("source"), col("n_docs"), col("n_sel_sum"),
        col("n_shared_sum"),
        round(col("n_shared_sum").cast("double") / col("n_sel_sum"), 6)
          .as("dup_rate"),
        col("n_high_dup"))
  }

  // ---- similarity search -------------------------------------------------

  /** `(vec_id, v, nrm)`: the embeddings as double vectors with their
    * norms, the input of every kNN and ANN query. */
  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", expr("sqrt(aggregate(v, cast(0.0 AS double), (a, x) -> a + x * x))"))

  /** Cosine of the (v, pv) pair: the codegen'd native expression
    * (plans/CosineSimilarity) — one fused primitive loop inside
    * WholeStageCodegen — or, with kernels disabled, the interpreted
    * higher-order-function formulation. Both compose
    * the identical double arithmetic, so results hash-match either
    * way. */
  private def cosineSim(spark: SparkSession) =
    if (kernelOn(spark)) Kernels("graft_cosine", col("v"), col("pv"))
    else expr("aggregate(zip_with(v, pv, (x, y) -> x * y), cast(0.0 AS double), (a, x) -> a + x)") /
      (col("nrm") * col("pn"))

  /** `(vec_id, v, nrm)` rows as the probe side of a re-rank:
    * `(probe_id, pv, pn)`. */
  private def asProbes(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))

  /** The exact stage every kNN and ANN query ends with: per probe, the
    * 10 candidates of highest cosine (rounded to 6 places, ties by
    * vec_id). `cand` rows carry `(probe_id, vec_id, v, nrm, pv, pn)`;
    * ranking is a partitioned window (TakeOrdered per probe, no global
    * sort). */
  private def top10(spark: SparkSession, cand: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id").asc)
    cand
      .withColumn("sim", round(cosineSim(spark), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("probe_id"), col("vec_id"), col("sim"), col("rn"))
  }

  /** `top10` over ids-only candidates `(probe_id, vec_id)`: the float
    * vectors re-join from `corpus` and from the broadcast `probes`
    * (`asProbes` rows). Candidates carry ids only until here, so the
    * vectors cross no shuffle of the candidate stage. */
  private def rerank(spark: SparkSession, ids: DataFrame, corpus: DataFrame,
      probes: DataFrame): DataFrame =
    top10(spark, ids.join(corpus, Seq("vec_id")).join(broadcast(probes), Seq("probe_id")))

  /** The approximate stage of a two-stage kNN: per probe, the `keep`
    * candidates of highest `simq` (ties by vec_id), as
    * `(probe_id, vec_id)`. */
  private def approxTop(cand: DataFrame, simq: Column, keep: Int): DataFrame = {
    val wq = Window.partitionBy(col("probe_id")).orderBy(col("simq").desc, col("vec_id").asc)
    cand
      .withColumn("simq", simq)
      .withColumn("rnq", row_number().over(wq))
      .filter(col("rnq") <= keep)
      .select(col("probe_id"), col("vec_id"))
  }

  /** Exact cosine top-k (k=10) for each probe vector (vec_id < 10):
    * the brute-force baseline and the oracle-checked twin of the ANN
    * path. Probes are broadcast and the corpus is scanned once —
    * exactly the plan a 100 TB brute-force rerank uses. */
  def knnExact(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    top10(spark, all.crossJoin(broadcast(asProbes(all.filter(col("vec_id") < 10))))
      .filter(col("vec_id") =!= col("probe_id")))
  }

  /** The SRP bucket kernel in plain Scala — the UDF fallback's body,
    * exposed so PropertySpec can pin that this formulation and the
    * native expression's eval/codegen paths never drift (only one of
    * the two runs for a given `spark.graft.kernels.enabled`, so drift
    * would otherwise stay invisible). */
  private[graft] def srpBucketsScala(v: Seq[Double]): Array[Int] = {
    import graft.plans.SrpBuckets.{Dims, Planes, Tables => NT}
    val w = graft.plans.SrpBuckets.planeWeights
    val dims = math.min(v.length, Dims)
    Array.tabulate(NT) { t =>
      var bits = 0
      var p = 0
      while (p < Planes) {
        val base = (t * Planes + p) * Dims
        var dot = 0.0
        var d = 0
        while (d < dims) { dot += v(d) * w(base + d); d += 1 }
        if (dot > 0) bits |= (1 << p)
        p += 1
      }
      bits
    }
  }

  /** Scala-UDF reference for SRP bucket assignment (same LCG planes,
    * identical buckets to plans/SrpBuckets), used with kernels
    * disabled. */
  private def annBucketsUdf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    udf(srpBucketsScala _).apply(v)

  /** ANN via signed-random-projection LSH: 16 hash tables × 6
    * hyperplanes whose ±1 weights derive from xxhash64 (deterministic,
    * no stored model). Candidates = vectors sharing any table bucket
    * with the probe; exact cosine reranks candidates only. Approx by
    * construction → rows-only in the driver gate; LlmSpec asserts
    * recall@10 against `knnExact`. At scale the bucket join replaces
    * the brute-force scan with a shuffle on (table, bucket).
    *
    * Parameter note: the synthetic embeddings are near-orthogonal
    * noise (top-10 cosine ≈ 0.3, no label clustering), the
    * adversarial case for LSH — 16×6 yields ≈0.5 recall at ≈0.2
    * candidate fraction here. On a real clustered corpus the same
    * machinery gives high recall with far fewer tables; table/plane
    * counts are the tuning knobs. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    // Bucket assignment: the codegen'd native expression
    // (plans/SrpBuckets) — columnar ArrayData read, one primitive
    // loop nest inside WholeStageCodegen — or, with kernels disabled,
    // a closure-serialized Scala-UDF reference (same LCG planes,
    // identical buckets).
    val bucketsCol =
      if (kernelOn(spark)) Kernels("graft_srp_buckets", col("v"))
      else annBucketsUdf(col("v"))
    val all = vecs(spark, dir)
    // Only ids cross the bucket join and the candidate dedup — the
    // 64-dim vectors would otherwise ride every shuffle twice
    // (round-2 verdict nit); they are re-joined once per side after
    // the candidate set is distinct.
    val tabled = all.select(col("vec_id"), posexplode(bucketsCol))
      .toDF("vec_id", "t", "bucket")
    val probeBuckets = tabled.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("t"), col("bucket"))
    val candIds = tabled.join(probeBuckets, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    rerank(spark, candIds, all, asProbes(all.filter(col("vec_id") < 10)))
  }

  /** ANN via IVF (inverted-file) coarse quantization — the cluster-
    * pruned alternative to `annLsh`'s hash-bucketed path, the other
    * standard scale route for vector search:
    *  1. K coarse centroids from deterministic seeds (top-K vec_ids
    *     by xxhash64 — reproducible, no stored model) refined with
    *     `iters` Lloyd rounds; only K×dim sums cross to the driver
    *     per round, the assignment scan stays distributed;
    *  2. every vector lands in the inverted list of its nearest
    *     centroid (at 100 TB: write the corpus bucketed by this
    *     cluster id — the partition-pruned read IS the index);
    *  3. each probe searches only its `nprobe` closest lists;
    *     candidates rerank with the exact codegen'd cosine.
    * Approx by construction → rows-only in the driver gate; LlmSpec
    * pins recall vs `knnExact` and the pruning ratio. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 32, nprobe: Int = 6,
             iters: Int = 2, trainCap: Int = 100000): DataFrame = {
    import spark.implicits._
    val all = vecs(spark, dir)
    val p = pinned(spark, all, trainCap)
    val centroids = lloyd(spark, p.trainVecs, p.seeds(k), 1, iters, byCosine)(0)

    // Assignment pass: every vector → its inverted-list id. The
    // codebook is K×dim (driver-small) and travels as a constant-
    // folded literal into the codegen'd graft_nearest_centroid
    // kernel — columnar ArrayData in, one primitive loop nest, no
    // per-row Seq[Double] deserialization anywhere in the vector
    // path (round-3 verdict item 5). The mapPartitions reference
    // (kernels disabled) batches the same arithmetic.
    val assigned =
      if (kernelOn(spark)) {
        val codebook = array(centroids.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
        all.select(col("vec_id"),
          Kernels("graft_nearest_centroid", col("v"), codebook).as("cluster"))
      } else {
        val bc = spark.sparkContext.broadcast(centroids)
        p.all.mapPartitions { rows =>
          val cs = bc.value
          val norms = annCentroidNorms(cs)
          rows.map { case (id, v) => (id, annNearest(v, cs, norms, 1)(0)) }
        }.toDF("vec_id", "cluster")
      }
    val listed = all.join(assigned, Seq("vec_id"))
    // probe-side: nprobe closest lists per probe (10 probes — driver-tiny)
    val probes = all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
      .collect()
    val finalNorms = annCentroidNorms(centroids)
    val probeClusters = probes.flatMap { case (pid, pv, _) =>
      annNearest(pv, centroids, finalNorms, nprobe).map(c => (pid, c)) }.toSeq
      .toDF("probe_id", "cluster")
    val probeVecs = probes.toSeq.toDF("probe_id", "pv", "pn")
    top10(spark, listed.join(probeClusters, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(broadcast(probeVecs), Seq("probe_id")))
  }

  /** Embedding-cosine near-duplicate pairs — the vector-space member
    * of the dedup family (exact hash / MinHash-LSH / SimHash /
    * embedding cosine): SRP-LSH bucket self-join for candidates
    * (vectors sharing any of the 16 table buckets; never all-pairs),
    * then exact cosine verification at `threshold`, ids-only through
    * the bucket join exactly like `annLsh`. Verification makes
    * precision exact; recall comes from the LSH union bound — at
    * cosine ≥ 0.95 a pair shares a given table's bucket with
    * p = (1 - θ/π)^6 ≈ 0.88, so the miss probability across 16
    * tables is (1-p)^16 ≈ 1e-14. Not a declared query: the synthetic
    * `embeddings` table is near-orthogonal noise with no pairs above
    * any meaningful threshold (LlmSpec plants clusters instead). */
  def embedNearDup(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame =
    embedNearDupOn(spark,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v")),
      threshold)

  private[graft] def embedNearDupOn(spark: SparkSession, vecs: DataFrame,
                                    threshold: Double): DataFrame = {
    val buckets =
      if (kernelOn(spark)) Kernels("graft_srp_buckets", col("v"))
      else annBucketsUdf(col("v"))
    val tabled = vecs.withColumn("buckets", buckets)
      .select(col("vec_id"), posexplode(col("buckets"))).toDF("vec_id", "t", "bucket")
    val candIds = tabled.as("x").join(tabled.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val cos =
      if (kernelOn(spark)) Kernels("graft_cosine", col("va"), col("vb"))
      else expr("aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 AS double), (a, x) -> a + x)" +
        " / (sqrt(aggregate(va, cast(0.0 AS double), (a, x) -> a + x * x))" +
        " * sqrt(aggregate(vb, cast(0.0 AS double), (a, x) -> a + x * x)))")
    candIds
      .join(vecs.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos_sim", round(cos, 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  // ---- multimodal --------------------------------------------------------

  /** Multimodal column plumbing: documents' text re-materialized as
    * an opaque `binary` payload column with a typed metadata struct —
    * the schema shape an image/audio table has at 100 TB — and
    * metadata extraction over it (byte length, leading byte, SHA-256
    * content address, nested-struct field access). The decode /
    * feature-extraction path that needs real media codecs lives in
    * `Multimodal.decodeFeatures` (deterministic stub, see that
    * file); this query keeps the Spark-side schema + lineage real
    * and oracle-checked. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang").as("lang"), col("source").as("source")).as("meta"),
        ascii(col("text")).as("fb"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("fb").cast("long").as("first_byte"),
        sha2(col("payload"), 256).as("sha_hex"),
        col("meta.lang").as("meta_lang"))

  /** Segment-level (C4-style) dedup: documents are cut into
    * deterministic 10-token segments, each segment is kept only at
    * its corpus-wide FIRST occurrence (smallest (doc_id, position)),
    * and every document reports how much of it survived plus a hash
    * of its reassembled cleaned text. This is the span-granularity
    * complement to `dedupExact` (whole doc) and `dedupNear` (whole
    * doc, fuzzy): boilerplate repeated across pages is removed from
    * every page but its first.
    *
    * Scale shape: one explode (10x row count at ~10 tokens/segment,
    * but each row is a short string — the corpus in segments is the
    * corpus), one window partitioned BY SEGMENT HASH (first-occurrence
    * ranking shuffles on the hash — uniformly distributed, no hot
    * partition; a global sort would be wrong here and is avoided),
    * one groupBy doc_id to reassemble. The rejoin keeps segment order
    * with an array_sort over (position, text) structs — no second
    * window. */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedupOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def segmentDedupOn(docs: DataFrame): DataFrame = {
    // segment strings via the native kernel when available — same
    // interpreted-lambda-to-one-pass swap as the gram hashes, pinned
    // byte-equal in LlmSpec
    val segsExpr =
      if (kernelOn(docs.sparkSession))
        Kernels("graft_segments", col("t"), lit(10))
      else expr(
        "transform(sequence(0, cast(floor((size(t)-1)/10) as int)), i -> array_join(slice(t, i*10+1, 10), ' '))")
    val segs = Tables.widened(docs)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("t"))
      .select(col("doc_id"), posexplode(segsExpr))
      .toDF("doc_id", "seg", "seg_text")
    val ranked = segs.withColumn("rn", row_number().over(
      Window.partitionBy(md5(col("seg_text"))).orderBy(col("doc_id"), col("seg"))))
    ranked.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("rn") === 1, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        expr("md5(coalesce(array_join(transform(array_sort(" +
          "collect_list(case when rn = 1 then struct(seg, seg_text) end)), " +
          "x -> x.seg_text), ' '), ''))").as("clean_hash"))
      .withColumn("kept_frac", round(col("n_kept").cast("double") / col("n_segs"), 6))
      .select(col("doc_id"), col("n_segs"), col("n_kept"), col("kept_frac"), col("clean_hash"))
  }

  /** Unigram-LM quality proxy: every document scored by the average
    * negative log-probability of its tokens under the corpus's own
    * unigram distribution — the cheap stand-in for model-perplexity
    * filtering (high score = tokens the corpus rarely sees = likely
    * noise; near-uniform low score = templated text). Two passes over
    * the tokenized corpus: vocab counts, then a token→count join
    * probed by the same exploded frame.
    *
    * Scale shape: the tokenized frame is localCheckpoint'd once and
    * feeds both the vocab aggregation and the probe side, so the
    * corpus is tokenized exactly once. The vocab join shuffles on
    * token (both sides co-partitioned by the join key; AQE plans the
    * small vocab side as broadcast when it fits); the grand-total
    * rides in as a broadcast scalar. At 100 TB the classic refinement
    * is broadcast top-K vocab + an OOV tail mass — same plan minus
    * the shuffle — but the exact form is what an oracle can check. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def unigramLogprobOn(docs: DataFrame): DataFrame =
    unigramLogprobPath(docs,
      kernelOn(docs.sparkSession))

  /** Both formulations, selectable for the kernel-vs-fallback drift
    * pin (LlmSpec): the kernel path's count-weighted mean and the
    * fallback's per-occurrence mean are algebraically equal but sum
    * floats in different orders, so the pin proves the round(...,6)
    * output can't disagree between the two settings of
    * `spark.graft.kernels.enabled`. */
  private[graft] def unigramLogprobPath(docs: DataFrame, useKernel: Boolean): DataFrame = {
    if (useKernel) {
      // per-doc term counts from the kernel: the vocab aggregate and
      // the prob join ship one row per DISTINCT (doc, term) instead
      // of one per token occurrence, and the materialized working
      // set shrinks the same way. The per-doc average becomes the
      // algebraically-equal count-weighted form sum(cnt·(−log p)) /
      // sum(cnt) — same value, fewer float adds.
      val tc = termCountsOf(docs)
        .select(col("doc_id"), col("term").as("tok"), col("cnt"))
        .ckptLocal()
      val vocab = tc.groupBy(col("tok")).agg(sum(col("cnt")).as("c"))
      val tot = vocab.agg(sum(col("c")).as("n"))
      tc.join(vocab, Seq("tok"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_toks"),
             round(sum(col("cnt") * -log(col("c") / col("n").cast("double"))) / sum(col("cnt")), 6)
               .as("avg_neg_logp"))
    } else {
      val toks = Tables.widened(docs)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .ckptLocal()
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = vocab.agg(sum(col("c")).as("n"))
      toks.join(vocab, Seq("tok"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
             round(avg(-log(col("c") / col("n").cast("double"))), 6).as("avg_neg_logp"))
    }
  }

  /** Per-vector int8 (256-level) min-max quantization of the
    * embedding column — the memory-compression step an ANN index at
    * 100 TB actually ships (4x smaller than float32, distance
    * computed on codes + per-vector (mn, scale) pair). Map-only plan:
    * each row quantizes itself with higher-order functions; the
    * output carries a digest of the code vector (cross-engine
    * checkable) and the max absolute reconstruction error at
    * bucket-midpoint decoding. All arithmetic is double and written
    * in the exact operator order the oracle uses, so the results are
    * bit-identical across engines. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    embedQuantizeOn(Tables.widened(Tables.embeddings(spark, dir)))

  private[graft] def embedQuantizeOn(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("mn", expr("array_min(e)"))
      .withColumn("mx", expr("array_max(e)"))
      // mx = mn (constant vector) would divide 0/0: non-ANSI Spark
      // casts the NaN to 0 while DuckDB's CAST errors under IEEE
      // semantics, failing the whole verify run on a legal input —
      // both engines special-case it to code 0 explicitly (the
      // decode error needs no guard: its (mx-mn) factor zeroes the
      // bucket term, leaving abs(x - mn) = 0 exactly)
      .withColumn("code", expr(
        "transform(e, x -> if(mx = mn, 0L, least(255L, cast(floor((x - mn) * 255.0 / (mx - mn)) as bigint))))"))
      .select(col("vec_id"),
        md5(expr("array_join(transform(code, c -> cast(c as string)), ',')")).as("code_hash"),
        round(expr(
          "array_max(zip_with(e, code, (x, c) -> abs(x - (mn + (cast(c as double) + 0.5) * (mx - mn) / 255.0))))"),
          6).as("max_abs_err"))

  /** Inverted index build: token → ordered posting list
    * (doc_id:position pairs) plus document frequency — the
    * search-serving preparation step over the corpus. Output rows
    * carry an md5 digest of the canonical posting string rather than
    * the list itself, which keeps the contract cross-engine-checkable
    * without hauling the full postings through the compare.
    *
    * Scale shape: one tokenize+posexplode pass, one groupBy token —
    * postings co-locate by term hash (uniform; stopword-heavy terms
    * make big groups but the digest aggregation is one pass over each
    * group, and a real deployment would shard hot terms by
    * (term, doc_id range), which this plan's key structure admits).
    * The posting order inside each group comes from an array_sort
    * over (doc_id, pos) structs — deterministic without a sort
    * exchange. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    // the digest of each term's sorted posting list: fused
    // sort+join+md5 kernel with kernels on (the HOF
    // formulation ran an interpreted transform per posting and
    // materialized three intermediate arrays per group), byte-equal
    // HOF reference otherwise — LlmSpec pins both against a
    // hand-built canonical string
    val digest =
      if (kernelOn(spark))
        Kernels("graft_postings_digest", col("postings"))
      else
        md5(expr("array_join(transform(array_sort(postings), " +
          "x -> concat(cast(x.doc_id as string), ':', cast(x.pos as string))), ',')"))
    // ONE aggregation (r22): the former count_distinct(doc_id) next to
    // collect_list triggered Spark's one-distinct rewrite — FOUR
    // aggregate phases and TWO exchanges over the exploded token
    // stream (partial by (term, doc_id), exchange, merge, re-partial,
    // exchange by term, final). df is the same number computed from
    // the postings the aggregation already collects (distinct doc_ids
    // of a term's postings ARE its document frequency), so the query
    // plans a single partial-agg + one term-keyed exchange.
    Tables.widened(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "term")
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("n_postings"),
        collect_list(struct(col("doc_id"), col("pos"))).as("postings"))
      .select(col("term"), col("n_postings"),
        expr("cast(size(array_distinct(transform(postings, x -> x.doc_id))) as bigint)").as("df"),
        digest.as("postings_hash"))
  }

  /** One-pass weighted sampling (Efraimidis–Spirakis A-Res): keep
    * the k documents with the largest u^(1/w), u ~ U(0,1] — here u
    * derives from a salted md5 of doc_id, so the "random" draw is
    * deterministic, reproducible across corpus rebuilds, and
    * oracle-checkable. Ordering uses the monotone-equivalent key
    * ln(u)/w (no pow underflow), tie-broken by doc_id; weight =
    * n_chars, i.e. sampling proportional to document length.
    *
    * Scale shape: one map pass + top-k. A-Res's reservoir IS a
    * mergeable partial — each partition keeps its local top-k and
    * merging keeps the top-k of unions — which is exactly Spark's
    * TakeOrderedAndProject (pinned in PlanSpec): no shuffle of the
    * corpus, only k rows per partition cross the wire. */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val M = 1L << 53 // doubles are exact integers up to 2^53
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("u",
        (pmod(conv(substring(md5(concat(lit("wrs:"), col("doc_id").cast("string"))), 1, 14), 16, 10)
          .cast("long"), lit(M)) + lit(1L)).cast("double") / lit(M.toDouble))
      .withColumn("wkey", log(col("u")) / col("n_chars").cast("double"))
      .orderBy(col("wkey").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("wkey"), 6).as("wkey"))
  }

  /** Product-quantized ADC kNN (`llm_ann_pq`) — the third quantized
    * similarity path beside SQ8 (`knnQuantized`) and the bucketed
    * indexes (LSH/IVF), and the canonical 100 TB ANN memory layout
    * (Jégou et al., PAPERS.md): each vector becomes `m` small codes
    * (m=16 subspaces × 16 centroids over 64 dims → 16 B/vector at
    * 4 bits of entropy each, 32× smaller than float64), and a query
    * scans CODES ONLY via asymmetric distance computation — per
    * probe a precomputed m×16 inner-product table, per vector a sum
    * of m table lookups. m trades accuracy for code width: 8
    * subspaces (8 dims each) measured 0.71 recall at sf0.001, 16
    * subspaces (4 dims each) clears the 0.75 floor with margin —
    * finer subspaces quantize better at equal total bits.
    *
    * Spark shape: subspace codebooks train with `lloyd` on the
    * pinned layout (only m×16×4 doubles cross to the driver per
    * round). Encode is one map-only pass. The ADC scan ranks by
    * approximate inner product, the top-50 candidates re-join the
    * float vectors for an exact cosine re-rank (ids-only until then)
    * — the same two-stage contract as SQ8, pinned by LlmSpec's
    * recall floor vs `knnExact`. At 100 TB the ADC stage reads
    * m bytes/vector (16 B at the default m=16) instead of 512 — the
    * `code` column is a packed `binary`, one unsigned byte per
    * subspace, so the stored layout matches the claim (round-14
    * advice: the former `array<int>` layout was 4×m) — and the scan
    * is memory-bandwidth-bound on a table 32× smaller, with the
    * per-row work m table-lookup adds fused into one codegen'd loop
    * (plans/AdcSum, `graft_adc`). Probe tables ride as literal
    * columns of a 10-row broadcast frame. */
  def annPq(spark: SparkSession, dir: String, m: Int = 16, ks: Int = 16,
      iters: Int = 3, trainCap: Int = 100000): DataFrame = {
    import spark.implicits._
    val all = vecs(spark, dir)
    val p = pinned(spark, all, trainCap)
    val books = lloyd(spark, p.trainVecs, p.seeds(ks), m, iters, byL2)

    // encode: one map-only pass — m (default 16) codes per vector plus the
    // RECONSTRUCTED norm |x̂| (known exactly at encode time), so the
    // ADC scan can rank by approximate COSINE (adc / |x̂|; the probe
    // norm is constant per probe) instead of raw inner product —
    // without it, large-norm vectors crowd out the true cosine
    // neighbors (measured at sf0.001: recall 0.57 raw-dot → 0.71
    // cosine-normalized at m=8, past the floor at m=16)
    val bcB = spark.sparkContext.broadcast(books)
    val codes = p.all.mapPartitions { rows =>
      val bks = bcB.value
      val origin = new Array[Double](m * bks(0)(0).length)
      rows.map { case (id, v) =>
        val (code, qn) = pqEncode(v, origin, bks)
        (id, code, qn)
      }
    }.toDF("vec_id", "code", "qn").ckptLocal()

    // probes (vec_id < 10) + their ADC tables — 10 rows, driver-built
    // (read from the materialized layout, not another parquet scan)
    val ptabs = p.all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v")).as[(Long, Array[Double])].collect()
      .toSeq.map { case (pid, pv) => (pid, adcTable(pv, books).toSeq) }
    val probeTab = broadcast(ptabs.toDF("probe_id", "ptab"))

    // ADC scan: approx dot = sum of m table lookups per (vector, probe)
    // — the codegen'd graft_adc kernel over the packed byte codes,
    // HOF reference with kernels disabled (bit parity, adcExpr)
    val cand = approxTop(codes.crossJoin(probeTab).filter(col("vec_id") =!= col("probe_id")),
      adcExpr(spark, m, ks) / greatest(col("qn"), lit(1e-12)), 50)
    rerank(spark, cand, all, asProbes(all.filter(col("vec_id") < 10)))
  }

  /** IVF-PQ composed kNN (`llm_ann_ivfpq`) — the production 100 TB
    * ANN layout (FAISS IVFADC, Jégou et al., PAPERS.md), composing
    * the two existing halves: `annIvf`'s coarse cells prune WHICH
    * vectors a probe scans, and `annPq`'s codes shrink WHAT the scan
    * reads — but instead of quantizing the raw vector, PQ here
    * quantizes the RESIDUAL x − centroid(cell(x)). Residuals have a
    * fraction of the raw vectors' spread (the coarse quantizer has
    * already explained the cell-level structure), so the same
    * m×ks code budget lands on a tighter distribution and carries
    * more precision per byte — the reason every production IVFADC
    * deployment quantizes residuals. The ADC identity:
    * dot(p, x̂) = dot(p, centroid_cell) + Σⱼ T[j][codeⱼ] where T is
    * the probe's residual inner-product table (shared across cells —
    * one codebook, trained on pooled residuals), and dot(p, centroid)
    * is one scalar per (probe, probed cell). Ranking divides by the
    * reconstructed |x̂| (exact at encode time) for approximate
    * cosine, exactly like `annPq`.
    *
    * Spark shape: coarse Lloyd and residual-PQ Lloyd both run on the
    * pinned layout (hash-partition on vec_id + in-partition sort →
    * bit-reproducible codebooks on any input split); encode is one
    * map-only pass emitting (cell, m codes, |x̂|); the probe side is
    * a 10×nprobe-row broadcast of (cell, cellDot, ADC table); the
    * candidate scan is `codes ⋈ probedCells on cell` — partition-
    * pruned, never a cross join; top-`rerankKeep` ids re-join float
    * vectors for the exact re-rank. At 100 TB: write the corpus
    * bucketed by cell id, train both codebooks on a sample, and the
    * per-probe cost is (nprobe/k of the corpus) × m byte-lookups.
    *
    * Default nprobe: the synthetic corpus is near-orthogonal noise
    * (see `annLsh`), so cell membership is barely correlated with
    * the cosine ranking and cell recall ≈ nprobe/k — the default
    * probes 28/32 cells to clear the plain-PQ 0.75 recall floor at
    * equal code budget. On a real clustered corpus neighbors share
    * the probe's cells and nprobe ≪ k holds the same recall; the
    * LlmSpec pruning pin runs at nprobe=4, k=16 to exercise that
    * regime. no_oracle by design; LlmSpec pins recall vs `knnExact`
    * and run-to-run determinism.
    *
    * This registry query composes the public build/probe halves —
    * `buildAnnIndex` (train + encode → three persistable DataFrames)
    * and `probeAnnIndex` (reload + ADC scan + exact re-rank) — which
    * is how a deployment actually runs it: the index is built once
    * per corpus snapshot, written to parquet (codes partitioned by
    * cell), and probed many times. AnnIndexSpec pins the parquet
    * round trip bit-identical. */
  def annIvfPq(spark: SparkSession, dir: String, k: Int = 32, nprobe: Int = 28,
      m: Int = 16, ks: Int = 16, coarseIters: Int = 2, pqIters: Int = 3,
      rerankKeep: Int = 100, trainCap: Int = 100000): DataFrame = {
    val all = vecs(spark, dir)
    val index = buildAnnIndex(spark, all.select(col("vec_id"), col("v")),
      k, m, ks, coarseIters, pqIters, trainCap)
    probeAnnIndex(spark, index,
      all.filter(col("vec_id") < 10).select(col("vec_id"), col("v"), col("nrm")),
      all, nprobe, rerankKeep)
  }

  /** The persistable IVFADC index: three plain DataFrames, so "train
    * once, encode once, probe many" is a parquet write away (the
    * same build/probe contract as `buildNearDupIndex`). At 100 TB:
    * `codes` is the corpus's 16 B/vector representation (`code` is
    * a packed `binary`, one byte per subspace) — written partitioned
    * by `cluster`, a probe becomes a partition-pruned scan
    * (IvfIndexSpec demonstrates the pruned-read shape);
    * `centroids` (k×dim) and `books` (m×ks×dim/m) are driver-small
    * model tables any session can reload. */
  final case class AnnIndex(centroids: DataFrame, books: DataFrame,
                            codes: DataFrame) {
    /** Writes the three tables as parquet under `dir`, codes
      * partitioned by `cluster`; `AnnIndex.read` loads them back. */
    def write(dir: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      books.write.mode("overwrite").parquet(s"$dir/books")
      codes.write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/codes")
    }
  }

  object AnnIndex {
    /** The index `write` left under `dir`. */
    def read(spark: SparkSession, dir: String): AnnIndex = AnnIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/books"),
      spark.read.parquet(s"$dir/codes"))
  }

  // ---- the vector quantizer: one definition of each piece ----------------
  //
  // `annIvf`, `annPq`, `buildAnnIndex`, `appendAnnIndex`,
  // `probeAnnIndex` and the streaming `annSuspects` all train, encode
  // and probe through the helpers below, so one arithmetic order gives
  // every caller the same codebooks and codes (AnnIndexSpec pins the
  // bits).

  /** A quantizer's training input. `all` is the `(vec_id, v)` rows
    * hash-partitioned on vec_id into exactly 64 partitions and sorted
    * within each (`Tables.pinnedLayout`), materialized once. The Lloyd
    * update sums floats in partition-then-row order, so the codebooks
    * are bit-reproducible only if row→partition and within-partition
    * order are functions of the data alone; hashing on the unique
    * vec_id holds that for ANY input split layout (a round-robin widen
    * held it only for inputs narrower than the pin, round-9 ADVICE).
    * The pin also widens a single-file scan, which would otherwise run
    * each Lloyd round as one task (measured 0.85 s/round at sf0.1).
    * The checkpoint keeps the partitioning and the row order, and
    * every Lloyd round, seed pick and count reads its blocks instead
    * of re-running the pin shuffle and the parquet scan behind it
    * (r21).
    *
    * `train` is the bounded codebook-training view: `all` itself
    * while the corpus fits `cap` (bit-identical to training on
    * everything — every test SF takes this branch), else the `cap`
    * hash-lowest rows re-pinned to the same layout and materialized
    * once themselves. The xxhash64 order is layout-independent and the
    * `vec_id` tiebreak makes the row set total, so the sample — and
    * therefore the codebooks — stay bit-reproducible on any input
    * split. At 100 TB this keeps "train once" sample-sized (each Lloyd
    * round costs `cap` rows, not the corpus) while the assignment and
    * encode passes still cover every row — the standard FAISS
    * `train(sample)` / `add(corpus)` split. */
  private final case class Pinned(all: Dataset[(Long, Array[Double])], n: Long,
                                  train: Dataset[(Long, Array[Double])]) {
    private val spark = all.sparkSession
    import spark.implicits._

    /** The `count` vectors of lowest xxhash64(vec_id): every
      * codebook's deterministic seeds. */
    def seeds(count: Int): Array[Array[Double]] =
      all.select(col("vec_id"), col("v"), xxhash64(col("vec_id")).as("hk"))
        .orderBy(col("hk")).limit(count)
        .select(col("v")).as[Array[Double]].collect()

    def trainVecs: Dataset[Array[Double]] = train.select(col("v")).as[Array[Double]]
  }

  private def pinned(spark: SparkSession, vecsDf: DataFrame, cap: Int): Pinned = {
    import spark.implicits._
    val all = Tables.pinnedLayout(vecsDf.select(col("vec_id"), col("v")), 64, "vec_id")
      .ckptLocal()
    val n = all.count()
    val train =
      if (n <= cap) all
      else Tables.pinnedLayout(
        all.select(col("vec_id"), col("v"), xxhash64(col("vec_id")).as("hk"))
          .orderBy(col("hk"), col("vec_id")).limit(cap)
          .select(col("vec_id"), col("v")), 64, "vec_id")
        .ckptLocal()
    Pinned(all.as[(Long, Array[Double])], n, train.as[(Long, Array[Double])])
  }

  private def annCentroidNorms(cs: Array[Array[Double]]): Array[Double] =
    cs.map { c =>
      var nc = 0.0; var i = 0
      while (i < c.length) { nc += c(i) * c(i); i += 1 }
      math.sqrt(nc)
    }

  // Array[Double] THROUGHOUT the typed vector paths (r22): on the
  // Scala 2.13 build, Spark's encoder deserializes `Seq[Double]` to an
  // immutable List, so every `v(i)` in these inner loops walked i cons
  // cells — the dot products were O(dim²) pointer chases (stack
  // samples on llm_ann_ivfpq showed List.length/linear-apply frames
  // inside the Lloyd tasks). Primitive arrays make them O(dim) with
  // contiguous reads; identical values in identical order, so the
  // codebook bits are unchanged (LlmSpec/AnnIndexSpec determinism and
  // round-trip pins).
  /** The `n` centroids of highest cosine to `v`, best first (first
    * index on ties). `norms` are the centroids' norms, hoisted out of
    * the per-vector loop: per vector only the dot products and its own
    * norm remain. */
  private def annNearest(v: Array[Double], cs: Array[Array[Double]],
                         norms: Array[Double], n: Int): Array[Int] = {
    var nv = 0.0
    var i = 0
    while (i < v.length) { nv += v(i) * v(i); i += 1 }
    val vNorm = math.sqrt(nv)
    val sims = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      val cc = cs(c)
      var dot = 0.0
      i = 0
      while (i < v.length) { dot += v(i) * cc(i); i += 1 }
      sims(c) = dot / (vNorm * norms(c))
      c += 1
    }
    sims.zipWithIndex.sortBy(-_._1).take(n).map(_._2)
  }

  /** The codeword of `bk` nearest by L2 (the k-means metric) to the
    * subvector of `v` at `off`; first minimum on ties. */
  private def annNearestSub(v: Array[Double], off: Int,
                            bk: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < bk.length) {
      val cc = bk(c)
      var d = 0.0; var i = 0
      while (i < cc.length) { val t = v(off + i) - cc(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Given the broadcast codebooks, once per partition: a row's
    * nearest centroid in subspace j. */
  private type Assign = Array[Array[Array[Double]]] => (Array[Double], Int) => Int

  /** The coarse quantizer's metric: highest cosine (`annNearest`). */
  private val byCosine: Assign = { bks =>
    val norms = annCentroidNorms(bks(0))
    (v, _) => annNearest(v, bks(0), norms, 1)(0)
  }

  /** The product quantizer's metric: lowest L2 per subspace. */
  private val byL2: Assign = { bks =>
    val sub = bks(0)(0).length
    (v, j) => annNearestSub(v, j * sub, bks(j))
  }

  /** Lloyd refinement of `m` codebooks, codebook j over dims
    * [j·sub, (j+1)·sub) of the vectors (m = 1 is the coarse
    * quantizer). Codebook j starts from the seeds' j-th subvectors.
    * Each round, every partition assigns its rows with `assign` and
    * sums them per (j, centroid); only those m×ks×sub partial sums
    * cross to the driver, which adds them in partition order and
    * divides. On the pinned layout that order is data-deterministic,
    * so the codebooks are bit-reproducible. A centroid no row chose
    * keeps its value. */
  private def lloyd(spark: SparkSession, rows: Dataset[Array[Double]],
      seeds: Array[Array[Double]], m: Int, iters: Int,
      assign: Assign): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val dim = seeds(0).length
    require(dim % m == 0, s"PQ needs dim % m == 0, got $dim % $m")
    val sub = dim / m
    val ks = seeds.length
    var books = Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val sums = rows.mapPartitions { vs =>
        val nearest = assign(bc.value)
        val acc = Array.tabulate(m, ks)((_, _) => new Array[Double](sub))
        val cnt = Array.ofDim[Long](m, ks)
        vs.foreach { v =>
          var j = 0
          while (j < m) {
            val c = nearest(v, j)
            var i = 0
            while (i < sub) { acc(j)(c)(i) += v(j * sub + i); i += 1 }
            cnt(j)(c) += 1
            j += 1
          }
        }
        for (j <- (0 until m).iterator; c <- (0 until ks).iterator if cnt(j)(c) > 0)
          yield (j, c, acc(j)(c), cnt(j)(c))
      }.collect()
      val merged = sums.groupBy(t => (t._1, t._2)).map { case (jc, parts) =>
        val s = new Array[Double](sub)
        var n = 0L
        parts.foreach { case (_, _, a, cn) =>
          var i = 0; while (i < sub) { s(i) += a(i); i += 1 }; n += cn
        }
        jc -> s.map(_ / n)
      }
      books = Array.tabulate(m, ks)((j, c) => merged.getOrElse((j, c), books(j)(c)))
    }
    books
  }

  /** r = v − centroid. */
  private def residual(v: Array[Double], centroid: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - centroid(i); i += 1 }
    r
  }

  /** `(vec_id, v)` rows → `(vec_id, cell, r)`: each vector's nearest
    * coarse centroid and its residual. A narrow map, so the rows keep
    * their partitions and order. */
  private def residuals(spark: SparkSession, rows: Dataset[(Long, Array[Double])],
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    rows.mapPartitions { it =>
      val cs = bc.value
      val norms = annCentroidNorms(cs)
      it.map { case (id, v) =>
        val c = annNearest(v, cs, norms, 1)(0)
        (id, c, residual(v, cs(c)))
      }
    }.toDF("vec_id", "cell", "r")
  }

  /** `x`'s PQ code — per subspace, one byte: its nearest codeword by
    * L2 — and the norm of the reconstruction `base + x̂`, known exactly
    * at encode time (`base` is the coarse centroid for a residual,
    * zeros for a plain vector, where 0.0 + y squares to the bits of
    * y·y). */
  private def pqEncode(x: Array[Double], base: Array[Double],
      bks: Array[Array[Array[Double]]]): (Array[Byte], Double) = {
    val m = bks.length
    val sub = bks(0)(0).length
    val code = new Array[Byte](m)
    var n2 = 0.0
    var j = 0
    while (j < m) {
      val c = annNearestSub(x, j * sub, bks(j))
      code(j) = c.toByte
      val cc = bks(j)(c)
      var i = 0
      while (i < sub) {
        val xi = base(j * sub + i) + cc(i)
        n2 += xi * xi
        i += 1
      }
      j += 1
    }
    (code, math.sqrt(n2))
  }

  /** `(vec_id, cell, r)` residuals → the index's codes table
    * `(vec_id, cluster, code, qn)`, in one map-only pass. */
  private def encodeResiduals(spark: SparkSession, res: DataFrame,
      model: AnnModel): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    res.as[(Long, Int, Array[Double])].mapPartitions { it =>
      val md = bc.value
      it.map { case (id, cell, r) =>
        val (code, qn) = pqEncode(r, md.centroids(cell), md.books)
        (id, cell, code, qn)
      }
    }.toDF("vec_id", "cluster", "code", "qn")
  }

  /** A probe's ADC table: t(j·ks + c) = dot(pv's subvector j,
    * books(j)(c)), so the approximate dot with a code is a sum of m
    * lookups (`adcExpr`). */
  private def adcTable(pv: Array[Double], books: Array[Array[Array[Double]]]): Array[Double] = {
    val m = books.length
    val ks = books(0).length
    val sub = books(0)(0).length
    val t = new Array[Double](m * ks)
    for (j <- 0 until m; c <- 0 until ks) {
      var d = 0.0; var i = 0
      while (i < sub) { d += pv(j * sub + i) * books(j)(c)(i); i += 1 }
      t(j * ks + c) = d
    }
    t
  }

  /** The driver-small model half of an `AnnIndex`: k×dim coarse
    * centroids and m×ks×(dim/m) residual codebooks. */
  private[graft] final case class AnnModel(centroids: Array[Array[Double]],
                                           books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ks: Int = books(0).length
    private val norms = annCentroidNorms(centroids)

    /** The probe side of an IVFADC scan for one probe vector: its
      * `nprobe` closest cells, each as (cell, dot(pv, centroid), pv's
      * residual ADC table). The table is one per probe, as the
      * codebooks are shared across cells. */
    def probe(pv: Array[Double], nprobe: Int): Array[(Int, Double, Seq[Double])] = {
      val t = adcTable(pv, books).toSeq
      annNearest(pv, centroids, norms, math.min(nprobe, centroids.length)).map { cell =>
        val cv = centroids(cell)
        var cd = 0.0; var i = 0
        while (i < cv.length) { cd += pv(i) * cv(i); i += 1 }
        (cell, cd, t)
      }
    }
  }

  /** The model tables of `index` back as arrays, in deterministic
    * (c / j,c) order. Shared by `probeAnnIndex`, `appendAnnIndex` and
    * the streaming `annSuspects` leg (which freezes this snapshot at
    * plan build, like `nearDupSuspects` does its band index). */
  private[graft] def annModelOf(index: AnnIndex): AnnModel = {
    val spark = index.centroids.sparkSession
    import spark.implicits._
    val centroids: Array[Array[Double]] = index.centroids
      .select(col("c"), col("cv")).as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    val bookRows = index.books.select(col("j"), col("c"), col("bv"))
      .as[(Int, Int, Array[Double])].collect()
    val m = bookRows.map(_._1).max + 1
    val ks = bookRows.map(_._2).max + 1
    val books = Array.ofDim[Array[Double]](m, ks)
    bookRows.foreach { case (j, c, bv) => books(j)(c) = bv }
    AnnModel(centroids, books)
  }

  /** Train + encode half of the IVFADC pipeline (see `annIvfPq` for
    * the algorithm doc): coarse Lloyd on the pinned layout, residual
    * PQ Lloyd on the (once-materialized) residuals, one map-only
    * encode pass. Returns the three persistable index tables;
    * `vecsDf` is `(vec_id, v)` with 64-dim double arrays. */
  def buildAnnIndex(spark: SparkSession, vecsDf: DataFrame, k: Int = 32,
      m: Int = 16, ks: Int = 16, coarseIters: Int = 2,
      pqIters: Int = 3, trainCap: Int = 100000): AnnIndex = {
    import spark.implicits._
    val p = pinned(spark, vecsDf, trainCap)
    // 1. coarse centroids: `annIvf`'s quantizer
    val centroids = lloyd(spark, p.trainVecs, p.seeds(k), 1, coarseIters, byCosine)(0)

    // residuals in the pinned layout, materialized ONCE (localCheckpoint
    // keeps partitioning and within-partition order, so the PQ Lloyd
    // partial sums below stay data-deterministic) — without the
    // checkpoint each Lloyd round plus the encode would re-run the
    // assignment scan. PQ Lloyd trains on the SAMPLE's residuals; when
    // the corpus fits the cap that is the `res` frame itself.
    val res = residuals(spark, p.all, centroids).ckptLocal()
    val trainRes = if (p.n <= trainCap) res else residuals(spark, p.train, centroids).ckptLocal()

    // 2. residual PQ codebooks: seeds are the ks hash-ordered
    //    vectors' RESIDUALS (driver-computed — ks rows)
    val cNorms = annCentroidNorms(centroids)
    val seedRes = p.seeds(ks).map(v =>
      residual(v, centroids(annNearest(v, centroids, cNorms, 1)(0))))
    val books = lloyd(spark, trainRes.select(col("r")).as[Array[Double]],
      seedRes, m, pqIters, byL2)

    // 3. encode: cell id, m residual codes, and |x̂| = |centroid + r̂|
    //    so the ADC scan ranks by approximate cosine
    val codes = encodeResiduals(spark, res, AnnModel(centroids, books)).ckptLocal()

    val centroidsDf = centroids.zipWithIndex
      .map { case (cv, c) => (c, cv.toSeq) }.toSeq.toDF("c", "cv")
    val booksDf = (for (j <- 0 until m; c <- 0 until ks)
      yield (j, c, books(j)(c).toSeq)).toDF("j", "c", "bv")
    AnnIndex(centroidsDf, booksDf, codes)
  }

  /** Encode-only `add()` half of the index lifecycle — the FAISS
    * train(sample) / add(corpus) split applied INCREMENTALLY: a new
    * crawl's vectors are encoded against the FROZEN model (coarse
    * centroids + residual codebooks reloaded from the index — no
    * Lloyd, no driver iteration) and their codes unioned onto the
    * existing codes table. One map-only pass over the new batch, so
    * the per-crawl cost is batch-sized at any corpus size; the model
    * tables are untouched, so every existing code stays valid and a
    * running `annSuspects` stream can swap to the appended index via
    * the refresh runbook without invalidating anything. The encode
    * runs `buildAnnIndex`'s `residuals` + `encodeResiduals`, so
    * appending vectors the build would have encoded yields
    * bit-identical codes (AnnIndexSpec pins it). Periodic full
    * retrains remain the operator's call once drift accumulates —
    * exactly the production IVFADC cadence. */
  def appendAnnIndex(spark: SparkSession, index: AnnIndex,
      newVecs: DataFrame): AnnIndex = {
    import spark.implicits._
    val model = annModelOf(index)
    val typed = Tables.pinnedLayout(newVecs.select(col("vec_id"), col("v")), 64, "vec_id")
      .as[(Long, Array[Double])]
    val newCodes = encodeResiduals(spark, residuals(spark, typed, model.centroids), model)
    AnnIndex(index.centroids, index.books,
      index.codes.unionByName(newCodes))
  }

  /** Probe-only registry leg (`llm_ann_probe`): `llm_ann_ivfpq`
    * semantics against a PERSISTED index snapshot — built once per
    * (sfDir) into a parquet snapshot (codes cell-partitioned) and
    * reloaded on every subsequent invocation, so repeated calls pay
    * probe cost only. This is the steady-state shape a deployment
    * runs (and what Bench's min-over-sweeps captures: sweep 1 pays
    * the one-time build, sweep 2+ is pure probe); both build halves
    * are deterministic, so the output is bit-identical to
    * `llm_ann_ivfpq` (AnnIndexSpec pins the equality). no_oracle like
    * the rest of the ANN family.
    *
    * Cache key = dir + a fingerprint of the embeddings input
    * (`Tables.inputFingerprint` — file names, sizes, mtimes via the
    * Hadoop FS the read itself uses) — data REPLACED under the same
    * path invalidates the snapshot instead of serving stale probes;
    * the `Snapshots` helper owns the temp dirs and their JVM-exit
    * deletion. */
  def annProbe(spark: SparkSession, dir: String, nprobe: Int = 28,
      rerankKeep: Int = 100): DataFrame = {
    val fp = graft.sources.Tables.inputFingerprint(spark, dir, "embeddings")
    val snap = Snapshots.of(dir, fp, "graft_ann_snapshot") { tmp =>
      buildAnnIndex(spark, vecs(spark, dir).select(col("vec_id"), col("v"))).write(tmp)
    }
    val all = vecs(spark, dir)
    probeAnnIndex(spark, AnnIndex.read(spark, snap),
      all.filter(col("vec_id") < 10).select(col("vec_id"), col("v"), col("nrm")),
      all, nprobe, rerankKeep)
  }

  /** Query half of the IVFADC pipeline: reload the (driver-small)
    * model tables, build each probe's residual ADC table + probed
    * cells, scan CODES ONLY over the probed cells, exact-re-rank the
    * top `rerankKeep` ids against `corpus` float vectors. `probes`
    * and `corpus` are `(vec_id, v, nrm)`; an index written to
    * parquet and read back probes identically (AnnIndexSpec pins the
    * round trip). */
  def probeAnnIndex(spark: SparkSession, index: AnnIndex, probes: DataFrame,
      corpus: DataFrame, nprobe: Int = 28, rerankKeep: Int = 100): DataFrame = {
    import spark.implicits._
    val model = annModelOf(index)
    val probeCells = probes.select(col("vec_id"), col("v"))
      .as[(Long, Array[Double])].collect().toSeq
      .flatMap { case (pid, pv) =>
        model.probe(pv, nprobe).map { case (cell, cd, t) => (pid, cell, cd, t) } }
      .toDF("probe_id", "cluster", "cell_dot", "ptab")

    // ADC scan over probed cells only: the join on cluster IS the
    // prune (at 100 TB: a partition-pruned read of nprobe/k of
    // the corpus); approx dot = cell_dot + m table lookups — the
    // codegen'd graft_adc kernel over the packed byte codes, HOF
    // reference with kernels disabled (bit parity, adcExpr)
    val cand = approxTop(
      index.codes.join(broadcast(probeCells), Seq("cluster"))
        .filter(col("vec_id") =!= col("probe_id")),
      (col("cell_dot") + adcExpr(spark, model.m, model.ks)) / greatest(col("qn"), lit(1e-12)),
      rerankKeep)
    rerank(spark, cand, corpus, asProbes(probes))
  }

  /** SQ8 kNN: scalar-quantized search + exact re-rank — the
    * two-stage pattern a memory-bound ANN deployment actually runs
    * (FAISS SQ8 et al.). Stage 1 scans int8 codes (4x smaller than
    * float32 — at 100 TB that is 4x less scan I/O, which is the whole
    * point) and ranks by approximate cosine against the full-precision
    * broadcast probes; stage 2 re-ranks the top-30 candidates with
    * the exact kernel and keeps 10. Candidates carry ids only between
    * stages; vectors re-join for the re-rank. no_oracle by design
    * (approximate stage); LlmSpec pins recall against `knnExact`. */
  def knnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val codes = all
      .withColumn("mn", expr("array_min(v)"))
      .withColumn("mx", expr("array_max(v)"))
      .withColumn("code", expr(
        "transform(v, x -> least(255, cast(floor((x - mn) * 255.0 / (mx - mn)) as int)))"))
      .select(col("vec_id"), col("mn"), col("mx"), col("code"))
      .ckptLocal()
    val probes = asProbes(all.filter(col("vec_id") < 10))
    // approximate cosine from bucket-midpoint decode: the codegen'd
    // dequantize-dot kernel (plans/DequantDot) — one fused primitive
    // loop per (vector × probe) row inside WholeStageCodegen — with
    // the higher-order-fold formulation as the SQL reference. Both compose the identical double
    // arithmetic in the identical association order (KernelParitySpec
    // pins bit agreement), so results match either way.
    val approxSim =
      if (kernelOn(spark))
        Kernels("graft_dequant_dot", col("code"), col("pv"), col("mn"), col("mx"))
      else expr(
        """aggregate(zip_with(code, pv, (c, y) ->
           (mn + (cast(c as double) + 0.5) * (mx - mn) / 255.0) * y),
           cast(0.0 as double), (a, x) -> a + x)""")
    val cand = approxTop(
      codes.crossJoin(broadcast(probes.select(col("probe_id"), col("pv"))))
        .filter(col("vec_id") =!= col("probe_id")),
      approxSim, 30)
    rerank(spark, cand, all, probes)
  }

  /** Per-document top-3 terms by tf-idf — the keyword-extraction /
    * feature-selection primitive (tf = in-doc count, idf = ln(N/df)
    * over the corpus). Deterministic ordering: (score desc, term asc)
    * — both engines compute the identical double, so even near-ties
    * rank identically, and exact ties fall to the term.
    *
    * Scale shape: term frequencies and document frequencies are two
    * partial aggregations over one tokenized checkpoint; df joins tf
    * on the term key (co-partitioned; AQE broadcasts the vocab side
    * when it fits), N rides in as a broadcast scalar, and the top-3
    * cut is a WindowGroupLimit-able rank over doc_id partitions —
    * never a global sort. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTermsOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** One row per DISTINCT (doc, term) with its in-doc count, computed
    * by the `graft_term_counts` kernel inside the scan projection —
    * zero exchanges (LlmSpec pins the plan and the counts' agreement
    * with the explode + groupBy formulation). The map side of every
    * term-level statistic: tf-idf's tf frame and the unigram LM's
    * working set both start here. */
  private[graft] def termCountsOf(docs: DataFrame): DataFrame =
    Tables.widened(docs)
      .select(col("doc_id"),
        explode(Kernels("graft_term_counts", split(lower(trim(col("text"))), "\\s+"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.cnt").as("cnt"))

  private[graft] def tfidfTermsOn(docs: DataFrame): DataFrame = {
    // tf is a PER-DOCUMENT statistic, so with the graft_term_counts
    // kernel it never shuffles: each row counts its own terms inside
    // the scan projection and the explode emits one row per DISTINCT
    // (doc, term) — the round-8 profile put the replaced formulation's
    // CPU in the (doc_id, term) hash aggregation's string-key
    // UnsafeRow hashing, and its exchange shipped every token
    // occurrence. The token-explode + groupBy stays as the SQL
    // reference (same counts, LlmSpec pins agreement).
    val spark = docs.sparkSession
    val tf =
      if (kernelOn(spark))
        termCountsOf(docs)
          .select(col("doc_id"), col("term"), col("cnt").as("tf"))
          .ckptLocal()
      else {
        val toks = Tables.widened(docs)
          .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .ckptLocal()
      }
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.agg(count_distinct(col("doc_id")).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), round(col("score"), 6).as("score"))
  }
}

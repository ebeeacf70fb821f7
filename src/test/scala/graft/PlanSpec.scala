package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the 100 TB-posture properties the round
  * verdicts check by hand, pinned mechanically so a refactor cannot
  * silently regress them. Each test renders the executed plan of a
  * declared query at sf0.001 and asserts on its operator shape —
  * predicate pushdown reaching the scan, dimension joins broadcast,
  * top-k planned as TakeOrdered, no Scala UDFs in codegen'd paths,
  * no unpartitioned windows on per-row operators.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString

  test("filters are pushed into the parquet scan (q2)") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushdown in:\n$p")
    assert(p.contains("GreaterThan(l_quantity") || p.contains("l_quantity"),
      "quantity predicate must reach the scan")
  }

  test("scans are column-pruned to the projected schema (q2)") {
    val p = plan("q2_filter_project")
    // lineitem has 16 columns; the query needs 5 — comment/tax/etc.
    // must not be read
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "scan reads columns the query never uses")
  }

  test("money-sum queries keep one shuffle and no per-row decimal cast (q1/q5/q11)") {
    // the split-long money conversion must be a pure arithmetic
    // substitution: the same single partial-agged hash exchange, and
    // the per-row DECIMAL(18,2) cast gone from the hot path — the
    // only decimal left is the per-GROUP finisher
    for (q <- Seq("q1_pricing_summary", "q5_revenue_by_region", "q11_parts_by_brand")) {
      val p = plan(q)
      val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
      assert(shuffles == 1, s"$q must have exactly one shuffle exchange, saw $shuffles:\n$p")
      assert(p.contains("HashAggregate"), s"$q lost hash aggregation")
      assert(!p.contains("as decimal(18,2)"),
        s"$q has a per-row decimal cast back in the hot path")
    }
  }

  test("dimension joins are broadcast, not shuffled (q5)") {
    val p = plan("q5_revenue_by_region")
    assert(p.contains("BroadcastHashJoin"), "dim joins must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "supplier/nation/region joins must not shuffle the fact table")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (q4)") {
    val p = plan("q4_top_orders")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
  }

  test("similarity-search paths carry no Scala UDF (ann_lsh, ann_ivf, knn)") {
    for (q <- Seq("llm_ann_lsh", "llm_knn_exact", "llm_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("UDF("), s"$q has a Scala UDF in its plan")
      assert(p.contains("graft_cosine") || p.contains("aggregate("),
        s"$q must use the native cosine kernel")
    }
    // the IVF assignment pass itself must be the native codegen'd
    // kernel, not a typed lambda (no DeserializeToObject/mapPartitions
    // in the distributed stages — round-3 verdict item 5)
    val ivf = plan("llm_ann_ivf")
    assert(ivf.contains("graft_nearest_centroid"),
      "IVF assignment must use the native nearest-centroid kernel")
    assert(!ivf.contains("DeserializeToObject") && !ivf.contains("MapPartitions"),
      "IVF distributed stages must not deserialize vectors to JVM objects")
  }

  test("llm_quality is map-only: one documents scan, no join") {
    val p = plan("llm_quality")
    val scans = p.linesIterator.count(l => l.contains("Scan") && l.contains("documents"))
    assert(scans == 1, s"expected exactly one documents scan, got $scans in:\n$p")
    assert(!p.contains("Join"), "quality must not self-join the scan it already has")
  }

  test("near-dup pipeline has no cartesian or nested-loop join") {
    val p = plan("llm_dedup_near")
    assert(!p.contains("CartesianProduct"), "all-pairs join in the LSH path")
  }

  test("winnow rollup is a zero-exchange kernel scan; dup-spans joins stay equi-keyed") {
    val p = plan("llm_winnow")
    assert(p.contains("graft_winnow"), s"winnow off the kernel:\n$p")
    assert(!p.contains("Window"), "window-function selection resurfaced (kernel fuses it)")
    assert(!p.contains("Generate"), "gram explode resurfaced before the rollup")
    assert(!p.contains("ENSURE_REQUIREMENTS"), "per-row rollup must not shuffle")
    val pairs = plan("llm_dup_spans")
    assert(!pairs.contains("CartesianProduct"), "all-pairs join in the dup-spans path")
    assert(!pairs.contains("BroadcastNestedLoopJoin"), "nested-loop join in the dup-spans path")
  }

  test("per-row windows are partitioned (transitions, q9, sessions)") {
    for (q <- Seq("eco_transitions", "q9_top_per_customer", "eco_sessions")) {
      val p = plan(q)
      val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windows.nonEmpty)
      windows.foreach { w =>
        // every per-row Window must have a partition spec; only the
        // bounded post-aggregation share/normalize windows may be
        // global (they are not in these queries)
        assert(!w.contains("Window [") || w.contains("windowspecdefinition("),
          s"window shape unexpected in $q: $w")
      }
    }
  }

  test("markov ordering is per-user, never a global sort (eco_transitions)") {
    val p = plan("eco_transitions")
    assert(p.contains("user_id"), "transitions must key each user's events by user_id")
    // the per-user runs cross one user_id exchange; the events are
    // neither sorted by user nor walked by a lead window
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges:\n$p")
    assert(!p.contains("Sort [user_id"), s"events sorted by user:\n$p")
    assert(!p.contains("lead("), s"lead window resurfaced:\n$p")
  }

  test("eco_transitions' user exchange writes one record per (scan split, user), not one per event") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("eco_transitions")(spark, TestSpark.sf)
    df.collect()
    val written = Plans.collect(df.queryExecution.executedPlan) {
      case x: ShuffleExchangeExec if (x.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) => a.name == "user_id"
          case _ => false
        }) => x.metrics("shuffleRecordsWritten").value
    }
    val events = graft.sources.Tables.events(spark, TestSpark.sf)
    val bound = events.select("user_id").distinct().count() * events.rdd.getNumPartitions
    assert(written.size == 1, s"user exchanges: $written")
    assert(bound < events.count(), s"bound $bound is no tighter than one record per event")
    assert(written.head <= bound, s"the user exchange wrote ${written.head} records, bound $bound")
  }

  test("sessionization reuses one sort for lag, running sum, and groupBy (eco_sessions)") {
    val p = plan("eco_sessions")
    // both windows share (user_id; ts, event_id), so the plan needs
    // exactly one user_id exchange feeding them
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges:\n$p")
    assert(!p.contains("Exchange SinglePartition"), "no global window allowed")
  }

  test("stratified sample pushes the rank cap below the shuffle (WindowGroupLimit)") {
    // rn <= cap on top of a row_number window must plan a partial
    // per-partition top-k BEFORE the exchange — otherwise a hot
    // source sorts its whole stratum on one task at 100 TB
    val p = plan("llm_sample_stratified")
    assert(p.toLowerCase.contains("windowgrouplimit"),
      s"rank filter not pushed into a WindowGroupLimit:\n$p")
  }

  test("map-only text ops never shuffle on a key (pii_scrub, char_entropy, repetition)") {
    // the only allowed exchange is the narrow-scan round-robin widen,
    // which is the identity at real scale; a hashpartitioning
    // exchange would mean a per-doc statistic is paying a shuffle
    // llm_fingerprint joined this family in round 8: the kernel
    // computes the whole rolling-gram rollup per row, so the gram
    // explode, its doc_id repartition and the groupBy are all gone
    for (q <- Seq("llm_pii_scrub", "llm_char_entropy", "llm_repetition", "llm_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q shuffles on a key:\n$p")
      assert(!p.contains("Join"), s"$q must not join")
      val scans = p.linesIterator.count(l => l.contains("Scan") && l.contains("documents"))
      assert(scans == 1, s"$q reads its input $scans times")
    }
  }

  test("entropy/repetition run on the native run-stats kernels, not interpreted HOF folds") {
    // the codegen'd kernels (plans/RunStats.scala) are what make the
    // quality family's corpus scan CPU-bound on arithmetic instead of
    // interpreted lambda dispatch; this pins that a session with
    // GraftExtensions actually plans them
    val ent = plan("llm_char_entropy")
    assert(ent.contains("graft_char_run_stats"), s"entropy not on the kernel:\n$ent")
    assert(!ent.contains("regexp_extract_all"), "per-character regex extraction resurfaced")
    assert(!ent.contains("aggregate("), "interpreted fold resurfaced in entropy")
    val rep = plan("llm_repetition")
    assert(rep.contains("graft_gram_stats"), s"repetition not on the kernel:\n$rep")
    assert(!rep.contains("array_distinct"), "interpreted trigram distinct resurfaced")
  }

  test("vocab top-k plans as TakeOrdered with a broadcast scalar, no global sort") {
    val p = plan("llm_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must be TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus-size scalar must broadcast, not shuffle")
    // the term-counts kernel makes doc_freq a plain count over
    // already-distinct (doc, term) rows — the count_distinct rewrite
    // (a second aggregate keyed on (token, doc_id)) must stay gone
    assert(p.contains("graft_term_counts"), s"vocab not on the term-counts kernel:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one token exchange, got $exchanges:\n$p")
  }

  test("incremental dedup anti-joins on the same key it aggregates (no cartesian)") {
    val p = plan("llm_dedup_incremental")
    assert(p.contains("LeftAnti"), s"existing-hash exclusion must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "anti join must stay a hash join")
  }

  test("partitioned sink read prunes partitions at the scan (sink_partitioned)") {
    // the written layout partitions by source; the filter on the
    // partition column must appear as PartitionFilters on the scan
    // (directory pruning — zero I/O for the other sources), NOT as a
    // post-scan Filter over all rows
    val p = plan("sink_partitioned")
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"))
    assert(scanLine.isDefined, s"no partition pruning in:\n$p")
    assert(scanLine.get.contains("src3") || p.contains("src3"),
      "the source IN filter must drive the pruning")
  }

  test("CSV read-back prunes unused columns at the scan (sink_csv)") {
    // row format, but Spark's CSV parser still prunes: the rollup
    // needs text/lang/n_chars, so doc_id and source must be absent
    // from the scan's ReadSchema (the parser skips their fields
    // instead of converting them — at 100 TB that's the difference
    // between parsing 3 columns and 5)
    val p = plan("sink_csv")
    val read = p.linesIterator.find(_.contains("ReadSchema"))
    assert(read.isDefined, s"no ReadSchema in:\n$p")
    assert(!read.get.contains("doc_id") && !read.get.contains("source"),
      s"CSV scan reads columns the rollup never uses:\n${read.get}")
    assert(read.get.contains("n_chars") && read.get.contains("lang"),
      s"expected the rollup columns in:\n${read.get}")
  }

  test("embed quantization is map-only (llm_embed_quantize)") {
    val p = plan("llm_embed_quantize")
    assert(!p.contains("hashpartitioning"), s"per-vector quantization shuffles:\n$p")
    assert(!p.contains("Join"), "quantization must not join")
  }

  test("weighted sampling plans as TakeOrdered (A-Res reservoir = mergeable top-k)") {
    val p = plan("llm_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), s"A-Res must plan as TakeOrdered:\n$p")
  }

  test("bucketed self-join plans with no exchange on either side") {
    // write the bucketed table once, then plan the join with
    // broadcast disabled: both sides arrive bucketed on doc_id, so a
    // SortMergeJoin needs NO hashpartitioning exchange — the
    // co-located-join contract bucketing buys at 100 TB
    SparkEntry.queries("sink_bucketed")(spark, TestSpark.sf).collect()
    val conf = spark.sessionState.conf
    val prev = conf.getConfString("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.setConfString("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = graft.sources.Sinks.bucketedSelfJoin(spark.table("graft_docs_bucketed"))
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed sides:\n$p")
      assert(p.contains("Bucketed: true"), s"scans must use the bucket layout:\n$p")
      // no exchange keyed on the join column — the rollup's
      // source-keyed exchange above the join is a different key and
      // is expected
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"bucketed join must not shuffle its sides on doc_id:\n$p")
    } finally conf.setConfString("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tfidf top-3 cut happens below the window shuffle (WindowGroupLimit)") {
    val p = plan("llm_tfidf_terms")
    assert(p.toLowerCase.contains("windowgrouplimit"),
      s"rank<=3 not pushed into a WindowGroupLimit:\n$p")
    // the ranking window itself must partition by doc_id (a scalar-N
    // single-partition exchange elsewhere in the plan is fine)
    assert(p.contains("windowspecdefinition(doc_id"),
      s"tfidf ranking must stay partitioned by doc_id:\n$p")
  }

  test("segment dedup ranks on the segment-hash partition, not a global sort") {
    val p = plan("llm_segment_dedup")
    // the first-occurrence window must be partitioned (by md5(seg));
    // an empty partition spec would funnel the exploded corpus
    // through one WindowExec partition (an `Exchange SinglePartition`)
    assert(p.contains("Window"), s"no window in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"first-occurrence ranking funnels through a single partition:\n$p")
  }

  test("round-9 kernels are in the executed plans, interpreted lambdas gone") {
    // a silent fall-back to the HOF formulations (e.g. a renamed or
    // unregistered function) would keep every result identical and
    // only show up as CPU — pin the plans instead
    val contam = plan("llm_contamination")
    assert(contam.contains("graft_gram_hashes"), s"contamination off the kernel:\n$contam")
    assert(!contam.contains("transform("), "interpreted gram lambda resurfaced in contamination")
    val seg = plan("llm_segment_dedup")
    assert(seg.contains("graft_segments"), s"segment dedup off the kernel:\n$seg")
    assert(!seg.contains("array_join"), "interpreted segment lambda resurfaced")
    // (the band-hash kernel runs inside nearDupCore's eager
    // checkpoint, so it never appears in llm_dedup_near's FINAL
    // executed plan — its engagement is pinned value-wise in LlmSpec)
  }

  test("as-of join is one keyed exchange and a window — no join operator at all") {
    // the naive formulation is a range-predicate join (per-key row
    // blowup + re-aggregation: two shuffles); the union+window form
    // must plan as a single user_id exchange feeding a partitioned
    // window, with the two-type filter pushed to the scan
    // q18 = q13 + the tolerance guard, which must stay a post-carry
    // projection — never a join predicate that would change the plan
    for (q <- Seq("q13_asof_join", "q17_asof_forward", "q18_asof_tolerance")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not plan a join operator:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
      assert(exchanges == 1, s"$q: expected one user_id exchange, got $exchanges:\n$p")
      assert(!p.contains("Exchange SinglePartition"), s"$q window must stay partitioned")
      assert(p.contains("PushedFilters: [In(event_type"),
        s"$q: type filter must reach the parquet scan:\n$p")
    }
  }

  test("stitched as-of partitions the data window by (user_id, sub) and stitches via broadcast") {
    // the skew-proof twin's contract: the one DATA exchange hashes on
    // (user_id, sub) — a skewed key's rows spread across chunks
    // instead of one task — and every stitch-side join (skew census,
    // carry table) broadcasts; nothing may degenerate to a nested
    // loop or pull the big side to one partition
    val p = plan("q15_asof_stitched")
    assert(p.contains("Exchange hashpartitioning(user_id") && p.contains("__sub"),
      s"stitched as-of window must partition by (user_id, __sub):\n$p")
    assert(!p.contains("Exchange SinglePartition"), "stitched as-of must stay partitioned")
    assert(p.contains("BroadcastHashJoin"), s"stitch joins must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"), s"stitch-side join degenerated:\n$p")
    // the scan itself sits below stitchedCarry's r21 checkpoint of the
    // tagged union (the final plan reads LogicalRDD), so the
    // In(event_type) pushdown is pinned on the SHARED taggedEvents
    // trunk via the un-checkpointed q13/q17/q18 plans above
  }

  test("range join plans as a hash equi-join on the bin, never a nested loop") {
    // without the bin key the interval predicate has no equi
    // conjunct, so Spark would plan BroadcastNestedLoopJoin — every
    // row testing every interval, the 100 TB scale-killer
    val p = plan("q14_range_join")
    assert(p.contains("BroadcastHashJoin"), s"bin join must be a hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval probe degenerated to a nested loop:\n$p")
  }

  test("interval-overlap join is a binned hash equi-join, never a nested loop") {
    // interval × interval with no equi key is the other classic
    // nested-loop degeneration; the two-sided bin explode must keep
    // it a BroadcastHashJoin with the overlap test as residual, and
    // the sessionization window must stay partitioned by user_id
    val p = plan("q16_interval_join")
    assert(p.contains("BroadcastHashJoin"), s"interval join must hash-join on the bin:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval overlap degenerated to a nested loop:\n$p")
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"sessionization window must partition by user_id:\n$p")
  }

  test("AQE skew-join really engages on a hot key (the documented skew fallback)") {
    // SURVEY §8's skew row claims AQE skew-join covers hot JOIN keys
    // at runtime, so no hand-salting ships for joins. A claim about a
    // runtime mechanism needs a runtime pin: build a join where one
    // key owns ~98% of the left side, push the skew thresholds down
    // to test scale, execute, and assert the FINAL adaptive plan
    // carries the skew=true sort-merge join — plus that splitting the
    // partition changed no row of the answer.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    TestSpark.withConf(confs: _*) {
      // 4k distinct cold keys + one hot key (7) holding half the rows
      val left = spark.range(0, 200000)
        .select(org.apache.spark.sql.functions.when(col("id") % 2 === 0, lit(7L))
          .otherwise(col("id") % 4096 + 100L).as("k"), col("id").as("v"))
      val right = spark.range(0, 8192).select((col("id") % 5000).as("k"),
        (col("id") * 3).as("w"))
      val joined = left.join(right, "k")
      // execute the join's own query so ITS adaptive plan finalizes
      // (a .count() would execute a different QueryExecution)
      val n = joined.collect().length
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"adaptive plan never finalized:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$plan")
      // correctness under the split: recompute with AQE off
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val nOff = left.join(right, "k").collect().length
      assert(n == nOff, s"skew-split changed the join result: $n vs $nOff")
    }
  }

  test("incremental near-dup joins are all equi-keyed — never a nested loop") {
    // the cross band join buckets on (band, band_hash) with a key
    // inequality as residual; the verify and member-expansion joins
    // are hash-keyed. Nothing in the pipeline may degenerate to an
    // all-pairs scan — that's the operator's whole reason to exist
    val p = plan("llm_dedup_near_incr")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"incremental near-dup degenerated to an all-pairs join:\n$p")
  }

  test("quantized kNN ranks on the dequantize-dot kernel, not an interpreted fold") {
    // round-9 verdict item 5: the approximate-similarity pass was the
    // last aggregate(zip_with(...)) in a declared query — pin that
    // the fused kernel is what actually plans (the vecs() norm is a
    // separate bounded aggregate(), so the pin is on zip_with: only
    // the fold fallbacks use it)
    val p = plan("llm_knn_quantized")
    assert(p.contains("graft_dequant_dot"), s"quantized rank off the kernel:\n$p")
    assert(!p.contains("zip_with"), "interpreted dequantize fold resurfaced")
    assert(!p.contains("UDF("), "quantized path must carry no Scala UDF")
  }

  test("chunker is a pure map-side scan — no exchange anywhere in the plan") {
    // chunking at 100 TB must be embarrassingly parallel by document:
    // tokenize + window arithmetic + posexplode + slice, output-sized,
    // zero shuffles. An Exchange appearing here means someone added a
    // grouping/ordering step the operator doesn't need.
    val p = plan("llm_chunk")
    assert(!p.contains("Exchange"), s"chunker plan acquired a shuffle:\n$p")
    assert(!p.contains("UDF("), "chunker must stay declarative/codegen")
  }

  test("mix_ranked joins the host-sized rank table BROADCAST — never a doc-sized shuffle join") {
    // the rank table is host-sized (tens of MB at web scale); the
    // documents side is the 100 TB corpus — a sort-merge join here
    // would shuffle the corpus on host
    val p = plan("llm_mix_ranked")
    assert(p.contains("BroadcastHashJoin"), s"rank join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join appeared:\n$p")
  }

  test("BPE tokenize + chunk run on the graft_bpe_tokens kernel — map-only, no ScalaUDF, no exchange") {
    // subword tokenization of a 100 TB corpus must be one codegen'd
    // scan: the merge table is a static class-load derivation, so
    // there is no model join, no broadcast, no shuffle — and the
    // chunker adds only window arithmetic + posexplode on top
    for (q <- Seq("llm_bpe_tokenize", "llm_chunk_bpe")) {
      val p = plan(q)
      assert(p.contains("graft_bpe_tokens"), s"$q not on the kernel:\n$p")
      assert(!p.contains("UDF("), s"$q must carry no Scala UDF")
      assert(!p.contains("Exchange"), s"$q acquired a shuffle:\n$p")
    }
  }

  test("wire decode calls the graft_wire_decode kernel ahead of from_json, no UDF") {
    // the reference's per-message json.loads (consumer.py:407) is one
    // static kernel call per row, with from_json's own evaluator only
    // behind it for the rows the kernel rejects. That evaluator is
    // called through Invoke, not the CodegenFallback from_json
    // expression, so the decode runs inside a *(n) whole-stage-codegen
    // stage rather than in a projection every task builds anew.
    val events = spark.range(16).selectExpr("id AS event_id", "timestamp_seconds(id) AS ts",
      "id % 3 AS user_id", "'click' AS event_type", "id * 0.5D AS value")
    val p = graft.streaming.Streaming.wireDecode(graft.streaming.Streaming.wireEncode(events))
      .queryExecution.executedPlan.toString
    assert(p.contains("coalesce(static_invoke(graft.plans.WireKernel.graft_wire_decode("),
      s"wire decode is not on the kernel:\n$p")
    assert(!p.contains("UDF("), s"wire decode must carry no Scala UDF:\n$p")
    assert(p.linesIterator.exists(l => l.contains("graft_wire_decode") && """\*\(\d+\) """.r.findFirstIn(l).isDefined),
      s"wire decode is not whole-stage codegen'd:\n$p")
    assert(!p.contains("from_json("), s"wire decode must not plan the CodegenFallback from_json:\n$p")
    // the event_id filter sits above the decode: pushed below it, the
    // filter would carry a second copy of the decode and run it per row
    assert("graft_wire_decode\\(".r.findAllMatchIn(p).size == 1,
      s"wire decode is planned more than once per row:\n$p")
  }

  /** The executed plans of the actions `body` runs, for operators that
    * collect or checkpoint inside: their returned frame's plan does
    * not show the work. The listener bus is asynchronous, so wait for
    * the plans that `until` expects. */
  private def actionPlans(until: Seq[String] => Boolean)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      def seen = plans.toArray(Array.empty[String]).toSeq
      val deadline = System.nanoTime() + 10000000000L
      while (!until(seen) && System.nanoTime() < deadline) Thread.sleep(50)
      seen
    } finally spark.listenerManager.unregister(listener)
  }

  test("importance reads props.k with graft_json_int inside whole-stage codegen (eco_importance)") {
    // the kernel reads each row's k in one byte pass; get_json_object
    // (Jackson) stays behind it for the rows the kernel declines. The
    // scan and the partial aggregate run in a checkpoint job.
    val ps = actionPlans(_.exists(_.contains("graft_json_int(")))(plan("eco_importance"))
    val p = ps.find(_.contains("graft_json_int(")).getOrElse(fail(s"no plan calls graft_json_int:\n${ps.mkString("\n")}"))
    assert(p.contains("coalesce(static_invoke(graft.plans.WireKernel.graft_json_int(props#"),
      s"props.k is not read by the kernel first:\n$p")
    assert(p.linesIterator.exists(l => l.contains("graft_json_int(") && """\*\(\d+\) """.r.findFirstIn(l).isDefined),
      s"graft_json_int is not whole-stage codegen'd:\n$p")
  }

  test("exact jaccard counts type pairs over distinct (user, type) pairs, no collect_set (eco_jaccard_exact)") {
    // a per-user collect_set passes the object-hash aggregate's
    // 128-key fallback and sorts every row; the distinct pairs come
    // from a partial aggregate and meet in a user-keyed self-join
    val ps = actionPlans(_.nonEmpty)(plan("eco_jaccard_exact"))
    assert(ps.nonEmpty, "the query ran no action")
    ps.foreach(p => assert(!p.contains("collect_set"), s"a per-user collect_set is back:\n$p"))
    assert(ps.exists(p => p.contains("HashJoin") || p.contains("SortMergeJoin")), ps.mkString("\n"))
  }

  test("html extraction runs on the graft_html_text kernel — no ScalaUDF, no exchange") {
    // at 100 TB this runs once per crawl document between the WARC
    // entity decode and the quality family — it must be a map-only
    // codegen scan, never a ScalaUDF serialization boundary (the
    // round-16 verdict's missing column API)
    val p = plan("llm_html_extract")
    assert(p.contains("graft_html_text"), s"html extract not on the kernel:\n$p")
    assert(!p.contains("UDF("), "html extract must carry no Scala UDF")
    assert(!p.contains("Exchange"), s"html extract acquired a shuffle:\n$p")
  }

  test("composed html→chunk chain stays one map-only codegen scan (crawl→text→chunk)") {
    // the production composition the round-16 verdict demanded: html
    // text extraction feeding a downstream text operator as plain
    // COLUMNS — one scan, no UDF, no exchange across the whole chain
    val extracted = graft.sources.Html.htmlExtract(spark, TestSpark.sf)
      .withColumnRenamed("extracted_text", "text")
    val chained = graft.operators.Llm.chunkFrame(extracted, chunkTokens = 32, overlap = 8)
    val p = chained.queryExecution.executedPlan.toString
    assert(p.contains("graft_html_text"), s"composed chain lost the kernel:\n$p")
    assert(!p.contains("UDF("), "composed chain must carry no Scala UDF")
    assert(!p.contains("Exchange"), s"composed chain acquired a shuffle:\n$p")
  }

  test("crawl-chain seam is map-only with the html kernel on the columnar half") {
    // the byte-walk half (WARC/HTTP decode) is typed mapPartitions
    // ([C] — no Catalyst builtin); the text half must still be the
    // codegen'd kernel, and the whole chain must never shuffle
    val p = plan("llm_crawl_extract")
    assert(p.contains("graft_html_text"), s"seam lost the html kernel:\n$p")
    assert(!p.contains("UDF("), "seam must carry no Scala UDF")
    // r21: the narrow input widens through ONE round-robin exchange
    // (Tables.widened — the single-split scan serialized the whole
    // byte-walk chain into one task); the chain itself must stay
    // shuffle-free — no hash/range exchange anywhere
    assert("Exchange (?!RoundRobinPartitioning)".r.findAllMatchIn(p).isEmpty,
      s"seam acquired a non-widening shuffle:\n$p")
    assert("Exchange RoundRobinPartitioning".r.findAllMatchIn(p).size <= 1,
      s"seam widened more than once:\n$p")
  }

  test("frontier leg broadcasts the per-host robots dim — no cartesian, no sort-merge join") {
    // at 100 TB the frontier is billions of candidate URLs against
    // millions of robots.txt rows — the robots dim must reach the
    // verdict as a broadcast hash join on host, and the only big
    // exchange is the seen-set collapse on the canonical key
    val p = plan("llm_url_frontier")
    assert(p.contains("BroadcastHashJoin"), s"robots join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "frontier must never cross-join candidates with policies")
    assert(!p.contains("SortMergeJoin"), "robots dim must not shuffle-sort")
  }

  test("url-normalize and robots-filter legs are zero-boundary codegen scans") {
    for (q <- Seq("llm_url_normalize", "llm_robots_filter", "llm_sitemap_seeds")) {
      val p = plan(q)
      assert(!p.contains("UDF("), s"$q must carry no Scala UDF")
      assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
        s"$q acquired an object boundary:\n$p")
      assert(!p.contains("Exchange"), s"$q acquired a shuffle:\n$p")
    }
  }

  test("frontier map side is fully columnar: link/resolve/canon/robots kernels, zero object boundaries") {
    // the per-URL hot path (discover from markup, absolutize,
    // canonicalize, key, verdict) must run inside WholeStageCodegen —
    // no typed lambdas, no ScalaUDF, no DeserializeToObject anywhere
    val p = plan("llm_url_frontier")
    assert(p.contains("graft_html_links"), s"frontier candidates no longer DISCOVERED from markup:\n$p")
    assert(p.contains("graft_url_resolve"), s"frontier lost the resolve kernel:\n$p")
    assert(p.contains("graft_url_canon"), s"frontier lost the canon kernel:\n$p")
    assert(p.contains("graft_robots_allowed"), s"frontier lost the verdict kernel:\n$p")
    assert(!p.contains("UDF("), "frontier must carry no Scala UDF")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"frontier acquired an object-serialization boundary:\n$p")
  }

  test("politeness schedule adds exactly ONE host exchange and never a global sort") {
    // hosts are independent fetch queues: the per-host window needs
    // one hash repartition on host (after the frontier's own dedup
    // exchange) and a PER-PARTITION sort — a global (range) sort
    // across billions of URLs would be a single-point bottleneck
    val p = plan("llm_frontier_schedule")
    assert("Exchange hashpartitioning\\(host".r.findAllMatchIn(p).size == 1,
      s"window must cluster by host with exactly one exchange:\n$p")
    assert(!p.contains("rangepartitioning"), s"schedule acquired a GLOBAL sort:\n$p")
    // the full fact-path budget: the frontier's own dedup exchange on
    // canonical_url + the ONE host exchange above; the only other
    // hash exchanges allowed are the two tiny per-host dims'
    // distinct(source) (robots policies + Crawl-delays), each feeding
    // a broadcast
    assert("Exchange hashpartitioning\\(canonical_url".r.findAllMatchIn(p).size == 1,
      s"frontier dedup must stay a single canonical_url exchange:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 4,
      s"dedup + host window + 2 dim distincts = exactly four hash exchanges, saw $shuffles:\n$p")
    // the Crawl-delay kernel does NOT appear in this plan — and that
    // is the pin: the dim's policy column is a literal `when`, so
    // Catalyst's PushFoldableIntoBranches + constant folding evaluate
    // `graft_crawl_delay` at PLAN time (the parse costs zero at
    // runtime; over a real robots column it stays a per-row kernel,
    // which KernelParitySpec covers). What must not appear either way
    // is an interpreted boundary:
    assert(!p.contains("UDF("), s"schedule's delay lookup fell back to a Scala UDF:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the delay dim must broadcast, never sort-merge:\n$p")
    assert(p.contains("Window"), s"schedule lost the window operator:\n$p")
  }

  test("outlink-discovery leg is a shuffle-free codegen scan: extract → resolve → canon") {
    // at 100 TB link discovery is a pure per-page map — embarrassingly
    // parallel, output-sized, ZERO exchanges; the whole chain must be
    // the three kernels inside one scan projection (+ the explode)
    val p = plan("llm_html_links")
    for (k <- Seq("graft_html_links", "graft_url_resolve", "graft_url_canon"))
      assert(p.contains(k), s"llm_html_links lost kernel $k:\n$p")
    assert(!p.contains("UDF("), "llm_html_links must carry no Scala UDF")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"llm_html_links acquired an object boundary:\n$p")
    assert(!p.contains("Exchange"), s"llm_html_links acquired a shuffle:\n$p")
  }

  test("link-graph edge build: columnar discover chain, exactly one exchange") {
    // at 100 TB the edge build is a map-only scan over the crawled
    // pages (extract → resolve → canon → host, all kernels) feeding
    // ONE partial-agged hash exchange — the edge groupBy, the
    // operator's own output key; any second shuffle or object
    // boundary on this path multiplies the corpus-sized stage
    val p = plan("llm_link_graph")
    for (k <- Seq("graft_html_links", "graft_url_resolve", "graft_url_canon"))
      assert(p.contains(k), s"llm_link_graph lost kernel $k:\n$p")
    assert(!p.contains("UDF("), "llm_link_graph must carry no Scala UDF")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"llm_link_graph acquired an object boundary:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(shuffles == 1,
      s"edge groupBy must be the only exchange, saw $shuffles:\n$p")
  }

  test("PageRank iteration: one broadcast equi-join, one hash exchange, no sorts") {
    // at web scale the edge table is corpus-sized and pre-materialized
    // once; each power-iteration step must move only the host-sized
    // rank vector. r22 shape: the rank vector BROADCASTS explicitly
    // into the edge join (never a sort-merge that would re-shuffle the
    // edge table, never a nested loop), and the per-node zero rows
    // union into the contrib aggregation — so the step's ONLY hash
    // exchange is the partial-agged contrib sum on the output host key
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src_host", "dst_host")
    val edeg = edges.join(
      edges.groupBy("src_host").agg(count(lit(1)).as("outdeg")), "src_host")
    val nodes = Seq("a", "b", "c").toDF("host")
    val ranks = nodes.select(col("host"), lit(1000000L).as("rank"))
    val p = graft.operators.LinkGraph.rankStep(nodes, edeg, ranks, 50L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank step acquired a non-equi join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rank vector must broadcast into the edge join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rank join must not sort-merge (re-shuffles the edge table):\n$p")
    // count the STEP's own exchanges (keyed on the output host column;
    // the test's inline edeg input pays its own build-time outdeg
    // exchange, which is not part of the step)
    assert("Exchange hashpartitioning\\(host".r.findAllMatchIn(p).size == 1,
      s"contrib aggregation must be the single step exchange:\n$p")
    assert(!p.contains("UDF("), s"rank arithmetic must stay codegen:\n$p")
  }

  test("PageRank step plans zero edge-side exchanges even with auto-broadcast off") {
    // the scale claim made concrete: the rank-vector broadcast is an
    // explicit hint, not an AQE size estimate — with auto-broadcast
    // and AQE out of the way the step STILL streams the corpus-sized
    // edge side in place (no src_host exchange anywhere); only the
    // host-sized contrib aggregate moves
    import org.apache.spark.sql.functions.{col, lit}
    val conf = spark.sessionState.conf
    val prevB = conf.getConfString("spark.sql.autoBroadcastJoinThreshold")
    val prevA = conf.getConfString("spark.sql.adaptive.enabled")
    try {
      conf.setConfString("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.setConfString("spark.sql.adaptive.enabled", "false")
      val edges = graft.operators.LinkGraph.edgeSet(spark, TestSpark.sf)
      val edeg = graft.operators.LinkGraph.edgeDeg(edges)
      // nodes checkpointed exactly as hostRankWithN does — the zeros
      // branch of the step's union reads materialized blocks, not a
      // re-run of the node-universe aggregation
      val nodes = {
        import graft.operators.Ckpt.CkptOps
        graft.operators.LinkGraph.nodesOf(edges).ckptLocal()
      }
      val ranks = nodes.select(col("host"), lit(1000000L).as("rank"))
      val p = graft.operators.LinkGraph.rankStep(nodes, edeg, ranks, 50L)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(src_host".r.findAllMatchIn(p).isEmpty,
        s"edge side re-shuffled on src_host:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"rank vector must broadcast by hint, not by size estimate:\n$p")
      assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1,
        s"contrib aggregation must be the single hash exchange:\n$p")
    } finally {
      conf.setConfString("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.setConfString("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("PQ ADC scans rank on the graft_adc kernel, not an interpreted fold") {
    // round-14 verdict item 1: the ADC table-lookup sum was the last
    // interpreted aggregate(transform(...)) lambda in a hot scan —
    // pin that both ADC queries plan the fused kernel (only the
    // fold fallback materializes a `sequence(0, m-1)` index array)
    for (q <- Seq("llm_ann_pq", "llm_ann_ivfpq")) {
      val p = plan(q)
      assert(p.contains("graft_adc"), s"$q ADC scan off the kernel:\n$p")
      assert(!p.contains("sequence(0"), s"$q: interpreted ADC fold resurfaced")
      assert(!p.contains("UDF("), s"$q ADC path must carry no Scala UDF")
    }
  }

  test("IVFADC probe joins codes to probed cells by broadcast hash on the cell id") {
    // round-14 verdict item 5: the candidate scan's codes⋈probeCells
    // join IS the nprobe/k prune (a partition-pruned read at 100 TB)
    // — it must plan as a broadcast hash join keyed on `cluster`,
    // never a cartesian/nested-loop (all-pairs would defeat IVF) and
    // never a sort-merge that shuffles the whole codes table
    val p = plan("llm_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin") && p.contains("cluster"),
      s"IVFADC candidate scan is not a broadcast hash join on cluster:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVFADC probe degenerated to an all-pairs join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"IVFADC probe must not shuffle the codes table into a sort-merge join:\n$p")
  }

  test("frontier kernels stay LINEAR under megabyte hostile input inside a distributed scan") {
    // executor-side twin of the unit timing pins (UrlsSpec star-free
    // linearity, RobotsSpec step budget, HtmlSpec attr walk): drive
    // megabyte URL / robots / HTML / ref bombs through the codegen'd
    // kernels inside a REAL scan — 64 rows × ~1.5 MB of hostile
    // bytes per row — and bound wall time. Linear walks cost ~100 MB
    // of char work (seconds, even throttled); any quadratic
    // regression is ~1e15 steps and times out spectacularly.
    import org.apache.spark.sql.functions._
    import graft.sources.{Html, Robots, Urls}
    val rows = 64
    val df = spark.range(rows).toDF("id")
      .withColumn("dot_bomb",
        concat(lit("http://h.example.com"), repeat(lit("/a/."), 60000)))
      .withColumn("esc_bomb", // malformed %-escapes, never decodable
        concat(lit("http://h.example.com/"), repeat(lit("%4"), 120000)))
      .withColumn("star_policy",
        concat(lit("User-agent: *\nDisallow: /*"), repeat(lit("a"), 2000), lit("b\n")))
      .withColumn("long_path", concat(lit("/"), repeat(lit("a"), 100000)))
      .withColumn("attr_bomb",
        concat(lit("<a "), repeat(lit("x=y "), 100000), lit("href=/z>")))
      .withColumn("ref_bomb", concat(repeat(lit("../"), 100000), lit("g")))
    val t0 = System.nanoTime()
    val agg = df.select(
      sum(length(coalesce(Urls.canonCol(col("dot_bomb")), lit("")))).as("dot"),
      sum(length(coalesce(Urls.canonCol(col("esc_bomb")), lit("")))).as("esc"),
      sum(when(Robots.allowedCol(col("star_policy"), col("long_path")), 1L)
        .otherwise(0L)).as("star_allowed"),
      sum(size(Html.linksCol(col("attr_bomb")))).as("links"),
      sum(length(coalesce(Urls.resolveCol(
        lit("http://a/b/c"), col("ref_bomb")), lit("")))).as("resolved"))
      .collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60.0, s"hostile distributed scan took $sec s — a kernel went nonlinear")
    // semantic spot-checks: the bombs exercised the code they target
    assert(agg.getLong(0) > 0, "dot bomb must canonicalize (collapsed), not null out")
    assert(agg.getLong(1) > 0, "malformed escapes pass through, URL still canonicalizes")
    assert(agg.getLong(2) == 0L,
      "star-bomb policy must fail CLOSED on every row — no politeness violations")
    assert(agg.getLong(3) == rows.toLong, "attr bomb still yields its one real href per row")
    assert(agg.getLong(4) == rows * "http://a/g".length.toLong,
      "../ bomb must resolve to the root, linearly")
  }
}

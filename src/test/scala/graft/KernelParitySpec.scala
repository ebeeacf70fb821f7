package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Llm
import graft.plans.Kernels

/** Whole-query drift pin between the kernels and the independent SQL
  * reference formulations.
  *
  * The kernel call sites that keep a reference formulation (MinHash
  * fold, SimHash, band hashes, ADC, char/gram run stats, gram hashes,
  * fingerprint, winnow, term counts, segments, postings, cosine,
  * SRP, dequant, centroid, wire decode) select it with `Llm.kernelOn`
  * from `spark.graft.kernels.enabled`. Each test below runs a declared
  * query (or the wire decode) twice: with kernels on in the extension session, and with
  * kernels disabled in a session whose function registry has no
  * `graft_*` names — a deployment that never registered
  * `GraftExtensions`. The per-expression bit-parity tests (LlmSpec /
  * PropertySpec) prove each kernel equals its reference FORMULA;
  * this proves each operator actually WIRES the equivalent pair, so
  * the reference path hash-matches the oracle too. Queries whose
  * only kernels have no reference formulation (html, frontier, link
  * graph, language ID, BPE) run the same kernels on both sides, so
  * for them the pin is that a session without the extension
  * computes the same rows.
  *
  * `llm_ann_ivf` is the one exception to exact equality: within one
  * path Lloyd is reproducible (the training layout is width-pinned,
  * so partial sums merge in a fixed order — verified identical at
  * local[4] vs local[32]), but the kernel and fallback paths compute
  * the assignment distance with differently-associated float
  * arithmetic, so the two codebooks can differ in the last ulp and
  * flip a boundary assignment. Its pin is per-probe neighbor-set
  * overlap instead.
  */
class KernelParitySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private def spark = TestSpark.spark
  private val dir = TestSpark.sf

  /** Column-name-sorted, row-sorted, null/array/struct-normalized
    * textual form — the same canonicalization shape the driver's
    * oracle compare uses. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*)
      .collect()
      .map(_.toSeq.map {
        case null                              => "∅"
        case a: Seq[_]                         => a.mkString("[", ",", "]")
        case m: scala.collection.Map[_, _]     =>
          m.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString("{", ",", "}")
        case b: Array[Byte]                    => b.map("%02x".format(_)).mkString
        case x                                 => x.toString
      }.mkString(""))
      .sorted.toSeq
  }

  /** A session whose function registry has no `graft_*` names. */
  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    Kernels.names.foreach(n => s.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $n"))
    s
  }

  /** `body` in the extension session with kernels on, or in the bare
    * session with kernels disabled (the reference formulations). */
  private def withKernels[A](on: Boolean)(body: SparkSession => A): A =
    if (on) body(spark)
    else {
      bare.conf.set("spark.graft.kernels.enabled", "false")
      try body(bare)
      finally bare.conf.unset("spark.graft.kernels.enabled")
    }

  // Minimal declared-query set covering every kernelOn site:
  // minhashSig + bandHashesExpr (dedup_near, dedup_clusters,
  // dedup_near_incr), curate's stats + band path (curate),
  // simhashSigs (simhash_pairs), vocabTopK, charEntropy,
  // repetitionOn, contaminationOn, dedupEmbed's pair cosine,
  // fingerprintOn, cosineSim (knn_exact), annLsh's SRP buckets,
  // segmentDedupOn, unigramLogprobOn, invertedIndex's postings
  // digest, tfidfTermsOn, knnQuantized's dequantize-dot + rerank
  // cosine (both kernels keep the fallback's association order, so
  // the quantized path pins EXACT despite being float-heavy).
  private val covering = Seq(
    "llm_dedup_near", "llm_dedup_clusters", "llm_curate",
    "llm_simhash_pairs", "llm_vocab_topk", "llm_char_entropy",
    "llm_repetition", "llm_contamination", "llm_dedup_embed",
    "llm_fingerprint", "llm_knn_exact", "llm_ann_lsh",
    "llm_segment_dedup", "llm_unigram_logprob", "llm_inverted_index",
    "llm_tfidf_terms", "llm_knn_quantized", "llm_dedup_near_incr",
    // PQ family: codebooks + candidates are typed code (kernel-free
    // and layout-pinned), so only the ADC scan + re-rank cosine cross
    // the gate — exact parity holds, unlike IVF's float-boundary case
    // (llm_ann_probe additionally crosses the parquet snapshot)
    "llm_ann_pq", "llm_ann_ivfpq", "llm_ann_probe",
    // html extraction / frontier / language ID: kernels only (no
    // reference formulation), so these pin the session without the
    // extension
    "llm_html_extract", "llm_crawl_extract", "llm_url_frontier",
    "llm_url_normalize", "llm_robots_filter", "llm_html_links",
    "llm_lang_id", "llm_frontier_schedule", "llm_sitemap_seeds",
    "llm_sitemap_urls", "llm_anchor_terms",
    // link-graph and BPE families: kernels only, like the html legs
    "llm_link_graph", "llm_host_rank", "llm_host_rank_warm",
    "llm_mix_ranked", "llm_link_bfs", "llm_link_incr",
    "llm_bpe_tokenize", "llm_chunk_bpe",
    // winnowing family: graft_winnow vs the gram-explode + two-window
    // SQL formulation (LlmSpec pins the selected sets; these pin the
    // three registry queries end-to-end)
    "llm_winnow", "llm_dup_spans", "llm_dup_coverage", "llm_dup_sources")

  for (q <- covering)
    test(s"$q is identical with kernels disabled") {
      val on  = withKernels(on = true)(s => canon(SparkEntry.queries(q)(s, dir)))
      val off = withKernels(on = false)(s => canon(SparkEntry.queries(q)(s, dir)))
      assert(on.nonEmpty, s"$q returned no rows — parity would be vacuous")
      assert(off == on, s"$q diverges between kernel and fallback paths")
    }

  test("wire decode is identical with kernels disabled") {
    // graft_wire_decode with from_json for its rejects, against
    // from_json alone: the sf events as wire rows, json.dumps-spaced
    // copies, and rows the kernel hands to from_json
    def decoded(s: SparkSession): Seq[String] = {
      import s.implicits._
      val wire = graft.streaming.Streaming.wireEncode(graft.sources.Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value"))
      val spaced = wire.select(org.apache.spark.sql.functions.regexp_replace(
        col("value"), "([:,])", "$1 ").as("value"))
      val odd = Seq("{not json", """{"event_id": null}""", """{"event_id":-0,"value":-0}""",
        """{"event_id":1,"ts":"2024-01-01T10:00:00","user_id":2,"event_type":"x","value":1}""",
        """{"event_id":2,"ts":1704103200,"user_id":2,"event_type":"café","value":"NaN"}""").toDF("value")
      canon(graft.streaming.Streaming.wireDecode(wire.union(spaced).union(odd)))
    }
    val on = withKernels(on = true)(decoded)
    assert(on.nonEmpty)
    assert(withKernels(on = false)(decoded) == on)
  }

  test("importance is identical with kernels disabled") {
    // graft_json_int with get_json_object for its rejects, against
    // get_json_object alone: the sf events, and a copy whose props the
    // kernel partly hands to get_json_object (spacing, other members,
    // a quoted, NULL, missing or repeated k, nesting, escapes)
    import org.apache.spark.sql.functions.{element_at, lit, typedLit}
    val odd = Seq("""{"k": 7}""", """{ "k" :12 , "species": "ant" }""", """{"k": "9"}""",
      """{"k": null}""", """{"a": 1}""", """{"k": 4, "k": 5}""", """{"k": 3, "nest": {"k": 8}}""",
      """{"\u006b": 6}""", """{"k": 2, "s": "caf\u00e9"}""", "{not json", "")
    val oddDir = java.nio.file.Files.createTempDirectory("graft_importance_props").toString
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("props", element_at(typedLit(odd), (col("event_id") % odd.size).cast("int") + lit(1)))
      .write.parquet(s"$oddDir/events.parquet")
    for (d <- Seq(dir, oddDir)) {
      val on  = withKernels(on = true)(s => canon(graft.operators.Ecosystem.importance(s, d)))
      val off = withKernels(on = false)(s => canon(graft.operators.Ecosystem.importance(s, d)))
      assert(on.size == 5, s"$d: ${on.size} importance rows")
      assert(off == on, s"$d: importance diverges between kernel and fallback paths")
    }
  }

  test("a session that disables the kernels logs one WARN, once") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("kernels-off", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Llm.getClass.getName).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val a = spark.newSession()
      val b = spark.newSession()
      a.conf.set("spark.graft.kernels.enabled", "false")
      b.conf.set("spark.graft.kernels.enabled", "off")
      assert(!Llm.kernelOn(a) && !Llm.kernelOn(a) && !Llm.kernelOn(b) && !Llm.kernelOn(b))
      assert(Llm.kernelOn(spark))
      assert(warned.size == 2 && warned.iterator.next().contains("SQL reference formulations"),
        s"expected one WARN per kernels-off session, got $warned")
    } finally { logger.removeAppender(appender); appender.stop() }
  }

  // No silent slow path: without the extension's SQL names the
  // operators still plan their kernels, inside WholeStageCodegen,
  // with no ScalaUDF — and answer exactly what the extension
  // session answers.
  test("kernels run inside WholeStageCodegen in a session without GraftExtensions") {
    assert(Kernels.names.forall(n => !bare.catalog.functionExists(n)))
    for ((q, kernel) <- Seq("llm_lang_id" -> "graft_lang_id",
        "llm_html_extract" -> "graft_html_text", "llm_bpe_tokenize" -> "graft_bpe_tokens",
        "llm_url_frontier" -> "graft_robots_allowed", "llm_winnow" -> "graft_winnow"))
      withClue(s"$q: ") {
        val df = SparkEntry.queries(q)(bare, dir)
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(plan.treeString.linesIterator.exists(l => l.contains(kernel) && l.contains("*(")),
          s"$kernel is not called inside WholeStageCodegen:\n$plan")
        // structural: a ScalaUDF prints as `UDF(...)`, not by class name
        val udfs = collectWithSubqueries(plan) {
          case p if p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p.nodeName
        }
        assert(udfs.isEmpty, s"ScalaUDF in the plan:\n$plan")
        assert(canon(df) == canon(SparkEntry.queries(q)(spark, dir)))
      }
  }

  test("llm_ann_ivf neighbor sets overlap with kernels disabled") {
    def neighbors(s: SparkSession): Map[Long, Set[Long]] =
      Llm.annIvf(s, dir)
        .select(col("probe_id"), col("vec_id"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val on  = withKernels(on = true)(neighbors)
    val off = withKernels(on = false)(neighbors)
    assert(on.keySet == off.keySet)
    val overlaps = on.keySet.toSeq.map { p =>
      val (a, b) = (on(p), off(p))
      a.intersect(b).size.toDouble / a.union(b).size.max(1)
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.9,
      s"mean per-probe neighbor overlap $mean < 0.9 between kernel and fallback paths")
  }

  // Expression-level bit parity for the ADC kernel (the whole-query
  // rows above cover the wiring; this pins the FORMULA on adversarial
  // inputs — byte values up to ks−1 including the sign-bit range a
  // packed byte misreads without the & 0xFF, and ptab entries of
  // mixed magnitude where fold order shows up in the last ulp).
  test("graft_adc equals the HOF table-lookup fold bit-for-bit") {
    val sp = spark
    import sp.implicits._
    for ((m, ks) <- Seq((16, 16), (8, 256))) withClue(s"m=$m ks=$ks: ") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 64).map { i =>
      val ptab = Array.fill(m * ks)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 3))
      val code = Array.fill(m)(rnd.nextInt(ks).toByte)
      (i, ptab.toSeq, code)
    }
    val df = rows.toDF("id", "ptab", "code")
    val kernel = df.selectExpr("id", s"graft_adc(ptab, code, $ks) as s")
    val fold = df.selectExpr("id",
      s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
          (a, j) -> a + element_at(ptab,
            j * $ks + cast(conv(hex(substring(code, j + 1, 1)), 16, 10) as int) + 1)) as s""")
    val k = kernel.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val f = fold.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(k.keySet == f.keySet)
    for ((id, kv) <- k)
      assert(java.lang.Double.doubleToLongBits(kv) == java.lang.Double.doubleToLongBits(f(id)),
        s"row $id: kernel $kv != fold ${f(id)} (bit-level)")
    }
  }

  // embedNearDup is not a declared query (the synthetic embeddings
  // are near-orthogonal noise with no pairs at its default 0.9
  // threshold); cover its SRP-bucket + verify-cosine sites at a low
  // threshold where real pairs exist.
  test("embed near-dup pairs are identical with kernels disabled") {
    val on  = withKernels(on = true)(s => canon(Llm.embedNearDup(s, dir, 0.25)))
    val off = withKernels(on = false)(s => canon(Llm.embedNearDup(s, dir, 0.25)))
    assert(on.nonEmpty, "no pairs at threshold 0.25 — lower it so the pin bites")
    assert(off == on, "embedNearDup diverges between kernel and fallback paths")
  }
}

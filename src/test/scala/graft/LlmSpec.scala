package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Llm

class LlmSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("exact dedup partitions the corpus (group sizes sum to doc count)") {
    val rows = Llm.dedupExact(spark, TestSpark.sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    assert(rows.forall(_.getLong(2) >= 0))
  }

  test("near-dup LSH finds every planted pair, all verified >= 0.8") {
    val pairs = Llm.dedupNear(spark, TestSpark.sf).collect()
    // 28 pairs exceed jaccard 0.8 in the sf0.001 corpus (computed
    // independently with an all-pairs DuckDB query). Pinning the
    // exact count catches LSH recall regressions — a degenerate hash
    // family once silently dropped subset-pairs while everything
    // else stayed green.
    assert(pairs.length == 28, s"expected all 28 planted pairs, got ${pairs.length}")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered")
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("duplicate-heavy corpus: LSH candidates stay O(groups), output still O(cluster²) pairs") {
    import spark.implicits._
    // 200 exact duplicates of one text + 10 mutually-distinct docs:
    // the web-corpus shape that makes uncollapsed band buckets
    // quadratic (C(200,2) = 19900 candidate pairs from every band).
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val cluster = (0L until 200L).map(i => (i, base))
    val uniques = (200L until 210L).map(i =>
      (i, s"unrelated document ${i} speaks only of topic${i} and thing${i * 7} entirely"))
    val docs = (cluster ++ uniques).toDF("doc_id", "text")
    // candidate generation runs on exact-dup GROUP representatives:
    // 11 groups -> at most C(11,2) = 55 candidates, never 19900+.
    val groups = Llm.buildNearDupIndex(docs).groups
    val cand = Llm.bandPairs(groups, groups, _ < _).collect()
    assert(cand.length <= 55, s"candidate pairs ${cand.length} — duplicate cluster not collapsed")
    // the declared output still carries every intra-cluster pair at
    // jaccard 1.0 (the oracle's all-pairs contract), and nothing else
    val pairs = Llm.dedupNearOn(docs).collect()
    assert(pairs.length == 199 * 100, s"expected C(200,2) pairs, got ${pairs.length}")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1) && r.getLong(1) < 200L)
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("simhash pairs are within hamming 3 and consistent with signatures") {
    val sig = Llm.simhash(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Llm.simhashPairs(spark, TestSpark.sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val ham = java.lang.Long.bitCount(sig(r.getLong(0)) ^ sig(r.getLong(1)))
      assert(ham == r.getLong(2) && ham <= 3)
    }
  }

  test("knn exact: 10 ranked neighbors per probe, sims in [-1, 1], self excluded") {
    val rows = Llm.knnExact(spark, TestSpark.sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.foreach { case (pid, rs) =>
      assert(rs.length == 10)
      assert(rs.map(_.getInt(3)).sorted.sameElements(1 to 10))
      assert(rs.forall(r => r.getLong(1) != pid))
      assert(rs.forall(r => math.abs(r.getDouble(2)) <= 1.0))
      // ranking is by descending similarity
      val sorted = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ANN LSH recall@10 beats random selection by a wide margin") {
    val exact = Llm.knnExact(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Llm.annLsh(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    // near-orthogonal noise corpus: 16x6 LSH lands ~0.5; random top-10
    // from ~20% candidates would land ~0.2
    assert(recall >= 0.35, s"recall@10 $recall below floor")
  }

  test("IVF ANN: clusters prune the search space, recall beats random selection") {
    val exact = Llm.knnExact(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Llm.annIvf(spark, TestSpark.sf, k = 16, nprobe = 4).collect()
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivfPairs).size.toDouble / exact.size
    // near-orthogonal noise corpus (see annLsh note): nprobe/k = 1/4 of
    // the lists searched -> random-selection recall would be ~0.25
    assert(recall >= 0.3, s"IVF recall@10 $recall below floor")
    // every probe still returns a full ranked top-10 from its lists
    assert(ivf.groupBy(_.getLong(0)).forall(_._2.length == 10))
  }

  test("fingerprints: ~1/16 selection rate, identical docs share identical digests") {
    val rows = Llm.fingerprint(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val nGrams = rows.map(_.getLong(1)).sum
    val nSel = rows.map(_.getLong(2)).sum
    val rate = nSel.toDouble / nGrams
    assert(rate > 1.0 / 32 && rate < 1.0 / 8, s"selection rate $rate far from 1/16")
    // bit-level pin: replicate doc 0's full digest independently in
    // plain Scala (MessageDigest md5, same 14-hex-digit prefix)
    val text0 = graft.sources.Tables.documents(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 0L)
      .select("text").head().getString(0)
    val t = text0.toLowerCase.trim.replaceAll("\\s+", " ")
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    val hs = (0 to t.length - 8).map { i =>
      val hex = mdInst.digest(t.substring(i, i + 8).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16)
    }
    val sel = hs.filter(_ % 16 == 0)
    val row0 = rows.find(_.getLong(0) == 0L).get
    assert(row0.getLong(1) == hs.length && row0.getLong(2) == sel.length)
    assert(row0.getLong(3) == (if (sel.isEmpty) -1L else sel.min))
    assert(row0.getLong(4) == (if (sel.isEmpty) -1L else sel.reduce(_ ^ _)))
    // whitespace-normalization invariance: the fingerprint is a
    // CONTENT digest — reformatting must not change it
    import spark.implicits._
    val messy = Seq((1L, "alpha beta gamma delta epsilon zeta"),
                    (2L, "  alpha   beta\tgamma\n delta  epsilon  zeta "))
      .toDF("doc_id", "text")
    // run the same fingerprint pipeline over a synthetic frame via a
    // temp view + the library's normalization contract
    val digest = Llm.fingerprintOn(messy).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).distinct
    assert(digest.length == 1, s"whitespace variants must share one digest: $digest")
  }

  test("embedding near-dup finds planted clusters via LSH, exact precision") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // 5 clusters of 6 vectors each (base + 1% noise -> cosine ~0.999),
    // plus 70 isolated random vectors
    val vecs = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    var id = 0L
    for (_ <- 0 until 5) {
      val base = unit(Array.fill(64)(rnd.nextGaussian()))
      for (_ <- 0 until 6) {
        vecs += ((id, unit(base.map(_ + 0.01 * rnd.nextGaussian())).toSeq)); id += 1
      }
    }
    for (_ <- 0 until 70) {
      vecs += ((id, unit(Array.fill(64)(rnd.nextGaussian())).toSeq)); id += 1
    }
    val df = vecs.toSeq.toDF("vec_id", "v")
    val pairs = Llm.embedNearDupOn(spark, df, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every intra-cluster pair found (5 clusters x C(6,2) = 75)...
    val expected = (for (c <- 0 until 5; a <- 0 until 6; b <- a + 1 until 6)
      yield ((c * 6 + a).toLong, (c * 6 + b).toLong)).toSet
    assert(expected.subsetOf(pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }),
      s"missing planted pairs: ${(expected -- pairs).take(5)}")
    // ...and nothing else (random 64-dim vectors never reach 0.95)
    assert(pairs.size == 75, s"false positives: ${pairs.size - 75}")
  }

  test("quality scores are in (0, 1] and token stats cover all docs") {
    val q = Llm.quality(spark, TestSpark.sf).collect()
    assert(q.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= 1.0))
    val stats = Llm.textStats(spark, TestSpark.sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.sf).count()
    assert(stats.map(_.getLong(1)).sum == nDocs)
  }

  test("dedup clusters: exact + near edges close transitively, label = min doc_id") {
    import spark.implicits._
    // words w1..w40 all distinct; textB = textA with the LAST word
    // changed -> 3-gram jaccard 35/41 ~ 0.854 >= 0.8 (near pair);
    // textC shares nothing with A/B. Cluster law under test: doc 2 is
    // only NEAR doc 0/1 (never byte-equal), docs 0/1 are only EXACTLY
    // equal, yet all three must land in one cluster via the union of
    // the two edge kinds.
    val textA = (1 to 40).map(i => s"w$i").mkString(" ")
    val textB = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val textC = (1 to 40).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      0L -> textA, 1L -> textA, 2L -> textB, // one cluster {0,1,2}
      3L -> textC, 4L -> textC,              // exact-only cluster {3,4}
      5L -> "lone short doc entirely"        // singleton
    ).toDF("doc_id", "text")
    val out = Llm.dedupClustersOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L), "every doc labeled exactly once")
    for (d <- Seq(0L, 1L, 2L)) assert(out(d) == (0L, 3L), s"doc $d: ${out(d)}")
    for (d <- Seq(3L, 4L)) assert(out(d) == (3L, 2L), s"doc $d: ${out(d)}")
    assert(out(5L) == (5L, 1L))
  }

  test("split folds partition every doc deterministically at the pinned 80/10/10 hash ratios") {
    val a = Llm.splitFolds(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Llm.splitFolds(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split assignment must be a pure function of doc_id")
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.sf).count()
    assert(a.size == nDocs, "every doc gets exactly one split")
    // exact counts for this corpus's ids under the salted md5 bucket
    // (computed independently in DuckDB) — pins the hash family
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts == Map("train" -> 398, "val" -> 39, "test" -> 63), s"got $counts")
  }

  test("repetition metrics: degenerate looping doc vs repeat-free doc") {
    import spark.implicits._
    // doc 0 "a a a a": bigrams (a a)x3 -> top_bigram_frac 1.0;
    // trigrams (a a a)x2, 1 distinct -> dup_trigram_frac 0.5.
    // doc 1 has all-distinct grams -> 1/3 and 0. doc 2 (< 3 tokens)
    // is outside the domain.
    val docs = Seq(0L -> "a a a a", 1L -> "b c d e", 2L -> "x y")
      .toDF("doc_id", "text")
    val out = Llm.repetitionOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == ((3L, 1.0, 0.5)), s"looping doc: ${out(0L)}")
    assert(out(1L) == ((3L, 0.333333, 0.0)), s"clean doc: ${out(1L)}")
  }

  test("contamination: eval doc duplicated from train scores 1.0, fresh doc 0.0") {
    import spark.implicits._
    // Split assignment is a pure function of doc_id (salted md5
    // bucket), so compute it here with the same arithmetic and pick
    // ids on the needed sides of the 80/90 cut.
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(14), 16) % 100
    }
    val ids = (0L until 64L)
    val trainId = ids.find(bucket(_) < 80).get
    val evalIds = ids.filter(bucket(_) >= 80)
    val dupEval = evalIds.head   // exact copy of the train doc
    val freshEval = evalIds(1)   // no 8-gram shared with train
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      trainId -> shared, dupEval -> shared,
      freshEval -> (1 to 12).map(i => s"f$i").mkString(" ")
    ).toDF("doc_id", "text")
    val out = Llm.contaminationOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(dupEval, freshEval), "train docs never appear in the report")
    assert(out(dupEval) == ((5L, 5L, 1.0)), s"contaminated doc: ${out(dupEval)}")
    assert(out(freshEval) == ((5L, 0L, 0.0)), s"fresh doc: ${out(freshEval)}")
  }

  test("stratified sample: per-source caps, contiguous ranks, deterministic") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Llm.sampleStratified(spark, TestSpark.sf, cap = 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = out.groupBy(_._2)
    assert(bySource.keySet == perSource.keySet, "no source dropped entirely")
    for ((src, rows) <- bySource) {
      assert(rows.length == math.min(20L, perSource(src)), s"$src cap violated")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq, s"$src ranks not contiguous")
    }
    // shrinking the cap must select a prefix of the same ranking —
    // the property that makes the sample stable as the cap is tuned
    val small = Llm.sampleStratified(spark, TestSpark.sf, cap = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(small == out.filter(_._3 <= 5L).toSet, "cap=5 is not a prefix of cap=20")
  }

  test("incremental dedup: survivors are new-batch only, disjoint from existing hashes") {
    import spark.implicits._
    // existing corpus (src0..9): texts A, B; new batch (src10..19):
    // one dup of A (dropped), two copies of C (collapse to min id),
    // one fresh D. Survivors: C (n=2, keep=min), D (n=1).
    val docs = Seq(
      (1L, "alpha beta gamma", "src0"),
      (2L, "delta epsilon zeta", "src3"),
      (10L, "alpha beta gamma", "src11"),   // dup of existing A
      (11L, "shared new text here", "src12"),
      (12L, "shared new text here", "src15"),
      (13L, "entirely fresh content", "src19")
    ).toDF("doc_id", "text", "source")
    val out = Llm.dedupIncrementalOn(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(11L -> 2L, 13L -> 1L), s"got $out")
    // the bloom-prefiltered twin must produce the identical result on
    // the same fixture (the dup-of-existing row MUST hit the bloom
    // and die in the confirm join; the fresh rows survive either via
    // bloom miss or as false positives cleared by the join)
    val outB = Llm.dedupBloomOn(docs).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(outB == out, s"bloom twin diverged: $outB")
  }

  test("incremental near-dup: cross-era pairs only, exact and fuzzy, thresholds honored") {
    import spark.implicits._
    // T1 = 12 distinct tokens -> 10 3-gram shingles; a one-token tail
    // edit shares 9 of 11 union shingles = jaccard 9/11 ≈ 0.818182
    val t1 = (1 to 12).map(i => s"t$i").mkString(" ")
    def tailEdit(last: String) = ((1 to 11).map(i => s"t$i") :+ last).mkString(" ")
    val midEdit = ((1 to 4).map(i => s"t$i") ++ Seq("a", "b", "c") ++
      (8 to 12).map(i => s"t$i")).mkString(" ")  // 5 of 10 shingles differ -> 1/3
    val docs = Seq(
      (1L, t1, "src0"),                       // old: the anchor
      (2L, "unrelated words entirely distinct corpus", "src3"), // old: no match
      (3L, tailEdit("y12"), "src1"),          // old: near A1 (old x old must NOT emit)
      (4L, "hi there", "src2"),               // old: short (< 3 tokens, out of domain)
      (10L, t1.replace(" ", "  "), "src12"),  // new: exact dup of A1 (normalizes equal)
      (11L, tailEdit("x12"), "src15"),        // new: near A1 and A3
      (12L, midEdit, "src19"),                // new: jaccard 1/3 — below threshold
      (13L, tailEdit("x12"), "src11"),        // new: exact copy of 11 (same group)
      (14L, "hi there", "src17")              // new: short exact dup — out of domain
    ).toDF("doc_id", "text", "source")
    val got = Llm.dedupNearIncrementalOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val j = BigDecimal(9.0 / 11.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set(
      (10L, 1L, 1.0),       // same-group cross-era: exact path
      (11L, 1L, j), (13L, 1L, j),   // probe group vs old anchor
      (10L, 3L, j),                 // NEW member of the anchor group vs old near group
      (11L, 3L, j), (13L, 3L, j)),
      s"incremental near-dup drifted: $got")
  }

  test("near-dup index round-trips through parquet: probe(saved index) == probe(built index)") {
    // the crawl-cadence contract: the index built at corpus time is a
    // pair of plain columnar frames — persisting them and probing the
    // RELOADED copy must give the identical pair list, or the 'index
    // is precomputed, per-crawl cost is probe-sized' claim is prose
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"),
        (expr("cast(substring(source, 4, 10) as int)") < 10).as("is_old"))
    val old = docs.filter(col("is_old")).drop("is_old")
    val fresh = docs.filter(!col("is_old")).drop("is_old")
    val built = Llm.buildNearDupIndex(old)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndx").toString
    built.groups.write.parquet(s"$dir/groups")
    built.members.write.parquet(s"$dir/members")
    val reloaded = Llm.NearDupIndex(
      spark.read.parquet(s"$dir/groups"), spark.read.parquet(s"$dir/members"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = canon(Llm.probeNearDupIndex(built, fresh))
    val viaDisk = canon(Llm.probeNearDupIndex(reloaded, fresh))
    assert(direct.nonEmpty, "no cross-era pairs at this SF — round-trip vacuous")
    assert(viaDisk == direct, "reloaded index diverged from the built one")
  }

  test("incremental dedup twins agree on null-text rows (no NPE in the bloom probe)") {
    import spark.implicits._
    // null text ⇒ null md5 hash. The exact twin keeps such rows (a
    // null key never matches in left_anti); the bloom twin must route
    // them down the bloom-miss branch instead of NPE-ing in the probe
    // UDF, and both must group them under the null hash key.
    val docs = Seq(
      (1L, "alpha beta gamma", "src0"),
      (2L, null.asInstanceOf[String], "src2"),   // null in the EXISTING side too
      (10L, "alpha beta gamma", "src11"),        // dup of existing
      (11L, null.asInstanceOf[String], "src12"), // null in the new batch
      (12L, null.asInstanceOf[String], "src15"), // second null: same group
      (13L, "entirely fresh content", "src19")
    ).toDF("doc_id", "text", "source")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val exact = canon(Llm.dedupIncrementalOn(docs))
    val bloom = canon(Llm.dedupBloomOn(docs))
    assert(exact == Map(11L -> 2L, 13L -> 1L), s"exact twin got $exact")
    assert(bloom == exact, s"bloom twin diverged on nulls: $bloom")
  }

  test("bloom incremental dedup is bit-equal to the exact form on the real corpus") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = canon(Llm.dedupIncrementalOn(docs))
    val bloom = canon(Llm.dedupBloomOn(docs))
    assert(bloom == exact, "sketch prefilter must never change the answer")
    // engagement: the real corpus at this SF has NO cross-batch dups
    // (the confirm-join kill path is pinned by the synthetic fixture
    // above instead); here assert the bypass path carries real
    // volume — genuinely new texts that, at 1% fpp over hundreds of
    // distinct hashes, overwhelmingly skip the join as bloom misses
    // (P(all FP) ~ 0.01^distinct)
    import org.apache.spark.sql.functions._
    val d = docs.select(col("doc_id"),
      expr("cast(substring(source, 4, 10) as int)").as("src_n"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("text_hash"))
    val existingHashes = d.filter(col("src_n") < 10)
      .select("text_hash").distinct().collect().map(_.getString(0)).toSet
    val freshHashes = d.filter(col("src_n") >= 10)
      .select("text_hash").collect().map(_.getString(0))
    assert(freshHashes.nonEmpty && exact.nonEmpty)
    assert(freshHashes.exists(h => !existingHashes.contains(h)),
      "fixture no longer has new texts — bypass path untested")
  }

  test("PII scrub: counts each injected category, scrubbed text has no residual matches") {
    import spark.implicits._
    // doc_id 1001 = 7*11*13 + 0? (1001 = 7*11*13) — hits ALL three
    // injection branches; doc_id 3 hits none.
    val docs = Seq((1001L, "plain words only"), (3L, "nothing to see")).toDF("doc_id", "text")
    val rows = Llm.piiScrubOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1001L) == ((1L, 1L, 1L)), s"all three categories once: ${rows(1001L)}")
    assert(rows(3L) == ((0L, 0L, 0L)), "clean doc scrubs nothing")
    // the scrub hash of the clean doc equals md5 of its raw text —
    // redaction must be a no-op when nothing matches
    val hash3 = Llm.piiScrubOn(docs).filter($"doc_id" === 3L)
      .select($"scrub_hash").head().getString(0)
    val md5raw = java.security.MessageDigest.getInstance("MD5")
      .digest("nothing to see".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hash3 == md5raw, "no-op scrub must not alter the text")
  }

  test("PII regexes are LINEAR on hostile runs and match exactly what the greedy forms match") {
    import java.util.regex.Pattern
    // the linear (lookbehind + possessive) engine patterns vs the
    // plain greedy forms the DuckDB oracle runs — every input must
    // yield the same (start, match) sequence
    val pairs = Seq(
      Llm.piiEmailRe -> "[a-z0-9]+@[a-z]+\\.[a-z]+",
      Llm.piiPhoneRe -> "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}",
      Llm.piiIpRe -> "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    ).map { case (a, b) => (Pattern.compile(a), Pattern.compile(b)) }
    def allMatches(p: Pattern, s: String): Seq[(Int, String)] = {
      val m = p.matcher(s); val b = Seq.newBuilder[(Int, String)]
      while (m.find()) b += ((m.start(), m.group()))
      b.result()
    }
    val rnd = new scala.util.Random(23)
    val soup = "ab019@.-+ x" // PII-ish alphabet incl. runs and boundaries
    for (_ <- 0 until 4000) {
      val s = Seq.fill(rnd.nextInt(50))(soup(rnd.nextInt(soup.length))).mkString
      for ((lin, greedy) <- pairs)
        assert(allMatches(lin, s) == allMatches(greedy, s),
          s"linear/greedy diverge on '$s' for ${lin.pattern()}")
    }
    for (real <- Seq("mail me at user42@example.com ok", "+01-123-4567 now",
                     "host 10.0.7.49 up", "a.b@c.d 1.2.3.4.5.6.7.8"))
      for ((lin, greedy) <- pairs)
        assert(allMatches(lin, real) == allMatches(greedy, real))
    // timing pin: megabyte unbroken runs with no boundary char — the
    // naive greedy forms retry every interior start (judge-measured
    // O(n²) class); the engine patterns must scan these linearly
    val alnumBomb = "a" * 1000000
    val digitBomb = "1" * 1000000
    // min-of-3 against host descheduling (the UrlsSpec bestMs precedent)
    val ms = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      for ((lin, _) <- pairs; bomb <- Seq(alnumBomb, digitBomb))
        assert(!lin.matcher(bomb).find(), "bombs contain no PII")
      (System.nanoTime() - t0) / 1e6
    }.min
    assert(ms < 300.0, s"megabyte runs took $ms ms — PII patterns regressed to quadratic")
  }

  test("vocab top-k: ordered by (freq desc, token asc), idf 0 for ubiquitous tokens") {
    val out = Llm.vocabTopK(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out.length <= 100)
    val freqs = out.map(_._2)
    assert(freqs.sameElements(freqs.sortBy(-_)), "not sorted by corpus_freq desc")
    out.sliding(2).foreach { case Array(a, b) =>
      if (a._2 == b._2) assert(a._1 < b._1, s"tie ${a._1} / ${b._1} not broken by token asc")
      case _ => ()
    }
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.sf).count()
    out.foreach { case (tok, cf, df, idf) =>
      assert(cf >= df && df >= 1, s"$tok: corpus_freq >= doc_freq >= 1")
      if (df == nDocs) assert(idf == 0.0, s"$tok appears in every doc but idf=$idf")
    }
  }

  test("weighted mixing: full-weight sources keep everything, rates track weights") {
    import spark.implicits._
    val docs = (0L until 2500L).map(i => (i, s"text $i", s"src${i % 5}"))
      .toDF("doc_id", "text", "source")
    val kept = Llm.mixWeightedOn(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length.toDouble / 500.0).toMap
    // src4 has weight (4%5+1)/5 = 1.0: the threshold admits every
    // 56-bit hash, so ALL its docs survive — exact, not statistical
    assert(bySrc("src4") == 1.0, s"full-weight source must keep all: $bySrc")
    // lower-weight sources keep close to their nominal rate
    for ((s, w) <- Seq("src0" -> 0.2, "src1" -> 0.4, "src2" -> 0.6, "src3" -> 0.8))
      assert(math.abs(bySrc(s) - w) < 0.08, s"$s rate ${bySrc(s)} far from $w")
    // deterministic: a rerun selects the identical set
    val again = Llm.mixWeightedOn(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet, "mixture sample must be reproducible")
  }

  test("CMS heavy hitters: never underestimates, overestimate within eps*N, no misses") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val exact = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.trim($"text")), "\\s+")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val minCount = 20L
    val est = Llm.heavyHittersOn(docs.select($"doc_id", $"text"), minCount).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val trulyHeavy = exact.filter(_._2 >= minCount).keySet
    assert(trulyHeavy.subsetOf(est.keySet),
      s"CMS must not miss a true heavy hitter: ${trulyHeavy -- est.keySet}")
    val epsN = math.ceil(math.E / 8192.0 * n).toLong
    est.foreach { case (t, e) =>
      assert(e >= exact(t), s"$t: CMS underestimated ($e < ${exact(t)})")
      assert(e <= exact(t) + epsN, s"$t: overestimate $e beyond ${exact(t)} + $epsN")
    }
  }

  test("length quantiles: approx_percentile (the 100 TB path) tracks the exact result") {
    import spark.implicits._
    val exact = Llm.lengthQuantiles(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap // p50
    val approx = graft.sources.Tables.documents(spark, TestSpark.sf)
      .groupBy($"source")
      .agg(org.apache.spark.sql.functions.expr(
        "approx_percentile(n_chars, 0.5, 1000)").as("ap50"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    exact.foreach { case (src, p50) =>
      // approx_percentile at accuracy 1000 must land within 10% of
      // the exact interpolated median for these group sizes
      assert(math.abs(approx(src) - p50) <= math.max(5.0, p50 * 0.1),
        s"$src: approx ${approx(src)} vs exact $p50")
    }
  }

  test("char entropy: 0 for single-char docs, 1 bit for balanced binary alphabets") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa aaa"), (2L, "ab ab ab ab"), (3L, "abcd")).toDF("doc_id", "text")
    // charEntropy reads from a dir; exercise the same plan via a
    // temp view substitution: rebuild the expression on the test df
    // by calling the public op against a parquet round-trip
    val dir = java.nio.file.Files.createTempDirectory("entropy").toString
    docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("src0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Llm.charEntropy(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((7L, 0.0)), s"uniform text has zero entropy: ${out(1L)}")
    assert(out(2L) == ((8L, 1.0)), s"balanced ab is exactly 1 bit: ${out(2L)}")
    assert(out(3L) == ((4L, 2.0)), s"4 distinct chars = 2 bits: ${out(3L)}")
  }

  test("segment dedup: repeated boilerplate survives only at its first occurrence") {
    import spark.implicits._
    // 10-token boilerplate B opens doc 1 and doc 2; doc 2 also has 10
    // unique tokens. Doc 1 keeps everything (first occurrence), doc 2
    // keeps only its unique half. Doc 3 repeats B twice: both copies
    // are dropped (first occurrence is doc 1's).
    val b = (1 to 10).map(i => s"boiler$i").mkString(" ")
    val u = (1 to 10).map(i => s"unique$i").mkString(" ")
    val docs = Seq((1L, b), (2L, s"$b $u"), (3L, s"$b $b")).toDF("doc_id", "text")
    val out = Llm.segmentDedupOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 1L)), s"doc 1 keeps its boilerplate: ${out(1L)}")
    assert(out(2L) == ((2L, 1L)), s"doc 2 keeps only the unique segment: ${out(2L)}")
    assert(out(3L) == ((2L, 0L)), s"doc 3 keeps nothing: ${out(3L)}")
  }

  test("unigram logprob: a doc of rare tokens scores strictly above a doc of common ones") {
    import spark.implicits._
    val common = Array.fill(20)("the").mkString(" ")
    val docs = Seq(
      (1L, common), (2L, common), (3L, common),
      (4L, "zyxvut qwerty plugh xyzzy")).toDF("doc_id", "text")
    val out = Llm.unigramLogprobOn(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(1L),
      s"rare-token doc must score above common-token doc: ${out(4L)} vs ${out(1L)}")
    // 60 of 64 tokens are 'the': -ln(60/64) for common docs, exact
    assert(math.abs(out(1L) - (-math.log(60.0 / 64.0))) < 1e-5)
  }

  test("unigram logprob: kernel and fallback formulations agree after round-6 (drift pin)") {
    import spark.implicits._
    // the kernel path computes the count-weighted mean
    // sum(cnt·-log p)/sum(cnt), the fallback the per-occurrence avg —
    // algebraically equal, but the float adds happen in different
    // orders, so a no-extension session could disagree with the
    // oracle if a value landed on a round(...,6) boundary. Pin that
    // the rounded outputs match on edge docs AND the real corpus.
    val edge = Seq(
      (1L, "a b a b a"),
      (2L, "  \t repeated repeated REPEATED  x "),
      (3L, "unicode é 中文 é 😀"),
      (4L, "solo")).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    for (docs <- Seq(edge, corpus)) {
      val kernel = Llm.unigramLogprobPath(docs, useKernel = true).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      val fb = Llm.unigramLogprobPath(docs, useKernel = false).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(kernel.keySet == fb.keySet, "paths disagree on which docs exist")
      val drift = kernel.collect {
        case (id, (n, v)) if fb(id) != ((n, v)) => (id, (n, v), fb(id))
      }
      assert(drift.isEmpty, s"round-6 outputs drifted between paths: ${drift.take(5)}")
    }
  }

  test("tfidf: corpus-wide tokens score zero, distinctive tokens rank first") {
    import spark.implicits._
    // 'shared' appears in every doc (idf = ln(3/3) = 0); each doc's
    // own token has idf = ln(3) and must rank 1
    val docs = Seq(
      (1L, "shared alpha"), (2L, "shared beta"), (3L, "shared gamma"))
      .toDF("doc_id", "text")
    val out = Llm.tfidfTermsOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(3)))).toMap
    assert(out((1L, 1)) == (("alpha", math.rint(math.log(3.0) * 1e6) / 1e6)))
    assert(out((2L, 1))._1 == "beta")
    assert(out((3L, 1))._1 == "gamma")
    // the ubiquitous token still appears (top-3 of a 2-token doc) at score 0
    assert(out((1L, 2)) == (("shared", 0.0)))
  }

  test("inverted index: postings digest matches the hand-built canonical string") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("invidx").toString
    Seq((1L, "a b a"), (2L, "b a"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("src0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = Llm.invertedIndex(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // 'a': doc 1 pos 0,2; doc 2 pos 1 -> "1:0,1:2,2:1"
    assert(out("a") == ((3L, 2L, md5("1:0,1:2,2:1"))), s"a -> ${out("a")}")
    // 'b': doc 1 pos 1; doc 2 pos 0 -> "1:1,2:0"
    assert(out("b") == ((2L, 2L, md5("1:1,2:0"))), s"b -> ${out("b")}")
  }

  test("compression ratio: repetitive text deflates far below prose, deterministic, bounded") {
    import spark.implicits._
    val dir = TestSpark.sf
    val rows = Llm.compressRatio(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    for ((id, nb, nd, ratio) <- rows) {
      assert(nb > 0 && nd > 0, s"doc $id sizes")
      assert(ratio > 0.0 && ratio < 1.5, s"doc $id ratio $ratio out of sane bounds")
      assert(math.abs(ratio - nd.toDouble / nb) < 1e-5, s"doc $id ratio inconsistent")
    }
    // determinism: same inputs, same deflate stream lengths
    val again = Llm.compressRatio(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows.map(r => (r._1, r._3)).toMap == again, "deflate must be run-to-run identical")
    // discriminative ordering on controlled texts through the same
    // partition-level deflate: boilerplate << prose < high-entropy
    val tmp = java.nio.file.Files.createTempDirectory("graft_zr").toString
    val rnd = new scala.util.Random(31)
    val texts = Seq(
      1L -> Seq.fill(200)("buy now limited offer").mkString(" "),           // template spam
      2L -> (1 to 200).map(i => s"sentence$i about topic${i % 17}").mkString(" "), // varied
      3L -> Seq.fill(800)(('a' + rnd.nextInt(26)).toChar).mkString)         // near-random
    texts.toDF("doc_id", "text").withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = Llm.compressRatio(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(m(1L) < 0.15, s"template spam must crush: ${m(1L)}")
    assert(m(1L) < m(2L) && m(2L) < m(3L),
      s"ordering must discriminate: spam ${m(1L)} < prose ${m(2L)} < random ${m(3L)}")
    assert(m(3L) > 0.5, s"near-random text must resist compression: ${m(3L)}")
  }

  test("mojibake repair: double-encoded text recovers, legitimate text is left alone") {
    import graft.operators.Llm.repairMojibake
    def garble(s: String) = new String(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    // the classic: café mangled to cafÃ© repairs back
    assert(repairMojibake(garble("café")).contains("café"))
    val fancy = "naïve — « 日本 » emoji:😀"
    assert(repairMojibake(garble(fancy)).contains(fancy),
      "multi-byte sequences incl. astral plane repair")
    // conservative gates: genuine Latin-1-looking text, pure ASCII,
    // and > U+00FF strings are all left alone
    assert(repairMojibake("café").isEmpty, "a lone 0xE9 is not valid UTF-8 — no false repair")
    assert(repairMojibake("plain ascii").isEmpty)
    assert(repairMojibake("日本").isEmpty, "chars above U+00FF can't round-trip Latin-1")
    assert(repairMojibake("").isEmpty)
    // fuzz: never throws, and any repair re-garbles to its input
    val rnd = new scala.util.Random(23)
    for (_ <- 0 until 500) {
      val s = (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(0x250).toChar).mkString
      repairMojibake(s).foreach(f => assert(garble(f) == s, "repair must invert the garbling"))
    }
  }

  test("chunkDocs: windows tile the token stream — exact slices, exact overlap, no vacuous windows") {
    val dir = TestSpark.sf
    val C = 32; val S = 24 // the registry regime: 32-token windows, 8 overlap
    val byDoc = Llm.chunkDocs(spark, dir, chunkTokens = C, overlap = C - S).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2) }
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    assert(byDoc.keySet == docs.keySet)
    var multi = 0
    for ((d, toks) <- docs) {
      val chunks = byDoc(d)
      val wantChunks = if (toks.length <= C) 1 else math.ceil((toks.length - C).toDouble / S).toInt + 1
      assert(chunks.length == wantChunks, s"doc $d: ${chunks.length} chunks, want $wantChunks")
      if (chunks.length > 1) multi += 1
      for ((_, idx, nTok, text) <- chunks) {
        val slice = toks.slice(idx * S, idx * S + C)
        assert(text == slice.mkString(" "), s"doc $d chunk $idx text drifts from its token slice")
        assert(nTok == slice.length, s"doc $d chunk $idx token count")
        assert(slice.nonEmpty, "no vacuous windows")
      }
      // overlap-stripped concatenation reconstructs the token stream
      val rebuilt = chunks.head._4.split(" ").toSeq ++
        chunks.tail.toSeq.flatMap(c => c._4.split(" ").drop(C - S).toSeq)
      assert(rebuilt == toks, s"doc $d: chunks must tile the stream (every token exactly once per stride)")
    }
    assert(multi > 0, "test corpus must exercise the multi-window path")
  }

  test("chunkFrame: a whitespace-only document is one EMPTY chunk with ZERO tokens, consistent with tokenCount") {
    // split(trim(""), "\\s+") says [""] — a phantom 1-token chunk a
    // downstream packing stage would mis-budget on; the guard must
    // report the honest n_chunk_tokens = 0
    import spark.implicits._
    val docs = Seq(
      (1L, "   \t \n "), // whitespace-only
      (2L, ""),          // empty
      (3L, "one two"),   // control
      (4L, null.asInstanceOf[String])) // null drops entirely
      .toDF("doc_id", "text")
    val got = Llm.chunkFrame(docs, chunkTokens = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 0, 0L, ""), (2L, 0, 0L, ""), (3L, 0, 2L, "one two")),
      s"empty docs must yield one 0-token chunk, got ${got.toSeq}")
  }

  test("weighted sampling: length-weighted sample skews long, is deterministic") {
    val dir = TestSpark.sf
    val s1 = Llm.sampleWeighted(spark, dir).collect()
    val s2 = Llm.sampleWeighted(spark, dir).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq,
      "salted-hash draw must be run-to-run identical")
    assert(s1.length == 50)
    val sampleAvg = s1.map(_.getLong(2)).sum.toDouble / s1.length
    val corpusAvg = graft.sources.Tables.documents(spark, dir)
      .agg(org.apache.spark.sql.functions.avg("n_chars")).head().getDouble(0)
    assert(sampleAvg > corpusAvg,
      s"length-weighted sample avg $sampleAvg must exceed corpus avg $corpusAvg")
  }

  test("PQ-ADC kNN: recall floor vs exact, deterministic codes across layouts") {
    val dir = TestSpark.sf
    val exact = Llm.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Llm.annPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // 16 bytes/vector is a much coarser sketch than SQ8's 64 — the
    // exact re-rank of the ADC top-50 still recovers most of the
    // exact top-10 (measured 0.84 at sf0.001; floor set with margin)
    info(s"PQ recall vs exact: $recall")
    assert(recall >= 0.75, s"PQ recall $recall < 0.75 (${exact.size} exact pairs)")
    // run-to-run determinism: pinned-layout Lloyd → identical output
    val pq2 = Llm.annPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == pq2, "PQ result must be run-to-run identical")
  }

  test("IVF-PQ kNN: residual-ADC recall floor, determinism, and the pruning regime") {
    val dir = TestSpark.sf
    val exact = Llm.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Llm.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(s"IVFPQ recall vs exact: $recall")
    // equal code budget as plain PQ (m=16, ks=16); the default nprobe
    // is sized for this noise corpus (see annIvfPq doc) so the
    // composition must clear the same 0.75 floor
    assert(recall >= 0.75, s"IVFPQ recall $recall < 0.75 (${exact.size} exact pairs)")
    // run-to-run determinism: both Lloyd loops are pinned-layout
    val again = Llm.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq == again, "IVFPQ result must be run-to-run identical")
    // the pruning regime (the real-corpus operating point): scan only
    // nprobe/k = 1/4 of the cells — recall must still beat the ~0.25
    // random-selection baseline, like the plain-IVF pin
    val pruned = Llm.annIvfPq(spark, dir, k = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prunedRecall = (exact & pruned).size.toDouble / exact.size
    info(s"IVFPQ pruned (nprobe=4/k=16) recall: $prunedRecall")
    assert(prunedRecall >= 0.3, s"pruned IVFPQ recall $prunedRecall below floor")
  }

  test("capped codebook training (trainCap) is deterministic and holds the recall floor") {
    val dir = TestSpark.sf
    val exact = Llm.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // trainCap below the corpus (500 vectors at sf0.001) forces the
    // sampled branch: Lloyd sees only the 100 hash-lowest rows while
    // encode/probe still cover every vector — the FAISS train(sample)
    // / add(corpus) split a 100 TB corpus requires
    val capped = Llm.annIvfPq(spark, dir, trainCap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val again = Llm.annIvfPq(spark, dir, trainCap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == again, "sampled-training IVFPQ must be run-to-run identical")
    val recall = (exact & capped).size.toDouble / exact.size
    info(s"IVFPQ recall with trainCap=100/500: $recall")
    assert(recall >= 0.7, s"sample-trained IVFPQ recall $recall below floor")
    val cappedPq = Llm.annPq(spark, dir, trainCap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = (exact & cappedPq).size.toDouble / exact.size
    info(s"PQ recall with trainCap=100/500: $pqRecall")
    assert(pqRecall >= 0.7, s"sample-trained PQ recall $pqRecall below floor")
  }

  test("quantized kNN: top-10 after exact re-rank matches exact kNN almost everywhere") {
    val dir = TestSpark.sf
    val exact = Llm.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Llm.knnQuantized(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall $recall < 0.9 (${exact.size} exact pairs)")
  }

  test("embed quantize: midpoint decoding error is bounded by half a bucket") {
    val dir = TestSpark.sf
    val rows = Llm.embedQuantize(spark, dir).collect()
    assert(rows.nonEmpty)
    // bucket width = (mx-mn)/255; err <= width/2. Bound it loosely
    // from the data: embeddings are ~N(0,1)-ish per dim, range < 10
    rows.foreach { r =>
      val err = r.getDouble(2)
      assert(err >= 0 && err <= 10.0 / 255.0 / 2.0 + 1e-9,
        s"vec ${r.getLong(0)} error $err out of bound")
    }
  }

  test("embed quantize: constant vector gets code 0 / err 0, not NaN") {
    import spark.implicits._
    // mx = mn used to divide 0/0: Spark's non-ANSI cast silently made
    // the codes 0 while the DuckDB oracle errored on CAST(NaN) — now
    // both engines special-case it (the oracle SQL carries the same
    // CASE), so a legal constant vector yields a well-defined row
    val rows = Llm.embedQuantizeOn(
      Seq((1L, Array.fill(8)(0.25f)), (2L, Array(0f, 1f, 2f, 3f, 4f, 5f, 6f, 7f)))
        .toDF("vec_id", "embedding")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val zeroHash = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.fill(8)("0").mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows(1L) == ((zeroHash, 0.0)), s"constant vector: ${rows(1L)}")
    assert(rows(2L)._2 > 0.0 && !rows(2L)._2.isNaN)
  }

  test("minhash signature kernel is bit-equal to the explode+fold formulation on the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the fallback's arithmetic, reproduced: SQL pmod(xxhash64(seed,
    // shingle), 2^31) per distinct shingle, Kirsch-Mitzenmacher
    // 128-slot min fold in Scala — candidate sets can only be
    // identical across sessions if the signatures are
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("key"), $"text")
      .limit(200)
    val M = 1L << 31
    val spec = docs
      .select($"key", split(lower(trim($"text")), "\\s+").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"key", explode(array_distinct(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
        .as("shingle"))
      .select($"key",
        pmod(xxhash64(lit(1), $"shingle"), lit(M)).as("h1"),
        pmod(xxhash64(lit(2), $"shingle"), lit(M)).as("h2"))
      .collect().groupBy(_.getString(0)).map { case (k, rows) =>
        val buf = Array.fill(128)(Long.MaxValue)
        rows.foreach { r =>
          val (h1, h2) = (r.getLong(1), r.getLong(2))
          var i = 0
          while (i < 128) {
            val v = (h1 + i * h2) & (M - 1)
            if (v < buf(i)) buf(i) = v
            i += 1
          }
        }
        k -> ((rows.length.toLong, buf.toSeq))
      }
    val kernel = docs
      .select($"key", split(lower(trim($"text")), "\\s+").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"key", expr("graft_minhash_sig(toks)").as("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getStruct(1).getLong(0), r.getStruct(1).getSeq[Long](1)))).toMap
    assert(kernel.keySet == spec.keySet)
    for ((k, (n, sig)) <- spec) {
      assert(kernel(k)._1 == n, s"distinct-shingle count drifted for $k")
      assert(kernel(k)._2 == sig, s"signature drifted for $k")
    }
  }

  test("minhashSig with kernels off equals graft_minhash_sig row for row (corpus and edge fixtures)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the one signature column of the near-dup family: its kernels-off
    // SQL form must give the kernel's (n, sig) on every row, or the
    // band buckets, and so the candidate sets, differ between sessions
    val edge = Seq(
      (-1L, "one two three"),                            // exactly 3 tokens: one shingle
      (-2L, "a b c a b c a b c a b c"),                  // repeated shingles
      (-3L, "Über straße café naïve 東京 タワー ∑ 😀 ok"), // non-ASCII tokens
      (-4L, "x  y\t\tz \n\n w   x y z"),                // runs of whitespace
      (-5L, "\t a leading tab before the tokens"))
      .toDF("doc_id", "text")
    val toks = graft.sources.Tables.documents(spark, TestSpark.sf).select($"doc_id", $"text")
      .unionByName(edge)
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("toks"))
      .filter(size($"toks") >= 3)
    def sigs(on: Boolean) = TestSpark.withConf("spark.graft.kernels.enabled" -> on.toString) {
      val df = toks.select($"doc_id", Llm.minhashSig(spark, $"toks").as("s"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_minhash_sig") == on, s"kernels on = $on, plan:\n$plan")
      df.select($"doc_id", $"s.n", $"s.sig").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    }
    val (on, off) = (sigs(on = true), sigs(on = false))
    assert(on.size == toks.count() && on.size > 5, s"${on.size} signatures")
    assert(on(-1L)._1 == 1L && on(-2L)._1 == 3L, s"distinct-shingle counts: ${on(-1L)._1}, ${on(-2L)._1}")
    assert(off.keySet == on.keySet)
    for ((id, (n, sig)) <- on) {
      assert(off(id)._1 == n, s"distinct-shingle count drifted for doc $id")
      assert(off(id)._2 == sig, s"signature drifted for doc $id")
    }
  }

  /** Spark jobs started while `body` runs. A marker job before and
    * after brackets them: the listener bus delivers events in order,
    * so once the closing marker is seen every job of `body` was. */
  private def jobsOf(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobMarker"
    val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        Option(job.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(m) => markers.put(m)
          case None    => started.incrementAndGet()
        }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markers.poll(60, java.util.concurrent.TimeUnit.SECONDS) == m, s"marker $m not seen")
    }
    sc.addSparkListener(listener)
    try {
      mark("begin")
      started.set(0)
      body
      mark("end")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("near-dup queries run at most their recorded Spark job counts at sf0.001") {
    // counted work, not time: each eager checkpoint, AQE query stage
    // and broadcast is a job. The counts are those of the two-trunk
    // formulation (separate build and probe trunks, the exploded
    // signature fold); the one build/probe trunk must not add a job
    val recorded = Seq("llm_dedup_near" -> 21, "llm_dedup_clusters" -> 33, "llm_dedup_near_incr" -> 29)
    val jobs = recorded.map { case (q, _) =>
      q -> jobsOf(SparkEntry.queries(q)(spark, TestSpark.sf).collect()) }
    assert(jobs.zip(recorded).forall { case ((_, n), (_, bound)) => n <= bound },
      s"Spark jobs per query: ${jobs.mkString(", ")}; recorded: ${recorded.mkString(", ")}")
  }

  test("band-hash kernel is bit-equal to the xxhash64+slice fold on real signatures") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the LSH bucketing can only be identical across sessions (with
    // and without the extension) if every band hash matches bit-for-
    // bit; the kernel reproduces multi-arg xxhash64's seed chaining
    // (seed 42 -> hashInt(b) -> one hashLong per slot in order)
    val sigs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(split(lower(trim($"text")), "\\s+").as("toks"))
      .filter(size($"toks") >= 3)
      .limit(200)
      .select(expr("graft_minhash_sig(toks).sig").as("sig"))
    val both = sigs.select(
        expr("graft_band_hashes(sig)").as("kernel"),
        expr("transform(sequence(0, 31), b -> xxhash64(b, slice(sig, b*4 + 1, 4)))").as("spec"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "band hashes drifted between the kernel and the SQL fold")
    }
    // the function is registered for user SQL too: short arrays and
    // null elements must follow the SQL fold (short/empty slices,
    // null-skipping array hash), never read out of bounds
    val edge = spark.sql(
      """SELECT graft_band_hashes(sig) AS kernel,
                transform(sequence(0, 31), b -> xxhash64(b, slice(sig, b*4 + 1, 4))) AS spec
         FROM VALUES (array(1L, 2L)),
                     (array(CAST(NULL AS bigint), 7L, NULL, 9L, 11L)),
                     (CAST(array() AS array<bigint>)) AS t(sig)""").collect()
    edge.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "band hashes diverge from the SQL fold on short/null-element input")
    }
  }

  test("gram-hash and segment kernels are byte-equal to their HOF folds on edge docs + corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edge = Seq(
      (1L, "a b c d e f g h"),                                 // exactly one 8-gram
      (2L, (1 to 25).map(i => s"tok$i").mkString(" ")),        // 2 full + 1 partial segment
      (3L, "unicode é 中文 😀 mixed a b c d e f"),              // multi-byte grams
      (4L, "short"),                                           // below the 8-gram domain
      (5L, (1 to 30).map(_ => "same").mkString(" "))).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").limit(150)
    for (docs <- Seq(edge, corpus)) {
      val toks = docs.select($"doc_id", split(lower(trim($"text")), "\\s+").as("toks"))
      val g = toks.filter(size($"toks") >= 8).select(
          expr("graft_gram_hashes(toks, 8)").as("kernel"),
          expr("transform(sequence(1, size(toks)-7), i -> xxhash64(concat_ws(' ', slice(toks, i, 8))))")
            .as("spec"))
        .collect()
      g.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "gram hashes drifted from the xxhash64 fold"))
      val s = toks.select(
          expr("graft_segments(toks, 10)").as("kernel"),
          expr("transform(sequence(0, cast(floor((size(toks)-1)/10) as int)), i -> array_join(slice(toks, i*10+1, 10), ' '))")
            .as("spec"))
        .collect()
      s.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        "segment strings drifted from the array_join fold"))
    }
  }

  test("fingerprint kernel is bit-equal to the gram-explode formulation (incl. multi-byte)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // multi-byte chars exercise the code-point windowing: Spark's
    // substring counts code points, so the kernel must slice UTF-8
    // byte ranges on code-point boundaries, never fixed byte widths
    val edge = Seq(
      (1L, "abcdefghij"),
      (2L, "éèêëàâîïôù çñüöäß 中文字符串测试 😀😁😂🤣😃 mixed ascii too"),
      (3L, "exactly8"),
      (4L, "short"),
      (5L, (1 to 400).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").limit(150)
    for (docs <- Seq(edge, corpus)) {
      val normed = docs.select($"doc_id",
        regexp_replace(lower(trim($"text")), "\\s+", " ").as("t"))
        .filter(length($"t") >= 8)
      val kernel = Llm.fingerprintOn(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val hof = Llm.fingerprintHof(normed).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(kernel == hof, "fingerprint kernel drifted from the gram-explode form")
    }
  }

  test("winnow kernel is bit-equal to the gram-explode + window formulation (incl. multi-byte)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edge = Seq(
      (1L, "abcdefghijklmnopqrstuvw"), // exactly 23 chars: one window
      (2L, "éèêëàâîïôù çñüöäß 中文字符串测试 😀😁😂🤣😃 mixed ascii too"),
      (3L, "below the one-window bar"), // 24 chars, two windows
      (4L, "too short"),
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // all grams equal: min ties
      (6L, (1 to 400).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").limit(150)
    for (docs <- Seq(edge, corpus)) {
      val normed = docs.select($"doc_id",
        regexp_replace(lower(trim($"text")), "\\s+", " ").as("t"))
        .filter(length($"t") >= 23)
      val kernel = Llm.winnowSelectedOn(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hof = Llm.winnowSelectedHof(normed).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(kernel == hof, "winnow kernel drifted from the gram-explode + window form")
    }
  }

  test("winnowing guarantee: shared substrings >= w+k-1 chars are ALWAYS detected") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // 20 planted pairs: the same >= 23-char span embedded at different
    // offsets inside unrelated noise — the SWA guarantee says every
    // pair must share at least one winnowed fingerprint
    val docs = (0 until 20).flatMap { i =>
      val span = noise(23 + rnd.nextInt(40))
      Seq((i * 2L, s"${noise(rnd.nextInt(60))} $span ${noise(rnd.nextInt(60))}"),
          (i * 2L + 1, s"${noise(rnd.nextInt(80))} $span"))
    }.toDF("doc_id", "text")
    val sel = Llm.winnowSelectedOn(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for (i <- 0 until 20) {
      val shared = sel(i * 2L) intersect sel(i * 2L + 1)
      assert(shared.nonEmpty, s"pair $i: guaranteed >= 23-char match missed by winnowing")
    }
    // coverage report: bounded, and rows exist for every planted doc
    val cov = Llm.dupCoverageOn(docs).collect()
    assert(cov.length == 40)
    cov.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_shared must be <= n_sel")
      val c = r.getDouble(3)
      assert(c >= 0.0 && c <= 1.0, s"coverage $c out of [0,1]")
    }
    // pair report: long planted spans (>= 2 shared fingerprints) show up
    val longSpan = noise(300)
    val longPair = Seq(
      (100L, "prefix " + longSpan + " suffix"),
      (101L, noise(40) + " " + longSpan))
    val withLong = docs.union(longPair.toDF("doc_id", "text"))
    val pairs = Llm.dupSpansOn(withLong).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), "300-char planted span missing from llm_dup_spans")
  }

  test("rowWinnowSql (streaming fallback) is bit-equal to graft_winnow on the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edge = Seq(
      (1L, "abcdefghijklmnopqrstuvw"),
      (2L, "éèêëàâîïôù çñüöäß 中文字符串测试 😀😁😂🤣😃 mixed ascii too"),
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (4L, (1 to 200).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text").limit(100)
    for (docs <- Seq(edge, corpus)) {
      val normed = docs.select($"doc_id",
        regexp_replace(lower(trim($"text")), "\\s+", " ").as("t"))
        .filter(length($"t") >= 23)
      val both = Llm.withRowWinnowSel(
          normed.withColumn("k", expr("graft_winnow(t).sel")), "f")
        .select($"doc_id", $"k", $"f")
        .collect()
      both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"withRowWinnowSel drifted from the kernel for doc ${r.getLong(0)}"))
    }
  }

  test("winnow selection density sits near the 2/(w+1) winnowing expectation") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val nGrams = docs
      .select(regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= 23)
      .agg(sum(length(col("t")) - 7)).head().getLong(0)
    val nSel = Llm.winnow(spark, TestSpark.sf)
      .agg(sum(col("n_sel"))).head().getLong(0)
    val density = nSel.toDouble / nGrams
    // 2/(w+1) = 0.1176 for w=16; distinct-h dedup pulls it below
    assert(density > 0.05 && density < 0.2, s"selection density $density far from 2/17")
  }

  test("simhash kernel is bit-equal to the explode + 60-vote aggregation on the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val toks = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("key"), $"text")
      .limit(200)
      .select($"key", split(lower(trim($"text")), "\\s+").as("toks"))
      .filter(size($"toks") >= 2)
    val kernel = toks.select($"key", expr("graft_simhash(toks)").as("simhash"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hof = Llm.simhashSigsHof(toks)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kernel == hof, "simhash kernel drifted from the vote-aggregation form")
  }

  test("term-counts kernel == explode+groupBy formulation, and its plan never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, lit, lower, split, trim}
    val edge = Seq(
      (1L, "a b a b a"),
      (2L, "  \t repeated repeated REPEATED  x "),
      (3L, "unicode é 中文 é 😀"),
      (4L, "solo")).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    for (docs <- Seq(edge, corpus)) {
      val kernel = Llm.termCountsOf(docs).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val spec = docs
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(kernel == spec, "term-counts kernel drifted from the explode+groupBy counts")
    }
    // the whole point: the per-doc count is computed inside the scan,
    // so the frame plans with no exchange at all (the widen
    // round-robin only fires below-parallelism scans; on this 4-core
    // test session the tiny corpus keeps it, so assert only that no
    // KEYED exchange appears — the at-scale identity)
    val p = Llm.termCountsOf(corpus).queryExecution.executedPlan.toString
    assert(p.contains("graft_term_counts"), s"kernel missing from plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"per-doc term count must not shuffle on a key:\n$p")
  }

  test("run-stats kernels and HOF fallbacks are hash-identical on edge-case docs + real corpus") {
    import spark.implicits._
    // Only one of the two formulations runs in any given session
    // (functionExists switch), so drift between them would be
    // invisible until a no-extension session disagreed with the
    // oracle — same rationale as the SRP pin in PropertySpec, but at
    // the DataFrame level where the interpreted lambda actually runs.
    val edge = Seq(
      (1L, "aaaa bbbb aaaa bbbb aaaa"),
      (2L, "  \t\n mixed   WHITESPACE\r\n doc \f here  "),
      (3L, "unicode é ß 中文 😀 😀 é MiXeD CaSe ÉÉ"),
      (4L, "x y x y x y x y x y x y"),
      (5L, "singleword"),
      (6L, "a b c"),
      (7L, (1 to 60).map(i => s"tok${i % 7}").mkString(" "))).toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    for (docs <- Seq(edge, corpus)) {
      val kEnt = Llm.charEntropyKernel(docs).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hEnt = Llm.charEntropyHof(docs).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(kEnt == hEnt, "charEntropy kernel drifted from HOF form")
      val toks = docs.select($"doc_id",
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.trim($"text")), "\\s+").as("toks"))
        .filter(org.apache.spark.sql.functions.size($"toks") >= 3)
      val kRep = Llm.repetitionKernelCounts(toks).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val hRep = Llm.repetitionHofCounts(toks).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(kRep == hRep, "repetition kernel drifted from HOF form")
    }
  }
}

package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SketchAggs
import graft.operators.{Ecosystem, Llm, Sketches}

/** Property tests for the sketch family (SURVEY §5.2): Bloom
  * no-false-negatives + bounded FPR, MinHash Jaccard error bound,
  * HLL relative error vs the exact twin. */
class SketchesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bloom filter: zero false negatives, FPR near design point") {
    val present = (0 until 500).map(i => s"key_$i")
    val bloomUdaf = udaf(new SketchAggs.BloomAgg(1000L, 0.03), Encoders.STRING)
    val bytes = present.toDF("k").agg(bloomUdaf(col("k"))).head().getAs[Array[Byte]](0)
    val bf = SketchAggs.deserializeBloom(bytes)
    assert(present.forall(bf.mightContainString), "bloom must never false-negative")
    val absent = (0 until 2000).map(i => s"absent_$i")
    val fpr = absent.count(bf.mightContainString).toDouble / absent.size
    assert(fpr <= 0.06, s"FPR $fpr should be near the 0.03 design point at half load")
  }

  test("minhash signature jaccard estimates true jaccard within Chernoff bound") {
    // the near-dup family's signature column, kernel and SQL forms:
    // token runs t0..t801 and t200..t1001 have 800 word-3-gram
    // shingles each, 600 shared -> true J = 600/1000 = 0.6
    def run(from: Int) = (from until from + 802).map(i => s"t$i")
    val df = Seq(("a", run(0)), ("b", run(200))).toDF("grp", "toks")
    for (on <- Seq(true, false)) TestSpark.withConf("spark.graft.kernels.enabled" -> on.toString) {
      val sigs = df.select(col("grp"), Llm.minhashSig(spark, col("toks")).getField("sig"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val est = sigs("a").zip(sigs("b")).count { case (x, y) => x == y } / 128.0
      assert(math.abs(est - 0.6) < 0.15, s"kernels on = $on: estimate $est should be within 0.15 of 0.6")
    }
  }

  test("declared minhash query tracks the exact jaccard twin") {
    val exact = Sketches.jaccardExact(spark, TestSpark.sf)
      .select("type_a", "type_b", "jaccard").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val est = Sketches.minhashJaccard(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (k, e) =>
      assert(math.abs(e - exact(k)) < 0.15, s"pair $k: estimate $e vs exact ${exact(k)}")
    }
  }

  test("HLL estimate within 3x rsd of exact distinct") {
    val exact = Ecosystem.distinctUsers(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Ecosystem.approxDistinctUsers(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val err = math.abs(approx(t) - n).toDouble / n
      assert(err <= 3 * 0.01625, s"$t: HLL err $err exceeds 3x rsd")
    }
  }

  test("hll_sketch_agg at lgConfigK 12 stays within 3x its 1.625% RSE in list, set and HLL modes (property)") {
    // eco_hll_users' sketch: m = 2^12 registers, RSE 1.04/sqrt(4096) =
    // 1.625%. Cardinalities cover the sketch's three modes (a few
    // coupons in a list, a coupon hash set, then the register array);
    // random offsets and strides give each trial its own hashes.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val cardinality = Gen.frequency(
      1 -> Gen.choose(1L, 7L), 2 -> Gen.choose(50L, 300L),
      3 -> Gen.choose(5000L, 20000L), 2 -> Gen.const(200000L))
    val trial = for {
      n <- cardinality; offset <- Gen.choose(0L, 1L << 40); stride <- Gen.choose(1L, 1000L)
    } yield (n, offset, stride)
    val prop = Prop.forAll(trial) { case (n, offset, stride) =>
      val est = spark.range(n).select((col("id") * stride + offset).as("u"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), 12))).head().getLong(0)
      val err = math.abs(est - n).toDouble / n
      Prop(err <= 3 * 0.01625) :| s"n=$n offset=$offset stride=$stride: estimate $est, error $err"
    }
    for (seed <- Seq(11L, 12L, 13L)) {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
      assert(res.passed, s"seed $seed: ${res.status}")
    }
  }

  test("bloom membership query returns only true verdicts (no false negatives)") {
    val rows = Sketches.bloomMembers(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "present-key probes must all be in_bloom")
  }

  test("faithful HLL matches the reference algorithm bit-for-bit (golden values)") {
    // goldens computed with an independent replica of
    // hyperloglog.py:4-38 (sha256, b=12, linear/large-range
    // corrections, Python round)
    val hllUdaf = udaf(new SketchAggs.FaithfulHllAgg(12), Encoders.STRING)
    val synthetic = (0 until 10000).map(_.toString).toDF("k")
      .agg(hllUdaf(col("k"))).head().getLong(0)
    assert(synthetic == 9706L,
      s"synthetic 10k-key estimate $synthetic != golden 9706 (bit-level drift)")
    val perType = Sketches.hllFaithful(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perType.values.forall(_ == 15L),
      s"sf0.001 cohorts have 15 distinct users (linear-counting regime): $perType")
  }

  test("faithful HLL goldens hold in BOTH estimator regimes on declared testdata") {
    // goldens from the same independent Python replica of
    // hyperloglog.py:4-38. Two regimes of the estimator:
    //  - linear counting (E <= 2.5m, zero registers remain):
    //    sf0.01 user cohorts, 150 distinct -> 151
    //  - raw harmonic-mean estimate (E > 2.5m = 10240):
    //    sf0.1 event_id cohorts, ~20k distinct each
    val perType01 = Sketches.hllFaithful(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perType01.values.forall(_ == 151L),
      s"sf0.01 cohorts (150 users, linear-counting regime): $perType01")

    val hllUdaf = udaf(new SketchAggs.FaithfulHllAgg(12), Encoders.STRING)
    val raw = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_type"), col("event_id").cast("string").as("k"))
      .groupBy(col("event_type")).agg(hllUdaf(col("k")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val golden = Map("click" -> 19689L, "error" -> 20332L, "purchase" -> 19839L,
                     "signup" -> 20330L, "view" -> 20046L)
    assert(raw == golden, s"raw-regime goldens drifted: $raw vs $golden")
  }

  test("true DGIM stays within the 50% error bound with logarithmic memory") {
    // adversarial-ish stream: bursty 1s, 10k bits over a 1000-tick window
    val d = new graft.plans.Dgim(1000L)
    val ones = scala.collection.mutable.Queue.empty[Long]
    var err = 0.0
    var checks = 0
    var t = 0L
    val rnd = new scala.util.Random(7)
    while (t < 10000) {
      val bit = if (rnd.nextInt(10) < 3 || (t / 500) % 2 == 0) 1 else 0
      if (bit == 1) ones.enqueue(t)
      d.addBit(t, bit)
      if (t % 97 == 0 && t > 1000) {
        while (ones.nonEmpty && t - ones.head > 1000) ones.dequeue()
        val exact = ones.size
        val est = d.estimate(t)
        if (exact > 0) { err = math.max(err, math.abs(est - exact).toDouble / exact); checks += 1 }
      }
      t += 1
    }
    assert(checks > 50)
    assert(err <= 0.5, s"max relative error $err exceeds the DGIM bound")
    assert(d.bucketCount <= 30, s"bucket count ${d.bucketCount} not logarithmic")
  }

  test("declared DGIM query tracks the exact trailing-hour error count") {
    val est = Sketches.dgimTrue(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact trailing-hour count per type, anchored at each type's max ts
    val e = graft.sources.Tables.events(spark, TestSpark.sf)
    val exact = e.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.max(col("ts").cast("long")).as("mx"))
      .join(e.select(col("event_type"), col("ts").cast("long").as("tsec")), Seq("event_type"))
      .filter(col("tsec") >= col("mx") - 3600 && col("event_type") === "error")
      .count()
    val errEst = est("error")
    assert(est.keys.toSet.contains("error"))
    assert(est.filter(_._1 != "error").values.forall(_ == 0L),
      "non-error cohorts carry zero 1-bits")
    assert(math.abs(errEst - exact).toDouble <= math.max(1.0, 0.5 * exact),
      s"DGIM estimate $errEst vs exact $exact breaches the 50% bound")
  }

  /** `rows` (event_id, epoch second, user_id, event_type) as an
    * events table of `files` parquet files; returns its directory. */
  private def eventsDir(rows: Seq[(Long, Long, java.lang.Long, String)], files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_events").toString
    rows.map { case (id, sec, user, typ) => (id, sec * 1000000000L, user, typ, 1.0, """{"k": 1}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(files).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("exact jaccard equals the per-user collect_set formulation, NULL users and types included") {
    // the formulation jaccardExact replaced: one type set per user
    // (collect_set drops NULL types; a NULL user is one group), every
    // ordered pair of its types counted
    def bySets(dir: String): Seq[String] = {
      val pairCounts = graft.sources.Tables.events(spark, dir)
        .groupBy(col("user_id")).agg(collect_set(col("event_type")).as("ts"))
        .select(explode(expr(
          "flatten(transform(ts, a -> transform(filter(ts, b -> b >= a), b -> struct(a AS ta, b AS tb))))"))
          .as("p"))
        .groupBy(col("p.ta"), col("p.tb")).agg(count(lit(1))).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      pairCounts.collect { case ((a, b), common) if a < b =>
        val (na, nb) = (pairCounts((a, a)), pairCounts((b, b)))
        val jac = new java.math.BigDecimal(common.toDouble / (na + nb - common))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        Seq(a, b, na, nb, common, jac).mkString("|")
      }.toSeq.sorted
    }
    def exact(dir: String): Seq[String] =
      Sketches.jaccardExact(spark, dir).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val rnd = new scala.util.Random(5)
    val types = Seq("click", "view", "error", null)
    val withNulls = eventsDir((1L to 600L).map { id =>
      val user: java.lang.Long = if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(40).toLong)
      (id, 1700000000L + id, user, types(rnd.nextInt(types.size)))
    }, files = 3)
    for (dir <- Seq(TestSpark.sf, withNulls)) {
      val want = bySets(dir)
      assert(want.size >= 3, s"$dir: ${want.size} type pairs")
      assert(exact(dir) == want, s"$dir: jaccardExact diverged from the collect_set formulation")
    }
  }

  test("declared DGIM query equals a per-row replay over random splits; its shuffles carry folded records") {
    // dgimTrue folds rows to (event_type, second, ones) before its
    // shuffles; the estimates must equal the per-row replay in
    // (event_type, ts, event_id) order, and no exchange may write more
    // records than the files' distinct (event_type, second) pairs (a
    // map task reads one file or more)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    for (seed <- 1 to 3) withClue(s"seed $seed: ") {
      val rnd = new scala.util.Random(seed)
      // 3 h of rows on few distinct seconds, so a 1 h window expires
      // buckets and seconds repeat within and across files
      val rows = (1L to 3000L).map { id =>
        val typ = Seq("error", "error", "click", "view")(rnd.nextInt(4))
        (id, 1700000000L + rnd.nextInt(600) * 18L, java.lang.Long.valueOf(id % 11), typ)
      }
      val files = 2 + rnd.nextInt(5)
      val dir = eventsDir(rows, files)
      val want = rows.groupBy(_._4).map { case (typ, rs) =>
        val d = new graft.plans.Dgim(3600L)
        val sorted = rs.sortBy(r => (r._2, r._1))
        sorted.foreach(r => d.addBit(r._2, if (typ == "error") 1 else 0))
        typ -> d.estimate(sorted.last._2)
      }
      val df = Sketches.dgimTrue(spark, dir)
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
      assert(want("error") > 0)
      val pairs = spark.read.parquet(s"$dir/events.parquet")
        .select(input_file_name().as("f"), col("event_type"), col("ts")).distinct().count()
      val written = Plans.collect(df.queryExecution.executedPlan) {
        case x: ShuffleExchangeExec => x.metrics("shuffleRecordsWritten").value
      }
      assert(written.nonEmpty && pairs < rows.size, s"$pairs pairs in ${rows.size} rows")
      assert(written.forall(_ <= pairs), s"exchanges wrote ${written.mkString(", ")} records, $pairs pairs")
    }
  }

  test("stitched sub-window DGIM: hot-key scale path stays within the 50% bound") {
    // same trailing-window contract as dgimTrue, but replayed as
    // |keys| x chunks independent tasks; only the boundary chunk is
    // sketch-estimated, so the error bound is at worst the classic
    // 50% (and usually far tighter — interior chunks are exact)
    val est = Sketches.dgimStitched(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = graft.sources.Tables.events(spark, TestSpark.sf)
    val exact = e.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.max(col("ts").cast("long")).as("mx"))
      .join(e.select(col("event_type"), col("ts").cast("long").as("tsec")), Seq("event_type"))
      .filter(col("tsec") >= col("mx") - 3600 && col("event_type") === "error")
      .count()
    assert(est.filter(_._1 != "error").values.forall(_ == 0L),
      "non-error cohorts carry zero 1-bits")
    assert(math.abs(est("error") - exact).toDouble <= math.max(1.0, 0.5 * exact),
      s"stitched estimate ${est("error")} vs exact $exact breaches the 50% bound")
  }

  test("stitched DGIM on a synthetic hot key: bound holds, interior chunks exact") {
    import spark.implicits._
    // one hot key, 20k ticks of bursty bits — the shape where
    // dgimTrue degrades to a single serial task and the stitch is
    // the scale answer. Exact trailing count is known, so the bound
    // check is sharp; with the window edge mid-chunk only ~1/8 of
    // the window is sketch-estimated, so expect far better than 50%.
    val rnd = new scala.util.Random(11)
    val bits = (0L until 20000L).map { t =>
      ("hot", t, t, if (rnd.nextInt(10) < 3 || (t / 500) % 2 == 0) 1 else 0)
    }
    val base = bits.toDF("event_type", "tsec", "event_id", "bit")
    val windowSec = 4000L
    val est = Sketches.dgimStitchedOn(spark, base, windowSec, chunks = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val now = 19999L
    val exact = bits.count { case (_, t, _, b) => b == 1 && t >= now - windowSec }
    assert(math.abs(est("hot") - exact).toDouble <= 0.5 * exact,
      s"stitched ${est("hot")} vs exact $exact breaches the 50% bound")
    // interior chunks are exact: only the boundary chunk is
    // sketched, so the total error is bounded by 50% of ONE chunk's
    // ones (<= chunkLen of them) — assert the much tighter bound
    assert(math.abs(est("hot") - exact).toDouble <= 0.5 * (windowSec / 8.0),
      s"stitched ${est("hot")} vs exact $exact worse than the boundary-chunk bound")
  }
}

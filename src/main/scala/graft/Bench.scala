package graft

import java.nio.file.{Files, Paths}

/** Per-round benchmark harness. Runs every declared query against
  * `SPARK_GRAFT_SF_DIR` and emits one JSON metrics line, both to
  * stdout and to `bench_out.json` (env `SPARK_GRAFT_BENCH_OUT`), so
  * the driver never has to scrape sbt-prefixed logs.
  *
  * Honesty rules (round-1 verdict fixes):
  *  - queries are materialized with the `noop` datasource, which
  *    computes every output column (a bare `.count()` would let
  *    Catalyst prune the projection and under-measure scans);
  *  - a warmup query runs first, untimed, so the first measured
  *    query doesn't absorb JVM/codegen/parquet-footer warmup;
  *  - failures are recorded per-query (`failed` list) and flip the
  *    exit code; a query that failed in one sweep but succeeded in
  *    another keeps its successful timing AND stays in `failed`
  *    (recording 0.0 would deflate the total and read as a speedup).
  *
  * Throttle robustness (round-3 verdict top item): the round VM
  * throttles unpredictably under sustained load — identical queries
  * measured 10-50x apart with idle guest CPU — and round 3's official
  * artifact recorded 267s for a workload that re-measured at 33s on
  * the same code. Two defenses:
  *  - the min-of-2 samples come from two INTERLEAVED full sweeps
  *    (run all queries, then repeat the whole sweep) instead of two
  *    back-to-back runs, so a throttle window lasting a few minutes
  *    cannot doom both samples of one query — it would have to span
  *    the entire bench;
  *  - a SparkListener accumulates executor CPU time per query
  *    (`queries_cpu_sec` / `cpu_sec_total` in the JSON). CPU time
  *    excludes involuntary wait, so when the host steals cycles the
  *    wall number inflates but the CPU number doesn't: a wall/CPU
  *    ratio far above the clean-run ratio proves the delta is
  *    host-side, not the engine;
  *  - a calibration probe (`calib_sec` in the JSON): a fixed
  *    single-threaded xorshift loop timed immediately before each
  *    timed sweep and once after the last. Round 6 showed CPU-time
  *    is NOT throttle-proof — frequency scaling stretches CPU-ns
  *    along with wall-ns (llm_dedup_near recorded 172 CPU-s for a
  *    workload that costs ~12 CPU-s on a healthy host) — but the
  *    probe's work is constant, so calib_sec >> its healthy ~0.3 s
  *    directly measures the host slowdown factor for that window.
  *
  * CPU-ledger attribution limits (round-11 adjudication of the
  * round-10 "watch" pair): the per-query CPU numbers come from
  * stage-completion deltas around each materialization, settled by
  * polling the async listener bus. Under host throttle the settle
  * can time out (2 s cap) while a slow stage is still draining, so a
  * stage's CPU lands on the NEXT query — and frequency scaling
  * stretches CPU-ns itself. Round 10's official artifact recorded
  * llm_inverted_index at 12.6 CPU-s and llm_simhash at 2× wall with
  * halved CPU; a quiet-host DevTime re-measure (round 11, 3 runs
  * each) got warm 2.3–3.5 CPU-s and 0.6–0.9 s wall respectively —
  * the declared SURVEY §8 floors stand, and a per-query CPU reading
  * that disagrees with its own wall/CPU history by >2× on a run with
  * slow calibration probes should be re-measured with DevTime before
  * being believed (fresh session, one query at a time, no
  * neighboring stages to misattribute). Since round 12 the artifact
  * self-identifies these readings: every settle records whether it
  * hit the 2 s cap with the counter still moving, and the file JSON
  * carries `cpu_attribution_suspect` — the queries whose REPORTED
  * (min-of-samples) CPU delta was bracketed by a timed-out drain.
  * An inflated reading like round 11's 20.5 CPU-s inverted_index now
  * arrives pre-flagged instead of needing a cross-record diff.
  *
  * Throttle PROOFING (round-9 verdict top item — the round-9 official
  * artifact shipped a 2x-inflated total that per-sweep probes could
  * diagnose but not correct, because one throttle window spanned the
  * same alphabetical block in both sweeps). Three additions:
  *  - probes run every `windowN` (15) queries, not just at sweep
  *    boundaries, so each timed sample is bracketed by a probe pair
  *    and carries a per-WINDOW slowdown factor
  *    (max(bracketing probes) / healthy — conservative: a throttle
  *    entering OR leaving mid-window taints the window);
  *  - a query whose every sample landed in a throttled window
  *    (factor > 1.3) gets ONE bounded partial re-sweep after an idle
  *    pause — min-of-samples then usually recovers the clean number
  *    (self-correcting);
  *  - if a clean window never happened, the artifact says so
  *    honestly: top-level `"throttled": true` (also on the stdout
  *    line), `"calib_healthy"` (the reference the factors are
  *    against), and per-query `"throttle_factors"` for the still-
  *    suspect queries — so no reader can mistake host noise for an
  *    engine regression. `healthy` = min(observed probes, documented
  *    healthy 0.38 s, env SPARK_GRAFT_CALIB_HEALTHY): the clamp
  *    matters when the WHOLE run is throttled and even the fastest
  *    probe is slow. The analysis is pure (`throttleAnalysis`) and
  *    pinned synthetically in BenchLineSpec.
  */
object Bench {
  @volatile private var calibSink: Long = 0L // defeats DCE of the calibration loop

  /** 8-hex fingerprint of a sorted query-name list, carried on the
    * `qv` rungs of the compact line so a reader zipping the values
    * array against its own idea of the registry can PROVE the
    * alignment (names come from BENCH_FULL.json's map or the
    * registry itself; a md5 mismatch means the registry changed
    * between the bench run and the read). */
  private[graft] def namesFingerprint(names: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(names.mkString(",").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
  }

  /** The stdout metrics line, degraded to fit the driver's capture
    * window. The driver keeps EXACTLY the last 2000 chars of stdout
    * (measured: every BENCH_r*.json tail is 2000) and sbt prints
    * "[success] Total time: ..." (~74 chars incl. newlines) AFTER our
    * line even past sys.exit, so the line must stay <= ~1910 chars
    * for its head to survive. The ladder: strip trailing zeros,
    * summarize calibration to its max, drop fields the file already
    * carries (n_queries, runs) and the failed list when it is empty;
    * degrade to 1-decimal values if the 2-decimal line exceeds
    * 1.85 KB; then drop the cpu/calib diagnostics. When even the
    * diag-free named map overflows (~84 full names is the measured
    * ceiling — round 10's 86-query registry shipped totals-only),
    * switch the per-query payload from a named map to `"qv"`: a
    * values ARRAY aligned to the SORTED registry names (~6 chars per
    * query instead of ~23, headroom past 300 queries), tagged with
    * `"qn_md5"` (fingerprint of the name list, see above) and
    * `"n_queries"` so any reader can verify the alignment before
    * zipping. Only when even the 1-decimal array overflows does the
    * terminal totals-only fallback (`queries_in_file_only`, the
    * silent round-4 parsed:null failure mode's fix) drop per-query
    * data from stdout: totals, sf and the failed list always fit.
    * The FILE record keeps the full named map at full precision and
    * every field either way. Package-visible so BenchLineSpec can
    * pin the ladder without running a benchmark. */
  private[graft] def compactLine(names: Seq[String],
      wallMin: Map[String, Option[Double]], total: Double, cpuTotal: Double,
      calibMax: Double, sf: String, failed: Seq[String],
      throttled: Boolean = false): String = {
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def num(x: Double, d: Int): String = {
      val s = s"%.${d}f".format(x)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    def trimmed(d: Int): String = names.map { n =>
      "\"" + n + "\":" + wallMin(n).map(num(_, d)).getOrElse("null")
    }.mkString("{", ",", "}")
    def valuesArr(d: Int): String =
      names.map(n => wallMin(n).map(num(_, d)).getOrElse("null")).mkString("[", ",", "]")
    // `failed` is this engine's own field (not part of the driver's
    // {"metric","value","unit","queries","sf"} contract): emitted only
    // when non-empty, because at 84 real query names the diag-free
    // 1-decimal rung measured EXACTLY 1910 chars — the 12 chars of an
    // empty failed list are the difference between per-query data
    // surviving in stdout and the totals-only fallback
    val failedField = if (failedJson == "[]") "" else s""","failed":$failedJson"""
    // like `failed`, emitted only in the bad case: a healthy run pays
    // zero chars, a throttled run MUST carry the flag on every rung —
    // a reader of the stdout line alone can't otherwise tell host
    // noise from a regression
    val throttledField = if (throttled) ""","throttled":true""" else ""
    def compactAt(d: Int, diag: Boolean): String =
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","queries":${trimmed(d)},"sf":$sf""" +
        (if (diag) f""","cpu_sec":$cpuTotal%.1f,"calib_max":$calibMax%.2f""" else "") +
        failedField + throttledField + "}"
    def qvAt(d: Int, diag: Boolean): String =
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","sf":$sf""" +
        s""","n_queries":${names.size},"qn_md5":"${namesFingerprint(names)}"""" +
        s""","qv":${valuesArr(d)}""" +
        (if (diag) f""","cpu_sec":$cpuTotal%.1f,"calib_max":$calibMax%.2f""" else "") +
        failedField + throttledField + "}"
    val c2 = compactAt(2, diag = true)
    val c1 = compactAt(1, diag = true)
    val c0 = compactAt(1, diag = false)
    val v2 = qvAt(2, diag = true)
    val v1 = qvAt(1, diag = false)
    def totalsOnly(ff: String): String =
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","sf":$sf""" +
        s""","n_queries":${names.size},"queries_in_file_only":true$ff$throttledField}"""
    val t = totalsOnly(failedField)
    if (c2.length <= 1850) c2
    else if (c1.length <= 1910) c1
    else if (c0.length <= 1910) c0
    else if (v2.length <= 1850) v2
    else if (v1.length <= 1910) v1
    else if (t.length <= 1910) t
    else {
      // a mass failure's failed LIST itself outgrew the window
      // (~105+ failing full names): keep a sorted sample and the
      // count of the rest — the FILE record holds the complete list
      val sample = failed.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
      totalsOnly(s""","failed":$sample,"failed_dropped":${failed.size - 20}""")
    }
  }

  /** Pure throttle adjudication over the windowed calibration record.
    * `winIdx`: each query's sample → index of the probe window it was
    * timed in (aligned with its wall-sample list). `windows`: per
    * window, the (before, after) bracketing probe seconds.
    *
    * healthy = min(all observed probes, `healthyDefault`): the run's
    * own fastest probe when the host was ever healthy, clamped by the
    * documented healthy value so a run throttled END-TO-END still
    * reads as throttled rather than redefining slow as normal.
    *
    * A window's factor is max(bracketing probes) / healthy —
    * conservative, a throttle entering or leaving mid-window taints
    * it. A query's factor is the MIN over its samples' windows (the
    * cleanest evidence it ever got — min-of-samples wall comes from
    * that window or better, since throttle only inflates). Returns
    * (healthy, per-query factor, queries whose cleanest window still
    * exceeded `flagAt`). */
  private[graft] def throttleAnalysis(
      winIdx: Map[String, List[Int]],
      windows: IndexedSeq[(Double, Double)],
      healthyDefault: Double,
      flagAt: Double = 1.3): (Double, Map[String, Double], Set[String]) = {
    val probes = windows.flatMap(w => Seq(w._1, w._2)).filterNot(_.isNaN)
    val healthy = math.min(if (probes.nonEmpty) probes.min else healthyDefault, healthyDefault)
    def wFactor(i: Int): Double = {
      val (a, b) = windows(i)
      math.max(a, if (b.isNaN) a else b) / healthy
    }
    val factors = winIdx.collect { case (n, ws) if ws.nonEmpty => n -> ws.map(wFactor).min }
    (healthy, factors.toMap, factors.collect { case (n, f) if f > flagAt => n }.toSet)
  }

  /** Pure CPU-attribution adjudication (round-11 verdict item 2):
    * which queries' REPORTED per-query CPU (the min over samples —
    * the number `queries_cpu_sec` carries) came from a sample whose
    * listener-drain settle timed out. Such a delta may contain a
    * neighboring query's draining stages, so its reading must not be
    * believed without a DevTime re-measure — the artifact now says so
    * itself. `sus` lists are index-aligned with `cpu`'s sample lists
    * (both are prepended per sweep). A query whose OTHER samples were
    * tainted but whose min-CPU sample settled cleanly is NOT flagged:
    * the reported number is the clean one. */
  private[graft] def cpuSuspects(
      cpu: Map[String, List[Double]],
      sus: Map[String, List[Boolean]]): Set[String] =
    cpu.collect { case (n, samples) if samples.nonEmpty &&
        sus.getOrElse(n, Nil).lift(samples.indexOf(samples.min)).getOrElse(true) => n
    }.toSet

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Stage-level executor CPU, accumulated across the whole run;
    // per-query attribution reads the counter around each
    // materialization (queries run one at a time, so deltas are
    // unambiguous up to listener-bus lag). A settle that hit its cap
    // is recorded per sample and surfaces in the JSON as
    // `cpu_attribution_suspect` (round-11 verdict item 2: the ledger
    // must self-identify instead of needing a judge to diff records).
    val meter = new Harness.CpuMeter(spark)

    def materialize(name: String): Unit = {
      // label the jobs (guide §1.5) so UI/event-log reads attribute
      // stages to queries; cleared after so settle-window jobs (block
      // cleanup etc.) don't inherit the last query's label
      spark.sparkContext.setJobDescription(s"bench: $name")
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      finally spark.sparkContext.setJobDescription(null)
    }

    // Host-speed probe: a fixed 200M-iteration xorshift loop, single
    // thread, no allocation. ~0.3 s on this VM healthy; linearly
    // longer under frequency throttling. The volatile sink defeats
    // dead-code elimination.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      calibSink = x
      (System.nanoTime() - t0) / 1e9
    }
    val calib = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Warmup (untimed): one FULL sweep. Round-4's four-query warmup
    // only touched the table families, so the heavy dedup/sketch
    // queries paid their codegen + first-materialization cost inside
    // timed sweep 1 (llm_dedup_near: ~13 s cold vs ~3.3 s warm on a
    // healthy host) — under host throttle sweep 2 can't rescue the
    // min and the artifact reads as a phantom regression. A full warm
    // sweep makes every timed sample a warm sample.
    //
    // SPARK_GRAFT_BENCH_ONLY (comma-separated query names) restricts
    // the run to a subset — for scale-ladder probes where some
    // declared queries have an output contract that is itself
    // superlinear in the generated corpus shape (tools/scale_probe.sh)
    // and would dominate the record without measuring the engine.
    // Official per-round artifacts never set it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"BENCH_ONLY names not in registry: $unknown")
    }
    def selected(n: String): Boolean = only.forall(_.contains(n))
    for (w <- SparkEntry.queries.keys.toSeq.sorted if selected(w))
      try materialize(w) catch { case _: Throwable => () }

    // Idle after warmup, before the first timed sweep: the host VM
    // throttles after sustained load, and a bench run typically
    // starts seconds after a heavy sbt compile — exactly the window
    // that inflated round 3's official artifact 10x. A short settle
    // lets the host's budget recover; override with
    // SPARK_GRAFT_SETTLE_MS=0 for quick local iterations.
    val settleMs = sys.env.getOrElse("SPARK_GRAFT_SETTLE_MS", "60000").toLong
    if (settleMs > 0) Thread.sleep(settleMs)

    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    val sweeps = 2
    val wall = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val cpu = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    // per-sample settle-timeout bits, aligned with cpu's sample lists:
    // true when the pre- OR post-query settle gave up with the counter
    // still moving (either taints the delta: a pre-timeout means a
    // predecessor's stages may inflate this query, a post-timeout
    // means this query's own stages may leak onto its successor)
    val cpuSus = scala.collection.mutable.Map.empty[String, List[Boolean]].withDefaultValue(Nil)
    // per-sample probe-window index, aligned with wall's sample lists
    val winIdx = scala.collection.mutable.Map.empty[String, List[Int]].withDefaultValue(Nil)
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var failed = Set.empty[String]

    // Windowed sweep: a probe brackets every <= windowN consecutive
    // timed queries, so each sample knows how fast the host was while
    // it ran. 15 queries ≈ the round-9 throttle window's grain (the
    // inflated block was ~12 alphabetical names); ~6 extra probes per
    // sweep ≈ 2 s overhead at the healthy 0.38 s/probe.
    val windowN = 15
    def runSweep(qs: Seq[String]): Unit = {
      var cur = windows.length
      val p0 = calibrate(); calib += p0
      windows += ((p0, Double.NaN))
      var inWin = 0
      for (name <- qs) {
        try {
          val r = meter.timed(materialize(name))
          wall(name) ::= r.wallSec
          cpu(name) ::= r.cpuSec
          cpuSus(name) ::= r.suspect
          winIdx(name) ::= cur
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed += name
        }
        inWin += 1
        if (inWin >= windowN && name != qs.last) {
          val p = calibrate(); calib += p
          windows(cur) = (windows(cur)._1, p)
          cur = windows.length; windows += ((p, Double.NaN)); inWin = 0
        }
      }
      val pEnd = calibrate(); calib += pEnd
      windows(cur) = (windows(cur)._1, pEnd)
    }

    for (_ <- 1 to sweeps) runSweep(names)

    // Bounded self-correction: queries whose EVERY sample sat in a
    // throttled window get one partial re-sweep after an idle pause
    // (interleaving can't save a query when the throttle spans both
    // sweeps — exactly round 9's artifact failure). One re-sweep,
    // never more: a host that stays slow gets FLAGGED, not retried
    // forever.
    val healthyDefault = sys.env.getOrElse("SPARK_GRAFT_CALIB_HEALTHY", "0.38").toDouble
    val suspect = throttleAnalysis(winIdx.toMap, windows.toIndexedSeq, healthyDefault)._3
    if (suspect.nonEmpty) {
      System.err.println(s"[bench] calibration shows host throttle over ${suspect.size} " +
        "queries' every sample; idling, then one partial re-sweep")
      Thread.sleep(math.min(settleMs, 30000L))
      runSweep(names.filter(suspect))
    }
    val (calibHealthy, qFactors, throttledQs) =
      throttleAnalysis(winIdx.toMap, windows.toIndexedSeq, healthyDefault)

    def fmt(v: Option[Double], d: Int): String = v.map(x => s"%.${d}f".format(x)).getOrElse("null")
    val calibJson = calib.map(c => f"$c%.3f").mkString("[", ",", "]")
    val wallMin = names.map(n => n -> wall(n).minOption).toMap
    val cpuMin = names.map(n => n -> cpu(n).minOption).toMap
    def qsJson(m: Map[String, Option[Double]], d: Int): String =
      names.map(n => "\"" + n + "\":" + fmt(m(n), d)).mkString("{", ",", "}")
    val total = wallMin.values.flatten.sum
    val cpuTotal = cpuMin.values.flatten.sum
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full record (with the per-query CPU attribution) goes to the
    // file; stdout gets a COMPACT line. The round-4 official artifact
    // recorded parsed:null because the driver keeps only a ~2 KB tail
    // of stdout and the 3.1 KB line's "{"metric":..." prefix fell off
    // the window — the stdout line must stay well under that budget.
    // Throttle verdict fields: `throttled` is the one-bit headline
    // (any query's cleanest window > 1.3x healthy); `throttle_factors`
    // names the still-suspect queries with the slowdown factor their
    // BEST sample was measured under, so a reader can discount exactly
    // those numbers and no others.
    val tfJson = throttledQs.toSeq.sorted
      .map(n => "\"" + n + "\":" + f"${qFactors(n)}%.2f").mkString("{", ",", "}")
    // CPU-attribution flags: queries whose reported min-CPU sample had
    // a timed-out listener drain. Emitted ALWAYS (an empty list is the
    // positive statement "every reported CPU delta settled cleanly") —
    // the file record, not stdout, carries it; the stdout budget
    // stays untouched.
    val cpuSuspectQs = cpuSuspects(cpu.toMap, cpuSus.toMap)
    val cpuSusJson = cpuSuspectQs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val throttleFields =
      s""","throttled":${throttledQs.nonEmpty}""" +
        f""","calib_healthy":$calibHealthy%.3f""" +
        (if (throttledQs.nonEmpty) s""","throttle_factors":$tfJson""" else "") +
        s""","cpu_attribution_suspect":$cpuSusJson"""
    val full =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":${qsJson(wallMin, 4)},"sf":$sf""" +
        s""","n_queries":${names.size},"runs_per_query":$sweeps,"agg":"min","sweep_interleaved":true""" +
        f""","cpu_sec_total":$cpuTotal%.4f,"queries_cpu_sec":${qsJson(cpuMin, 4)}""" +
        s""","calib_sec":$calibJson$throttleFields,"failed":$failedJson}"""
    val compact = compactLine(names, wallMin, total, cpuTotal, calib.max, sf,
      failed.toSeq.sorted, throttled = throttledQs.nonEmpty)
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), full + "\n")
    // bench_out.json is gitignored (scratch); BENCH_FULL.json is the
    // TRACKED copy of the same record, so the full per-query wall +
    // CPU + calibration data survives into the repo even now that the
    // stdout line is too tight to carry the diagnostics (the driver's
    // snapshot commits it with the round's artifacts). Resolved
    // against the repo root (overridable), NOT the process cwd — a
    // Bench run from elsewhere must not drop the tracked artifact in
    // a random directory after the whole benchmark has completed.
    val fullOut = sys.env.get("SPARK_GRAFT_BENCH_FULL_OUT")
      .orElse(sys.env.get("SPARK_GRAFT_REPO_ROOT").map(_ + "/BENCH_FULL.json"))
      .getOrElse {
        // walk up to the nearest build.sbt, probing from wherever
        // this class was loaded FIRST (<repo>/target/scala-2.13/
        // classes under sbt — it identifies the repo this Bench was
        // built from) and from the cwd only as a fallback: running
        // Bench from inside some OTHER sbt project must not drop the
        // artifact into that project's root
        val starts =
          (try List(Paths.get(
            Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
           catch { case _: Exception => Nil }) :+
          Paths.get("").toAbsolutePath
        val root = starts.view
          .flatMap(s => Iterator.iterate(s)(_.getParent).takeWhile(_ != null)
            .find(p => Files.exists(p.resolve("build.sbt"))))
          .headOption.getOrElse(Paths.get("").toAbsolutePath)
        root.resolve("BENCH_FULL.json").toString
      }
    try Files.writeString(Paths.get(fullOut), full + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] BENCH_FULL write to $fullOut failed: ${e.getMessage}")
    }
    spark.stop()
    // Last stdout before sbt's unavoidable "[success]" trailer:
    // nothing else (not even executor shutdown logging) may land
    // between this line and the end of the 2000-char tail window.
    println(compact)
    System.out.flush()
    sys.exit(if (failed.nonEmpty) 1 else 0)
  }
}

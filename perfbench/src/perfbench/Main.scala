package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the benchmark: builds the session, generates the seeded
  * inputs, drives one workload through the engine's public entry
  * points, checks the outputs, and writes the raw samples as one JSON
  * file. All arithmetic on the samples (percentiles, backlog growth,
  * rate pick, self time) happens in `perfbench/benchstats.py`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE
  *
  * The report is written only when the run completes; any failure
  * exits with status 1. */
object Main {
  val Cpus = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), need("out"))
  }

  /** Epoch ms at which this JVM process started. */
  def processStartMs: Long =
    ProcessHandle.current().info().startInstant().map[Long](_.toEpochMilli)
      .orElse(ManagementFactory.getRuntimeMXBean.getStartTime)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // room for every generated class of the workload: with Spark's
      // default of 100, evicted classes were compiled again inside tasks
      // and one op's executor CPU moved by up to 0.3 s between passes
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the serving client of eco_stream reads from its own pool, sharing
      // the cores with ingest instead of queuing behind every batch task
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/tmp/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Fixed single-thread integer loop; the host-speed probe recorded
    * before and after each workload. The median of five, not the
    * minimum, so that CPU the host steals from this VM shows. */
  @volatile private var sink = 0L
  def calibrationMs(): Double = Stat.median(5) {
    val t = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 40000000) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    sink += h
    (System.nanoTime() - t) / 1e6
  }

  /** Live heap in MB: used heap after a full collection, a pause for
    * Spark's cleaner to drop blocks of the objects that collection freed,
    * and a second full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Order-independent content hash of a result. */
  def contentHash(rows: Array[Row]): String = {
    val lines = rows.map(_.toString).sorted
    java.lang.Long.toHexString(
      lines.foldLeft(1125899906842597L)((h, s) => h * 1099511628211L ^ s.hashCode.toLong))
  }

  /** One file per table, the layout of the repository's test data. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def workload(name: String, spark: SparkSession, probe: Probe, tracer: Tracer, args: Args): Workload =
    name match {
      case "eco_serve" => new EcoServe(spark, probe, tracer, args)
      case "eco_stream" => new EcoStream(spark, probe, tracer, args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The raw report, via the Jackson that ships in Spark's jars; NaN
    * (a sample that was never observed) stays a number. */
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .disable(com.fasterxml.jackson.core.json.JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def writeJson(v: Any, path: String): Unit = {
    val tmp = new java.io.File(path + ".tmp")
    mapper.writeValue(tmp, v)
    if (!tmp.renameTo(new java.io.File(path))) sys.error(s"cannot write $path")
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  /** Set-up, timed from process start until the session is built and
    * the workload's first operation has completed, less the time spent
    * generating inputs in between. */
  private def setUp(args: Args, report: mutable.Map[String, Any]): (SparkSession, Probe, Tracer, Workload) = {
    val started = processStartMs
    val spark = session(args.work)
    val sessionMs = System.currentTimeMillis() - started
    val probe = new Probe(spark)
    val tracer = new Tracer(args.trace)
    val w = workload(args.workload, spark, probe, tracer, args)
    val genStart = System.currentTimeMillis()
    w.prepare()
    log("inputs ready")
    report("gen_ms") = System.currentTimeMillis() - genStart
    report("session_ms") = sessionMs
    report("setup_ms") = sessionMs + w.first()
    log("first operation done")
    (spark, probe, tracer, w)
  }

  private def run(args: Args): Unit = {
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> (if (args.trace) 1 else 0),
      "cpus" -> Cpus)
    val (spark, probe, tracer, w) = setUp(args, report)
    report("calib_before_ms") = calibrationMs()
    w.measure(report)
    log("measured")
    report("calib_after_ms") = calibrationMs()
    // The corpus chain's layers are measured in eco_serve's traced run
    // (the time budget of the benchmark holds two workloads).
    val chain =
      if (args.trace && args.workload == "eco_serve") Some(new CorpusChain(spark, probe, tracer, args))
      else None
    chain.foreach { c =>
      val cr = mutable.LinkedHashMap[String, Any]()
      c.prepare()
      c.first()
      c.measure(cr)
      report("chain") = cr
      for (k <- Seq("attempted", "failed"))
        report(k) = report(k).asInstanceOf[Long] + cr(k).asInstanceOf[Long]
      report("failures") = report("failures").asInstanceOf[Iterable[String]] ++ cr("failures").asInstanceOf[Iterable[String]]
      log("corpus chain measured")
    }
    probe.settle()
    report("groups") = probe.allGroups.map { case (g, gw) => g -> gw.toMap }
    report("fallback_ops") = w.fallbackOps(probe) ++ chain.toSeq.flatMap(_.fallbackOps(probe))
    report("spans") = tracer.count
    if (args.trace) tracer.write(args.out.stripSuffix(".json") + ".spans.jsonl")
    w.close()
    writeJson(report, args.out)
    spark.stop()
  }
}

object Stat {
  /** Median of `n` runs of a microbenchmark. */
  def median(n: Int)(f: => Double): Double = {
    val xs = Seq.fill(n)(f).sorted
    xs(xs.length / 2)
  }
}

/** One benchmark workload. `prepare` makes the seeded inputs (not part
  * of set-up time); `first` completes the first operation and returns
  * its wall ms; `measure` runs the timed loop and fills the report. */
trait Workload {
  def prepare(): Unit
  def first(): Long
  def measure(report: mutable.Map[String, Any]): Unit
  /** Operations whose executed plans lacked the kernel they should run. */
  def fallbackOps(probe: Probe): Seq[String] = Nil
  def close(): Unit = ()
}

/** Shared pieces of the two batch workloads: passes over a fixed list
  * of operations, one client, each operation under its own job group.
  * Pass 0 runs every op once, untimed: it is each op's first run (the
  * reference its later outputs must equal). Pass 1, also untimed, is JIT
  * warm-up. Timed passes then fill the `--seconds` window, whole passes
  * only. */
abstract class BatchLoop(spark: SparkSession, probe: Probe, tracer: Tracer, args: Main.Args)
    extends Workload {
  /** (name, build) pairs of one pass, in fixed order. */
  def ops: Seq[(String, () => DataFrame)]
  /** Kernels each op's executed plans must contain. */
  def kernelOf: Map[String, String] = Map.empty
  /** Order of the ops in timed pass `p`. Pass 0 runs them in list order. */
  def order(p: Int): Seq[Int] = ops.indices

  private val reference = mutable.Map.empty[String, (Long, String)]
  private val firstOut = mutable.LinkedHashMap.empty[String, Array[Row]]
  private val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one op under its own job group; returns (wall ms, rows).
    * `traced` records spans and walks its executed plans. */
  private def runOp(opId: String, name: String, build: () => DataFrame, traced: Boolean): (Double, Array[Row]) = {
    tracer.on = traced
    if (traced) probe.walk(opId)
    spark.sparkContext.setJobGroup(opId, name, interruptOnCancel = false)
    val t = System.nanoTime()
    val rows = tracer.span(opId, "op") {
      val df = tracer.span(opId, "operators.build")(build())
      tracer.span(opId, "driver.collect")(df.collect())
    }
    val ms = (System.nanoTime() - t) / 1e6
    spark.sparkContext.clearJobGroup()
    tracer.on = args.trace
    (ms, rows)
  }

  /** First run of an op: its output is the reference for later runs;
    * its plans are walked for the kernel-path check. */
  private def firstRun(i: Int): Double = {
    val (name, build) = ops(i)
    probe.walk(s"p0.$name")
    val (ms, rows) = runOp(s"p0.$name", name, build, traced = false)
    attempted += 1
    reference(name) = (rows.length.toLong, Main.contentHash(rows))
    firstOut(name) = rows
    ms
  }

  def first(): Long = math.round(firstRun(0))

  /** Outputs of each op's first run, checked by the workload. */
  def checkFirstRun(out: Map[String, Array[Row]]): Unit = ()

  protected def check(ok: Boolean, what: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def measure(report: mutable.Map[String, Any]): Unit = {
    ops.indices.tail.foreach(firstRun)
    checkFirstRun(firstOut.toMap)
    firstOut.clear()
    val heap = mutable.ArrayBuffer(Main.liveHeapMb())

    /** Pass `p` in its seeded order, every output checked. Timed passes
      * are recorded; in the traced run they trace every other op,
      * swapping parity each pass. */
    def pass(p: Int, timed: Boolean): Unit = {
      val t = System.nanoTime()
      for ((i, k) <- order(p).zipWithIndex) {
        val (name, build) = ops(i)
        val opId = s"p$p.$name"
        val traced = timed && args.trace && (k + p) % 2 == 0
        try {
          val (ms, rows) = runOp(opId, name, build, traced)
          val (n, h) = reference(name)
          check(rows.length == n && Main.contentHash(rows) == h, s"$opId output differs from its first run")
          if (timed) samples += Map("op" -> opId, "name" -> name, "pass" -> p, "ms" -> ms, "traced" -> traced)
        } catch {
          case e: Exception => check(ok = false, s"$opId failed: $e")
        }
      }
      if (timed) {
        passes += Map("pass" -> p, "ms" -> (System.nanoTime() - t) / 1e6,
          "ops" -> order(p).map(i => s"p$p.${ops(i)._1}"))
        heap += Main.liveHeapMb()
      }
    }

    // an untimed warm-up pass (the pass after the first runs still pays
    // for JIT compilation: 20-25% more executor CPU than the next), then
    // timed passes while another one fits in the window: at least one,
    // and two in the traced run so that each op has a traced and an
    // untraced run
    pass(1, timed = false)
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val minTimed = if (args.trace) 2 else 1
    var p = 2
    var last = 0L
    while (p - 1 <= minTimed || System.nanoTime() + last <= deadline) {
      val t = System.nanoTime()
      pass(p, timed = true)
      last = System.nanoTime() - t
      p += 1
    }
    report("ops") = samples
    report("passes") = passes
    report("heap_live_mb") = heap
    report("attempted") = attempted
    report("failed") = failed
    report("failures") = failures
  }

  override def fallbackOps(probe: Probe): Seq[String] = {
    val g = probe.allGroups
    kernelOf.toSeq.collect { case (name, kernel)
      if !g.get(s"p0.$name").exists(_.plans.exists(_.contains(kernel))) => name
    }
  }
}

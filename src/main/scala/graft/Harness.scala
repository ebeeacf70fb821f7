package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** What every main and the test JVM share: one session configuration
  * and one executor-CPU meter. */
object Harness {

  /** A `local[cpus]` session with `cpus` shuffle partitions and the
    * engine's settings. `overrides` are `k=v` strings (the trailing
    * arguments of DevTime and AnnProbeBench), applied last. Spark
    * logs at WARN from the start (src/main/resources/log4j2.properties). */
  def session(cpus: Int, overrides: Seq[String] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JVM (not ICU) case mappings: Unicode-correct either way, and
      // the ICU path was the top CPU frame in round-7 stack profiles
      // of the shingle/tokenize pipelines (execBinaryICU per row)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // never bypass-merge shuffle: bypass opens one file per reduce
      // partition per map task (32x32 per exchange); the unsafe/sort
      // writers open one file per map task
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    overrides.foreach { c => val Array(k, v) = c.split("=", 2); builder.config(k, v) }
    builder.getOrCreate()
  }

  /** One timed run: wall seconds, executor CPU seconds, and whether a
    * settle around it hit its cap (the CPU may then hold a neighbour's
    * stages, or miss some of its own). */
  final case class Reading(wallSec: Double, cpuSec: Double, suspect: Boolean)

  /** Executor CPU summed over every completed stage of `spark`'s
    * context. Work run one piece at a time is attributed by reading
    * the counter before and after it (`timed`). */
  final class CpuMeter(spark: SparkSession) {
    private val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      }
    })

    /** The listener bus is asynchronous: stage-completed events can
      * trail the job by a beat. Polls until the counter is stable so a
      * query's stages don't get attributed to its successor. Returns
      * the settled counter AND whether the poll hit its 2 s cap while
      * the counter was still moving — the mechanism behind the
      * round-10/11 attribution inflations (a throttled stage drains
      * past the cap and its CPU lands on the NEXT query). */
    private def settle(): (Long, Boolean) = {
      var prev = -1L
      var cur = cpuNs.get()
      var spins = 0
      while (cur != prev && spins < 40) { // <= 2 s
        Thread.sleep(50)
        prev = cur
        cur = cpuNs.get()
        spins += 1
      }
      (cur, cur != prev)
    }

    /** Runs `body` between two settles; the wall time excludes them.
      * A throwing `body` propagates and yields no reading. */
    def timed(body: => Unit): Reading = {
      val (cpu0, pre) = settle()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, post) = settle()
      Reading(wall, (cpu1 - cpu0) / 1e9, pre || post)
    }
  }
}

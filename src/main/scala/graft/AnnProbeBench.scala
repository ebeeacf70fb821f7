package graft

import org.apache.spark.sql.functions._

/** Dev tool: the steady-state ANN cost a capacity planner actually
  * needs (round-14 verdict item 4). The registry `llm_ann_ivfpq`
  * re-trains both codebook families per invocation — correct for the
  * correctness gate, but at 100 TB the index is built ONCE per corpus
  * snapshot and probed many times, so the bench-relevant number is
  * probe-only against a persisted index. This main separates the two:
  *
  *   1. BUILD (timed separately): `buildAnnIndex` → write the three
  *      index DataFrames to parquet, codes partitioned by `cluster`
  *      (the at-scale layout — a probe prunes to nprobe/k cells).
  *   2. PROBE (the steady-state number): reload the index from
  *      parquet, then N timed `probeAnnIndex` runs (first run warms
  *      the reload + codegen; the min of the rest is the settled
  *      number).
  *
  * Usage: sbt "runMain graft.AnnProbeBench <sfDir> [probeRuns]"
  * Prints one JSON line:
  *   {"metric":"ann_probe","build_sec":…,"probe_secs":[…],
  *    "probe_min_sec":…,"build_cpu_sec":…,"probe_cpu_secs":[…],
  *    "cpu_suspect":…,"sf_dir":…}
  */
object AnnProbeBench {
  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.partition(_.contains("="))
    val sfDir = rest.headOption.getOrElse(sys.env("SPARK_GRAFT_SF_DIR"))
    val runs = if (rest.length > 1) rest(1).toInt else 5
    val spark = Harness.session(32, confs.toSeq)
    val meter = new Harness.CpuMeter(spark)
    import graft.operators.Llm

    val all = Llm.vecs(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_probe_bench").toString
    // --- build: train + encode + persist (once per corpus snapshot) ---
    val build = meter.timed {
      Llm.buildAnnIndex(spark, all.select(col("vec_id"), col("v"))).write(tmp)
    }

    // --- probe: steady-state — reload once, probe `runs` times ---
    val index = Llm.AnnIndex.read(spark, tmp)
    val probes = all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("nrm"))
    // first run warms reload + codegen
    val reads = (0 until (runs + 1)).map { _ =>
      meter.timed(Llm.probeAnnIndex(spark, index, probes, all)
        .write.mode("overwrite").format("noop").save())
    }
    val timed = reads.drop(1)
    // a CPU reading whose settle hit its cap may hold a neighbour's
    // stages (Bench's `cpu_attribution_suspect`)
    val suspect = (build +: timed).exists(_.suspect)
    println(
      f"""{"metric":"ann_probe","build_sec":${build.wallSec}%.2f,"build_cpu_sec":${build.cpuSec}%.2f,""" +
      s""""probe_secs":[${timed.map(r => f"${r.wallSec}%.2f").mkString(",")}],""" +
      f""""probe_min_sec":${timed.map(_.wallSec).min}%.2f,""" +
      s""""probe_cpu_secs":[${timed.map(r => f"${r.cpuSec}%.2f").mkString(",")}],""" +
      f""""probe_cpu_min_sec":${timed.map(_.cpuSec).min}%.2f,"warm_sec":${reads.head.wallSec}%.2f,""" +
      s""""cpu_suspect":$suspect,"runs":$runs,"sf_dir":"$sfDir"}""")
    spark.stop()
  }
}

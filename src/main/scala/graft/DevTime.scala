package graft

/** Dev tool: time named queries one at a time in a fresh session
  * (isolates per-query cost from bench-order JVM contamination).
  * Usage: sbt "runMain graft.DevTime <sfDir> <query> [query ...]"
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.partition(_.contains("="))
    val sfDir = rest.head
    val spark = Harness.session(32, confs.toSeq)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
        println(f"  STAGE ${si.stageId}%4d ${ms.getOrElse(-1L)}%7d ms " +
          f"tasks=${si.numTasks}%4d  ${si.name.take(80)}")
      }
    })
    // DEVTIME_SAMPLE=1 enables sampling; DEVTIME_SAMPLE_MS overrides
    // the interval (default 5000 — drop to ~200 for sub-5 s queries,
    // or one sample per run tells you nothing)
    val sampleMs = sys.env.getOrElse("DEVTIME_SAMPLE_MS", "5000").toLong
    val sampler = new Thread(() => {
      while (true) {
        Thread.sleep(sampleMs)
        val stacks = Thread.getAllStackTraces
        val lines = new scala.collection.mutable.ArrayBuffer[String]()
        stacks.forEach { (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
              !t.getName.contains("sampler") &&
              t.getName.startsWith("Executor task launch")) {
            // top APPLICATION frame beats 5 raw frames for aggregation
            lines += st.take(25).mkString(" <- ")
          }
        }
        println("  SAMPLE ---- runnable=" + lines.size)
        lines.take(16).foreach(l => println(s"  SAMPLE ${l.take(2500)}"))
      }
    })
    sampler.setDaemon(true)
    if (sys.env.contains("DEVTIME_SAMPLE")) sampler.start()
    // executor CPU per query (the meter Bench uses): CPU is the
    // number to compare across A/B runs on this host — wall swings
    // 10-50x under the VM's throttling, CPU only stretches with
    // frequency scaling. `cpu?` marks a reading whose settle hit its
    // cap (Bench's `cpu_attribution_suspect`): re-run before trusting it.
    val meter = new Harness.CpuMeter(spark)
    rest.drop(1).foreach { n =>
      val r = meter.timed(
        SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save())
      val cpu = if (r.suspect) "cpu?" else "cpu"
      println(f"TIMING $n ${r.wallSec}%.2f s  $cpu ${r.cpuSec}%.2f s")
    }
    spark.stop()
  }
}

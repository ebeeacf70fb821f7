package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** oracle_sql.json: query name → oracle SQL for every record that
    * carries one, keys sorted. */
  private[graft] def oracleJson: String = {
    val m = new java.util.TreeMap[String, String]()
    for (q <- SparkEntry.registry; sql <- q.oracle) m.put(q.name, sql)
    new ObjectMapper().writeValueAsString(m)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args // trailing names = dev subset
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (never stopped — suites
  * run sequentially in the forked JVM; see build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `pairs` set, then restores
    * each key's prior value, or unsets a key that had none. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.plans.{Dgim, Markov}

/** eco_serve: one closed-loop client runs a seeded mix of the
  * reference's query menu (`consultas.py`), as the `eco_*` registry
  * entries, against a seeded events store about the size of the
  * reference's 2 h TTL window. Each timed pass runs every query once in
  * a seeded order; set-up and the untimed first pass start with
  * `eco_stats`, so every seed sets up with the same query. */
final class EcoServe(spark: SparkSession, probe: Probe, tracer: Tracer, args: Main.Args)
    extends BatchLoop(spark, probe, tracer, args) {
  val Events = 100000
  val Users = 2000
  val dir = s"${args.work}/data/eco-${args.seed}"

  val mix: Seq[String] = Seq(
    "eco_stats", "eco_window_counts", "eco_trends", "eco_recent", "eco_distinct_users",
    "eco_hll_users", "eco_transitions", "eco_importance", "eco_mapreduce", "eco_bloom_members",
    "eco_minhash_jaccard", "eco_jaccard_exact", "eco_dgim_exact", "eco_dgim_true",
    "eco_graph_edges", "eco_walk_freq", "eco_markov_classes", "eco_transition_matrix")
  /** The queries whose aggregates run the sketch functions. */
  val sketches: Seq[String] = Seq(
    "eco_hll_users", "eco_bloom_members", "eco_minhash_jaccard",
    "eco_jaccard_exact", "eco_dgim_exact", "eco_dgim_true")

  def ops: Seq[(String, () => DataFrame)] =
    mix.map(q => q -> (() => SparkEntry.queries(q)(spark, dir)))

  override def order(p: Int): Seq[Int] =
    new scala.util.Random(args.seed * 1000003L + p).shuffle(mix.indices.toList)

  private lazy val events = Gen.events(args.seed, Events, Users, 2L * 3600 * 1000, Gen.T0Ms)

  def prepare(): Unit = {
    Main.writeParquet(Gen.eventsDF(spark, events.toSeq), s"$dir/events.parquet")
  }

  override def measure(report: mutable.Map[String, Any]): Unit = {
    super.measure(report)
    report("params") = Map("events" -> Events, "users" -> Users, "user_zipf_s" -> 1.1,
      "event_types" -> Gen.EventTypes.length, "window_h" -> 2, "mix" -> mix,
      "sketch_queries" -> sketches)
    if (args.trace) report("kernels") = kernels()
  }

  /** ns per row of the plans kernels this workload's queries run,
    * called directly on the generated events (median of 5). */
  private def kernels(): Map[String, Double] = {
    val sorted = events.sortBy(_.tsMs)
    val bits = sorted.map(e => (e.tsMs / 1000, if (e.eventType == "error") 1 else 0))
    val dgim = Stat.median(5) {
      tracer.span("kernel.dgim", "plans.dgim") {
        val d = new Dgim(3600L)
        val t = System.nanoTime()
        bits.foreach { case (ts, b) => d.addBit(ts, b) }
        d.estimate(bits.last._1)
        (System.nanoTime() - t).toDouble / bits.length
      }
    }
    // transition matrix of each user's time-ordered event sequence
    val types = Gen.EventTypes.sorted.toIndexedSeq
    val idx = types.zipWithIndex.toMap
    val cnt = Array.ofDim[Double](types.length, types.length)
    sorted.groupBy(_.userId).values.foreach(es =>
      es.sliding(2).foreach { case Array(a, b) => cnt(idx(a.eventType))(idx(b.eventType)) += 1; case _ => })
    val p = cnt.map { r => val s = r.sum; r.map(x => if (s == 0) 0.0 else x / s) }
    val markov = Stat.median(5) {
      tracer.span("kernel.markov", "plans.markov") {
        val reps = 2000
        val t = System.nanoTime()
        var i = 0
        while (i < reps) { Markov.classify(types, p); i += 1 }
        (System.nanoTime() - t).toDouble / (reps * types.length)
      }
    }
    Map("dgim" -> dgim, "markov" -> markov)
  }
}

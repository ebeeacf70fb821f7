package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.Ckpt.CkptOps
import graft.plans.Markov
import graft.sources.Tables

/** The reference's graph + Markov suite (random_walk_utils.py,
  * MarkovChainAnalysis.py) over the events table. The habitat domain
  * maps to event_type; node coordinates derive deterministically from
  * the first-seen event per type (the reference likewise takes the
  * first-seen coordinates per habitat, random_walk_utils.py:15-19).
  *
  * Scale split, per SURVEY §2.8: graph CONSTRUCTION (node dedup +
  * spatial theta-join) is distributed and would scale to millions of
  * nodes via a banded/grid join; walk/Tarjan/DTMC ANALYSIS runs
  * driver-side on the collected graph because the state space is the
  * bounded categorical domain (|event_type| ≤ a handful) — only the
  * |S|² matrix crosses the driver, never row data.
  */
object Graph {

  val ThresholdKm = 15000.0

  /** A14 grouped first-value: first-seen synthetic coordinates per
    * event_type ("habitat"). First-seen is pinned to (ts, event_id)
    * order — the reference's arrival-order `first` is nondeterministic
    * (random_walk_utils.py:16-19); we make it reproducible. The
    * coordinates are a deterministic arithmetic fold of the first
    * event's value/user_id into valid lat/lon ranges (the events
    * table carries no geo columns; what matters is that both engines
    * derive identical doubles). */
  def graphNodes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type").as("habitat"),
        round(col("value") % 180.0 - 90.0, 6).as("lat"),
        (col("user_id") % 360 - 180).cast("double").as("lon"))
  }

  /** J1/G1: habitat-graph edges via self theta-join on haversine
    * distance (random_walk_utils.py:22-30). At this node count the
    * cross-join is trivial; at millions of nodes the same operator
    * becomes a grid-cell band join (bucket by geohash prefix, join
    * neighboring cells) — the theta predicate stays identical. */
  def graphEdges(spark: SparkSession, dir: String): DataFrame =
    edgesOfNodes(graphNodes(spark, dir))

  /** The spatial theta-join over an explicit node frame — factored
    * out (r21) so callers that need BOTH nodes and edges (walkFreq,
    * graphComponents) can materialize the first-seen-per-type window
    * once instead of re-running the events scan per consumer. */
  private def edgesOfNodes(n: DataFrame): DataFrame = {
    val a = n.select(col("habitat").as("h1"), col("lat").as("lat1"), col("lon").as("lon1"))
    val b = n.select(col("habitat").as("h2"), col("lat").as("lat2"), col("lon").as("lon2"))
    a.join(b, col("h1") < col("h2"))
      .withColumn("dist_km", Geo.haversineKm(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .filter(col("dist_km") <= ThresholdKm)
      .select(col("h1"), col("h2"), round(col("dist_km"), 4).as("dist_km"))
  }

  /** G2/G3/A13: repeated seeded random walks over the habitat graph +
    * visit-frequency ranking (random_walk_utils.py:33-47,
    * consultas.py:258-287). The graph is collected (bounded domain);
    * walks run driver-side with a deterministic LCG so results are
    * reproducible run-to-run (the reference uses unseeded
    * random.choice). Rows-only in the driver gate; GraphSpec pins
    * the exact frequencies. */
  def walkFreq(spark: SparkSession, dir: String): DataFrame = {
    // the node frame feeds the edge theta-join (both sides) AND the
    // node collect — materialize the events-scan window once (r21)
    val n0 = graphNodes(spark, dir).ckptLocal()
    val edges = edgesOfNodes(n0)
      .select(col("h1"), col("h2")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nodes = n0.select(col("habitat")).collect()
      .map(_.getString(0)).sorted
    val adj: Map[String, IndexedSeq[String]] = {
      val m = undirectedAdj(edges)
      nodes.map(h => h -> m.getOrElse(h, IndexedSeq.empty)).toMap
    }

    // Deterministic 64-bit LCG (MMIX constants), seed fixed.
    var x = 42L
    def nextInt(bound: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % bound).toInt + bound) % bound
    }

    val visits = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val walksPerStart = 200
    val steps = 8
    for (start <- nodes; _ <- 1 to walksPerStart) {
      var cur = start
      visits(cur) += 1
      var s = 0
      var deadEnd = false
      while (s < steps && !deadEnd) {
        val nbrs = adj(cur)
        if (nbrs.isEmpty) deadEnd = true
        else { cur = nbrs(nextInt(nbrs.length)); visits(cur) += 1 }
        s += 1
      }
    }
    val total = visits.values.sum.toDouble
    import spark.implicits._
    visits.toSeq.sortBy(_._1)
      .map { case (h, v) => (h, v, math.rint(v / total * 1e6) / 1e6) }
      .toDF("habitat", "visits", "pct")
  }

  private def undirectedAdj(edges: Array[(String, String)]): Map[String, IndexedSeq[String]] =
    (edges ++ edges.map(_.swap))
      .groupBy(_._1)
      .map { case (h, es) => h -> es.map(_._2).distinct.sorted.toIndexedSeq }

  /** G4/G5: Tarjan SCC + DTMC state classification over the Markov
    * transition structure of event types (MarkovChainAnalysis.py:
    * 24-161). The per-user run merge and pair count are fully
    * distributed (Ecosystem.transitions); only the |S|² matrix is
    * collected for the structural analysis. The
    * DuckDB oracle reproduces recurrence via recursive-CTE
    * reachability and the period via the same BFS-level cycle-GCD. */
  def markovClasses(spark: SparkSession, dir: String): DataFrame = {
    val rows = Ecosystem.transitions(spark, dir)
      .select(col("cur_event"), col("next_event"), col("p")).collect()
    val states = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.sorted.toIndexedSeq
    val idx = states.zipWithIndex.toMap
    val p = Array.ofDim[Double](states.length, states.length)
    rows.foreach(r => p(idx(r.getString(0)))(idx(r.getString(1))) = r.getDouble(2))
    import spark.implicits._
    Markov.classify(states, p)
      .toDF("state", "is_recurrent", "period", "dtmc_class")
  }

  /** A15 matrix form: the row-stochastic transition matrix pivoted to
    * one column per successor state (transition_matrix.py:64-84),
    * with explicit zeros for unseen transitions. The transitions
    * table is bounded by |event_types|² (~25 rows — the same bounded
    * categorical domain as `markovClasses`), so it is collected ONCE
    * and the pivot assembled driver-side: one distributed job total,
    * instead of a value-discovery job plus a pivot job over a tiny
    * frame (round-3 verdict nit). The distributed work — the
    * per-user run merge and pair count — stays in
    * `Ecosystem.transitions`; only the |S|² matrix crosses the
    * driver. Column order is the sorted successor set, deterministic
    * run-to-run. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val rows = Ecosystem.transitions(spark, dir)
      .select(col("cur_event"), col("next_event"), col("p")).collect()
    val types = rows.map(_.getString(1)).distinct.sorted
    val matrix = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (cur, rs) =>
      // p is already rounded to 6 decimals by `transitions`; absent
      // cells are exact zeros — no re-rounding needed
      val byNext = rs.map(r => r.getString(1) -> r.getDouble(2)).toMap
      Row.fromSeq(cur +: types.toIndexedSeq.map(ty => byNext.getOrElse(ty, 0.0)))
    }
    val schema = StructType(StructField("cur_event", StringType, nullable = false) +:
      types.toIndexedSeq.map(ty => StructField(s"p_$ty", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(matrix: _*), schema)
  }

  /** Distributed connected components: min-label propagation with
    * pointer jumping ("shortcutting"), the shuffle-based form of the
    * classic hash-min CC. `nodes` has one column `id` (any orderable
    * type, ids distinct), `edges` has `src`/`dst` drawn from `nodes`;
    * returns (id, comp) where comp = min id in the component.
    *
    * Each round is two shuffles — a neighbor-min groupBy and a
    * comp→comp(comp) jump join — plus one driver boolean (the
    * converged check; no row data crosses the driver). The previous
    * label rides through the neighbor-min aggregation as a second
    * aggregate, so convergence is a filter over the already-
    * checkpointed round output — no extra prev-vs-next join job per
    * round. The jump halves label-chain depth every round, so
    * convergence is O(log diameter) rounds even on path graphs, and
    * 2-3 rounds on the near-clique components that duplicate clusters
    * actually form. Every round cuts lineage with an eager
    * localCheckpoint (iterative plans otherwise grow an exponential
    * lineage and re-execute prior rounds inside every new one); the
    * ContextCleaner reclaims the blocks when the frames are GC'd. The
    * edge frame is pre-partitioned on the probe key and checkpointed
    * once, so rounds re-shuffle only the label frame, never the
    * (much larger) edge frame. At 100 TB the same loop runs with
    * reliable checkpoints, and the label/edge frames it shuffles are
    * ids-only — never payload rows. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
                          driverCutoff: Int = 100000): DataFrame = {
    // Small-graph fast path — the CC analogue of the broadcast-join
    // threshold: each distributed round costs ~6 fixed-overhead jobs
    // (join, groupBy, jump join, checkpoint, convergence scan), which
    // dwarfs the actual work whenever the VERIFIED near-dup graph is
    // modest (tens of edges at sf0.1; even a pathological corpus
    // yields orders of magnitude fewer verified group-pairs than
    // docs). Below the cutoff the edge list collects to the driver
    // (ids only, never payload) and a union-find labels it in
    // microseconds; above it, the O(log d) min-propagation rounds
    // run exactly as before. Output is identical either way: comp =
    // min id in the component, deterministic. Tests pin BOTH paths
    // (driverCutoff = 0 forces the distributed rounds).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    // ids-only edge list, materialized ONCE — the threshold count,
    // the fast-path collect, and the distributed rounds' symmetrize
    // all read these blocks instead of re-executing the caller's
    // edge subtree (graphComponents feeds a spatial theta-join here;
    // three executions of it would swamp either path's win)
    // null endpoints (a malformed caller edge) are dropped up front
    // for BOTH paths: they would NPE the fast path's Ordering /
    // fabricate a non-node component label, and in the distributed
    // rounds a null src joins into the label frame as a spurious
    // id=null output row
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .ckptLocal()
    val cutoff = driverCutoff
    // BOTH frames must be bounded before anything collects: the edge
    // count alone does not cap `nodes` (a near-empty edge set over a
    // huge node frame must still take the distributed path), and the
    // id type comes from the `id` column by NAME, not ordinal — the
    // caller's frame may carry id in any position
    if (cutoff > 0 && e0.limit(cutoff + 1).count() <= cutoff &&
        nodes.limit(cutoff + 1).count() <= cutoff) {
      val idType = nodes.schema("id").dataType
      val es = e0.collect()
      val ns = nodes.select(col("id")).collect().map(_.get(0))
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      implicit val ord: Ordering[Any] = idType match {
        case org.apache.spark.sql.types.StringType =>
          Ordering.String.on[Any](_.asInstanceOf[String])
        case org.apache.spark.sql.types.IntegerType =>
          Ordering.Int.on[Any](_.asInstanceOf[Int])
        case _ => Ordering.Long.on[Any](_.asInstanceOf[Long])
      }
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: Any, b: Any): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root so the final root IS the component min
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      es.foreach(r => union(r.get(0), r.get(1)))
      val out = ns.map(id => Row(id, find(id)))
      val schema = StructType(Seq(
        StructField("id", idType, nullable = false),
        StructField("comp", idType, nullable = false)))
      return nodes.sparkSession.createDataFrame(
        java.util.Arrays.asList(out: _*), schema)
    }
    val sym = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst")) // rounds join on dst; shuffle the static side once
      .ckptLocal()
    var lab = nodes.select(col("id"), col("id").as("comp")).ckptLocal()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // neighbor min: each node keeps the min comp among itself and
      // its neighbors (partial-agg min — map-side combined); `own`
      // tags the node's incumbent label so the round's output can
      // carry prev alongside the new min
      val viaNbr = sym.join(lab, sym("dst") === lab("id"))
        .select(sym("src").as("id"), lab("comp"), lit(false).as("own"))
      val folded = lab.withColumn("own", lit(true)).unionByName(viaNbr)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), max(when(col("own"), col("comp"))).as("prev"))
      // pointer jump: comp := min(comp, comp(comp)) — comps are node
      // ids by construction, so the lookup is a self-join on labels
      val byId = folded.select(col("id").as("jid"), col("comp").as("jcomp"))
      val next = folded.join(byId, folded("comp") === byId("jid"), "left")
        .select(folded("id"),
          least(folded("comp"), coalesce(col("jcomp"), folded("comp"))).as("comp"),
          folded("prev"))
        .ckptLocal()
      // min-propagation only ever lowers labels, so "nothing changed"
      // is a plain scan of the checkpointed round output
      converged = next.filter(col("comp") =!= col("prev")).isEmpty
      lab = next.select(col("id"), col("comp"))
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    lab
  }

  /** G-family: connected components of the habitat graph — which
    * habitats are mutually reachable through edges under the distance
    * threshold (the spatial analogue of `markovClasses`' recurrence
    * classes, but on the undirected habitat graph rather than the
    * DTMC). Oracle-checked against a recursive-CTE closure. */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    // one events-scan window for everything (r21): the node frame
    // feeds the edge theta-join (both sides) and connectedComponents'
    // two node reads (bound-check + fast-path collect) — each
    // un-checkpointed consumer re-ran the scan + first-row-per-type
    // window as its own job (§8 doctrine)
    val n0 = graphNodes(spark, dir).ckptLocal()
    val e = edgesOfNodes(n0).select(col("h1").as("src"), col("h2").as("dst"))
    val n = n0.select(col("habitat").as("id"))
    connectedComponents(n, e)
      .select(col("id").as("habitat"), col("comp").as("component"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.Ckpt.CkptOps
import graft.plans.{Kernels, Markov}
import graft.sources.Tables

/** The reference's ecosystem analytics re-expressed over the `events`
  * stream table (event_id, ts, user_id, event_type, value, props).
  * Mapping from the reference's insect-event schema: event_type ↔
  * `event`, user_id ↔ entity key (`_id`/species), value ↔
  * `ecologicalImpact`, props.k ↔ `populationDensity`.
  *
  * Where the reference maintains hand-rolled in-memory counters at
  * ingest (/root/reference/model/consumer.py:32-48,77-110) and ships
  * raw rows to a client that computes analytics in Python
  * (consultas.py:115-362), every operator here is a single Catalyst
  * plan: partial aggregation replaces the ingest-time counters, and
  * computation runs where the data is.
  *
  * Scale notes: all aggregations are partial-agg friendly (no
  * distinct-heavy wide keys); the Markov transitions order events per
  * user (no global sort — the reference's global event ordering,
  * transition_matrix.py:36-46, would be a single-partition sort at
  * 100 TB; keying by entity preserves the semantics per timeline and
  * scales horizontally), and each scan split folds a user's events
  * into one run before the per-user exchange, so no event row is
  * shuffled.
  */
object Ecosystem {

  /** A1 stats: counts by event_type plus global share — the
    * reference's `get_stats` panel (consumer.py:151-168).
    *
    * The grand-total normalization runs on the POST-AGGREGATION frame
    * (one row per event_type — bounded, tiny at any corpus size),
    * materialized once with localCheckpoint and then consumed twice:
    * once as the output rows, once summed to the scalar total that a
    * broadcast cross-join attaches back. No empty-partition window
    * (which would funnel rows through a single WindowExec partition),
    * no second scan of the fact table. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // sum_value accumulates exactly (split-long cents — value is
    // 2-decimal-clean): a raw sum(double) over a 5-group key is the
    // layout-sensitive class the sf3 sweep caught on q1 — the per-
    // group row count grows with volume until ulp noise crosses the
    // round-4 quantum. avg is safe as-is (normalized by n, relative
    // error stays at ulp scale).
    val grouped = e
      .select(col("event_type"), col("value"),
        graft.functions.Money.moneyUnits(col("value")).as("value_c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(graft.functions.Money.splitSum("value_c", 100L), 4).as("sum_value"),
           round(avg(col("value")), 4).as("avg_value"))
      .ckptLocal()
    grouped
      .crossJoin(broadcast(grouped.agg(sum(col("n")).as("total"))))
      .withColumn("share", round(col("n") / col("total"), 6))
      .drop("total")
  }

  /** A2/ST2 tumbling 1-minute windowed counts by event_type
    * (consumer.py:86-110). Emitted as epoch seconds of the window
    * start so the result is engine-portable. */
  def windowCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("wstart"), col("event_type"), col("n"))

  /** A2 sliding variant: HOPPING window counts (10-minute windows
    * every 5 minutes) — each event lands in exactly size/slide = 2
    * windows via Spark's Expand operator (no self-union, one scan,
    * one shuffle on the already-doubled rows' (window, type) key).
    * The batch twin of a `Trigger`-driven sliding aggregation; the
    * oracle replays the two-bucket expansion arithmetically. */
  def hoppingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("wstart"), col("event_type"), col("n"))

  /** A3/A4 trends: hourly window × event_type counts with share of
    * hour (event_trends / species_trends, consumer.py:47-48). */
  def trends(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    hourly.select(
      col("w.start").cast("long").as("wstart"), col("event_type"), col("n"),
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("w"))), 6).as("share_of_hour"))
  }

  /** P3 trailing-window recency filter (eventos_recientes,
    * consumer.py:207-216) — anchored at max(ts) instead of
    * processing-time now() so the result is deterministic. The anchor
    * is a scalar subquery → broadcast, no shuffle of the fact table. */
  def recent(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val anchor = e.agg(max(col("ts")).as("mx"))
    e.crossJoin(broadcast(anchor))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value"), 4).as("value"))
  }

  /** Gap-based sessionization: each user's event stream splits into
    * sessions wherever >30 minutes of inactivity pass — the batch
    * twin of a session window (the reference keeps only fixed
    * tumbling windows; sessionization is the analytics a TTL'd
    * per-entity event store actually wants, consumer.py:119's 2 h TTL
    * being a crude version of the same idea).
    *
    * Scale shape: both windows partition by user_id (each timeline is
    * independent — horizontal at any corpus size; same key reuses ONE
    * sort+shuffle for the lag and the running sum), then one groupBy
    * (user_id, session) that Spark co-locates with the window
    * partitioning. No global sort anywhere. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap", when(
        col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w) > 1800L
          || lag(col("ts"), 1).over(w).isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("session", sum(col("gap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session"))
      .agg(min(col("ts")).cast("long").as("session_start"),
           count(lit(1)).as("n_events"),
           (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("duration_s"))
  }

  /** A6 exact distinct: distinct active users per event_type — the
    * deterministic twin of the HLL estimate (consumer.py:190-198). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** A7 HyperLogLog distinct-count (hyperloglog.py:4-38): Spark's
    * built-in DataSketches HLL at lgConfigK = 12, the reference's own
    * b = 12 — m = 4096 registers, RSE 1.04/√4096 = 1.625%. Mergeable,
    * partial-agg friendly, no raw-value shuffle. (`approx_count_distinct`
    * at rsd 0.01625 rounds up to 8192 registers and costs ~8x the CPU
    * on the 100k-event eco_serve store.) The oracle compare checks
    * row counts only (estimates are impl-specific); the exact twin
    * above is the hash-matched oracle, and SketchesSpec pins the
    * error bound. */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("n_users_approx"))

  /** W1+A15 Markov transitions: pair counts of each user's events in
    * (ts, event_id) order, then row-stochastic probabilities
    * (transition_matrix.py:36-62). A null user_id is one user, ts and
    * event_id sort nulls first, a pair counts when the next event_type
    * is non-null, and a null current event_type gives a null
    * cur_event: the rows of a `lead(event_type)` over
    * `partitionBy(user_id).orderBy(ts, event_id)`.
    *
    * The events are not shuffled. Each scan split becomes one sorted
    * run per user (`Markov.runs`, which buffers the split); the runs,
    * about users × splits records, are exchanged on user_id; each task
    * merges one user's runs at a time and counts adjacent pairs into
    * one |S|×|S| table (`Markov.pairCounts`, which holds the runs of
    * its shuffle partition in memory, about 21 bytes an event, and
    * cannot spill them). */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(Markov.Event.columns: _*)
      .as[Markov.Event]
      .mapPartitions(Markov.runs)
      .repartition(col("user_id"))
      .mapPartitions(Markov.pairCounts)
      .toDF("cur_event", "next_event", "n")
      .groupBy(col("cur_event"), col("next_event"))
      .agg(sum(col("n")).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(Window.partitionBy(col("cur_event"))), 6))
  }

  /** A11 weighted importance score — the reference's "PageRank"
    * (pageRank.py:4-30): per type, avg|value|/50 × 1000/avg(density),
    * normalized to sum 1. Density = props.k parsed from the JSON
    * payload (F15 from_json-style access).
    *
    * Deliberate delta vs pageRank.py:26: the denominator is
    * avg(k + 1), a +1 Laplace smoothing, because props.k may be 0 in
    * this dataset (the reference's populationDensity domain is 1..1000
    * so it never divides by zero; ours can). The oracle SQL applies
    * the same +1 so both sides compute the identical smoothed score.
    *
    * Reads the events scan as it comes: the per-row JSON extraction is
    * cheap next to a shuffle of the whole table. Another split layout
    * only reorders the double sums; EcosystemSpec pins that one split
    * and many round to the same scores.
    *
    * `k` is read by the `graft_json_int` kernel, one byte pass per row,
    * and only the rows it declines (anything but a flat object with one
    * plain int `k`) go through Jackson in `get_json_object`, so the
    * column equals `get_json_object(props, '$.k').cast("int")` alone,
    * which is what kernels-off sessions run (KernelParitySpec). */
  def importance(spark: SparkSession, dir: String): DataFrame = {
    val reference = get_json_object(col("props"), "$.k").cast("int")
    val k =
      if (Llm.kernelOn(spark)) coalesce(Kernels("graft_json_int", col("props"), lit("k")), reference)
      else reference
    val e = Tables.events(spark, dir).withColumn("k", k)
    // grand-total normalization: same tiny-frame checkpoint +
    // broadcast pattern as `stats` (see its doc comment) — the
    // grouped frame is one row per event_type, so materializing it
    // once and summing the checkpoint beats an empty-partition window
    val scored = e.groupBy(col("event_type"))
      .agg((avg(abs(col("value"))) / 50.0 * (lit(1000.0) / avg(col("k") + lit(1)))).as("raw"))
      .ckptLocal()
    scored
      .crossJoin(broadcast(scored.agg(sum(col("raw")).as("total"))))
      .select(col("event_type"),
        round(col("raw"), 6).as("raw_score"),
        round(col("raw") / col("total"), 6).as("rank_score"))
  }

  /** A12 MapReduce word-count equivalent (mapreduce.py:5-96): emit
    * tagged keys per row, count by key. Spark's partial aggregation
    * IS the reference's hand-rolled combiner (mapreduce.py:17-21). */
  def mapReduceCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(explode(array(
        concat(lit("type:"), col("event_type")),
        concat(lit("user:"), col("user_id").cast("string")))).as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"))

  /** A9 DGIM windowed bit-count, exact formulation: 1-bits are
    * `event_type = 'error'` (the reference counts "predator attack"
    * bits, dgim.py:4-47; its bucket scheme degenerates to an exact
    * count minus half the oldest bucket — SURVEY.md §2.4). Tumbling
    * 5-minute windows, conditional count. */
  def dgimExact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
           count(lit(1)).as("n_total"))
      .select(col("w.start").cast("long").as("wstart"), col("n_errors"), col("n_total"))

  /** A5/P6 windowed collect-list: the reference's raw-event window
    * lists keyed by group (time_windows_data, consumer.py:40-44,
    * 90-100). Daily tumbling window × event_type, members sorted for
    * determinism and emitted as CSV so the oracle compare is
    * type-stable. Scale note: collect_list materializes the group —
    * fine for bounded windows; unbounded-key paths should stay on
    * counting aggregates. */
  def windowEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(sort_array(collect_list(col("user_id"))).as("users"))
      .select(col("w.start").cast("long").as("wstart"), col("event_type"),
        expr("array_join(transform(users, u -> cast(u AS string)), ',')").as("users_csv"),
        size(col("users")).cast("long").as("n"))

  /** F4/F5/F6 string-timestamp round trip: format to the reference's
    * nonstandard `"...THH:mm:ss Z"` wire form (producer.py:22), then
    * parse back with the canonical strip-the-" Z" parse
    * (consumer.py:61; SURVEY §1.2 — the fromisoformat variant in
    * transition_matrix.py:26 is broken on this format and is NOT
    * replicated). Aggregated by parsed hour to prove the round trip
    * preserves event time to the second. */
  def tsRoundtrip(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("s", concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(" Z")))
      .withColumn("parsed",
        to_timestamp(regexp_replace(col("s"), " Z$", ""), "yyyy-MM-dd'T'HH:mm:ss"))
      .groupBy(date_trunc("hour", col("parsed")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("s")).as("sample_ts"))
      .select(col("h").cast("long").as("hstart"), col("n"), col("sample_ts"))

  /** S4/P7 bad-record guard: a deterministic slice of rows is
    * corrupted (truncated JSON), then parsed with PERMISSIVE
    * `from_json` + `_corrupt_record` — the reference's
    * json.loads-try/except skip (consumer.py:405-423) as a plan, not
    * a loop. Good rows aggregate; bad rows are counted, not dropped
    * silently. */
  def jsonGuard(spark: SparkSession, dir: String): DataFrame =
    Tables.widened(Tables.events(spark, dir))
      .withColumn("raw",
        when(col("event_id") % 97 === 0, expr("substring(props, 1, 3)")).otherwise(col("props")))
      .withColumn("j", from_json(col("raw"), "k INT, _corrupt_record STRING",
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("j._corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
        sum(col("j.k")).as("sum_k"))

  /** F16 nested-struct construction + navigation: events re-shaped
    * into a two-level struct (who.{id,type} / props.k) and consumed
    * through nested column references — the reference's
    * d["insect"]["species"] access pattern (consumer.py:56-63). */
  def nestedStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.widened(Tables.events(spark, dir))
      .select(struct(
        struct(col("user_id").as("id"), col("event_type").as("type")).as("who"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("props")).as("evt"))
      .groupBy(col("evt.who.type").as("event_type"))
      .agg(round(avg(col("evt.props.k")), 4).as("avg_k"),
           max(col("evt.props.k")).as("max_k"))

  /** S1 deterministic synthetic event generator: the reference's
    * random producer (producer.py:13-32) re-expressed as a seedless
    * arithmetic fold over `spark.range` — every field is a pure
    * function of the row id (LCG mix, md5 synthetic id standing in
    * for uuid4/F13), so the stream is reproducible and
    * oracle-checkable, and generation is embarrassingly parallel
    * (range splits across executors; no driver loop, unlike
    * producer.py:41-55's one-event-per-sleep loop). */
  def genEvents(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, 1000)
      .withColumn("h", (col("id") * 1103515245L + 12345L) % 2147483648L)
      .select(col("id"),
        md5(col("id").cast("string")).as("synth_id"),
        expr("element_at(array('click','error','purchase','signup','view'), cast(h % 5 AS int) + 1)")
          .as("event_type"),
        round((col("h") % 10000) / 100.0, 4).as("value"),
        (lit(1700000000L) + col("id") * 60).as("ts_epoch"))

  /** F13 `uuid()` itself, demonstrated: the generator with the
    * built-in in place of the md5 stand-in (producer.py:15's uuid4).
    * Not a declared query — uuid4 is nondeterministic by definition,
    * which is exactly why the oracle-checked generator substitutes
    * md5-of-id; EcosystemSpec pins RFC-4122 v4 format + per-row
    * uniqueness instead. */
  def genEventsUuid(spark: SparkSession): DataFrame =
    genEvents(spark, "").withColumn("synth_id", expr("uuid()"))

  /** S5 SQL serving surface: the same engine consumed through
    * `spark.sql` over registered views — the entry point a BI tool or
    * the reference's query client (consultas.py menu) would use.
    * Identical Catalyst plan to the DataFrame formulation; this query
    * exists to keep the SQL front door exercised and oracle-checked. */
  def sqlStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("graft_events")
    // sum, not avg: source values carry two decimals, so rounded sums
    // sit far from any .00005 boundary; a per-group avg can land on
    // one and flip differently across engines' last-ulp partial-sum
    // orders (observed once in 750 groups). The sum itself is exact
    // DECIMAL on both sides (order-independent — same reasoning as
    // functions/Money, expressed in plain SQL for the SQL surface).
    spark.sql(
      """SELECT event_type, user_id, count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
         FROM graft_events
         GROUP BY event_type, user_id""")
  }
}

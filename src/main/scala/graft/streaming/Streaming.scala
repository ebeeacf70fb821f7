package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.sources.{MemoryPlan, MemorySink}
import org.apache.spark.sql.kernelbridge.ColumnBridge
import org.apache.spark.sql.types.{ObjectType, StructType}
import org.apache.spark.sql.Row

import scala.concurrent.duration._

import graft.plans.{Dgim, Kernels, WireKernel}

/** Structured Streaming surface (SURVEY §2.9): the reference IS a
  * stream processor — Kafka consumer feeding an in-memory windowed
  * store with TTL + timer-cleared window lists (consumer.py:358-399,
  * 79-148) and a query thread reading it under a lock. Here every
  * piece maps to a declarative streaming query over the SAME
  * transformations the batch operators use (the DataFrame half is
  * identical — that is the point of Structured Streaming):
  *
  *  - late-data drop >1 h behind (consumer.py:82-83)  → withWatermark
  *  - tumbling window lists/counters (consumer.py:112-117) → window()
  *  - 2 h TTL eviction (consumer.py:119-148)  → watermark-driven state GC
  *  - upsert by _id (consumer.py:66)          → first-seen dropDuplicatesWithinWatermark
  *  - json.loads per message (consumer.py:407) → graft_wire_decode kernel,
  *    from_json's own evaluator for the rows it rejects, called once
  *    per row in one whole-stage-codegen stage of at most one task
  *    per core
  *  - RLock-guarded concurrent reads (ST7)    → `serveMemory` tables:
  *    a `MemorySink` that adds each micro-batch whole, in one
  *    synchronized driver-side append, so reads are versioned by batch
  *    and `spark.sql` reads never block ingest
  *  - no delivery guarantees (ST8)            → checkpointLocation upgrades
  *    the pipeline to exactly-once sink semantics for free
  */
object Streaming {

  /** Typed event for streaming tests/feeds (mirrors the events table). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  val eventSchema: StructType = WireKernel.eventSchema

  /** ST1/ST2/ST3: tumbling event-time window counts with a watermark
    * that drops data later than `lateness` (the reference's 1-hour
    * arrival-lateness cut, consumer.py:82-83 — but as honest
    * event-time semantics; see SURVEY §1.4 on the reference's
    * never-decremented counters). Works identically on a batch frame
    * (watermark is a no-op there). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 minute",
                     lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"))

  /** ST4/ST5: first-seen upsert keyed by event_id with
    * watermark-bounded state (the id-index + 2 h TTL sweep,
    * consumer.py:66,119-148): the first arrival of an id is emitted,
    * later copies drop. `dropDuplicatesWithinWatermark` keeps an id
    * until the watermark passes its event time plus `lateness`, then
    * evicts it, so the sweep thread becomes a property of the engine
    * and the state holds only the ids of that horizon. */
  def upsertLatest(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("event_id")

  /** ST6-adjacent: streaming gap sessionization — the streaming twin
    * of `Ecosystem.sessions` via Spark's native `session_window`
    * (merging event-time windows that close after `gap` of
    * inactivity; watermark-driven state eviction exactly like the
    * tumbling path). Emits one row per closed session per user:
    * start, end, event count. The reference has no session concept
    * (SURVEY marks ST6 n/a) — its 2 h TTL store is the crude cousin —
    * but a per-entity event stream wants this and the batch twin is
    * oracle-checked, so the streaming surface carries it too. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
              col("user_id"), col("n_events"))

  /** One closed session from `sessionsCustom`: [start, end] event
    * times (epoch seconds) and the event count. */
  case class SessionOut(user_id: Long, session_start: Long,
                        session_end: Long, n_events: Long)

  /** Per-user open-session state for `sessionsCustom`. */
  case class OpenSession(start: Long, last: Long, n: Long)

  /** ST6's arbitrary-stateful twin: the same gap sessionization as
    * `sessionCounts`, but hand-rolled with
    * `flatMapGroupsWithState` + `EventTimeTimeout` instead of the
    * native `session_window` — the demonstration that CUSTOM
    * per-session state (here start/last/count; in a real pipeline
    * any accumulator a session carries — distinct pages, funnel
    * stage, revenue) rides the same merge/expiry semantics the
    * declarative operator gives for plain counts.
    *
    * Semantics match `Ecosystem.sessions`: events ≤ `gapSec` apart
    * extend the session, a longer silence closes it. The state per
    * user is the set of DISJOINT session intervals not yet sealed by
    * the watermark — the same merging-interval state the native
    * `session_window` store keeps — so an out-of-order event the
    * watermark still admits lands exactly where event-time
    * sessionization puts it: extending an interval backwards
    * (start = min), forwards (last = max), or BRIDGING two intervals
    * into one (their counts add). A session is emitted exactly once,
    * when the watermark passes last + gap — only then can no
    * admissible event still reach it; expiry is the timeout callback,
    * so an idle user holds no state past the horizon (the reference's
    * 2 h TTL sweep, consumer.py:119, as an engine property).
    *
    * Scale shape: state is O(open intervals) per ACTIVE user — three
    * longs per interval, and at most ~lateness/gap + 1 intervals can
    * be simultaneously unsealed (older ones seal as the watermark
    * advances) — keyed and shuffled once by user_id, the state store
    * sharded across executors at any user count.
    *
    * State-schema note: this interval-set state replaced an earlier
    * single-open-session encoding; a checkpoint written by that
    * build fails Spark's state-schema compatibility check on restart
    * — resume such a query from a fresh checkpoint (replay), not in
    * place. */
  def sessionsCustom(events: DataFrame, gapSec: Long = 1800L,
                     lateness: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[OpenSession], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val wmMs = state.getCurrentWatermarkMs
          // fold the batch's events (as singleton intervals) into the
          // stored disjoint intervals with one sort + merge sweep
          val incoming = rows.map { r =>
            val t = r._2.getTime / 1000L; OpenSession(t, t, 1L)
          }.toSeq
          val all = (state.getOption.getOrElse(Seq.empty) ++ incoming)
            .sortBy(s => (s.start, s.last))
          val merged = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
          all.foreach { s =>
            merged.lastOption match {
              case Some(p) if s.start - p.last <= gapSec =>
                merged(merged.length - 1) =
                  OpenSession(p.start, math.max(p.last, s.last), p.n + s.n)
              case _ => merged += s
            }
          }
          // closed = no admissible event can still merge. Session
          // times are SECOND-truncated (matching the batch twin) but
          // the watermark keeps milliseconds and the engine admits
          // any raw ts >= wm — an event with raw time T extends the
          // interval iff floor(T/1000) <= last + gap, i.e.
          // T < (last + gap + 1) * 1000, so the interval is sealed
          // only once wm has reached that millisecond boundary
          // (sealing at (last+gap)*1000 would split a session the
          // batch oracle merges when sub-second stragglers arrive)
          def sealMs(s: OpenSession): Long = (s.last + gapSec + 1) * 1000L
          val (closed, open) = merged.partition(s => sealMs(s) <= wmMs)
          if (open.nonEmpty) {
            state.update(open.toSeq)
            // the timeout fires when wm > ts, so ts = sealMs - 1
            // wakes exactly when the earliest interval seals; the
            // max(.., wmMs + 1) guards the engine's requirement that
            // a new timeout lies strictly beyond the watermark
            state.setTimeoutTimestamp(
              math.max(open.map(sealMs).min - 1, wmMs + 1))
          } else state.remove()
          closed.sortBy(_.start).iterator
            .map(s => SessionOut(uid, s.start, s.last, s.n))
      }
  }

  /** One enriched probe from `asofEnrich` — the same columns as the
    * batch as-of join (Joins.asofJoin), so the two legs are directly
    * comparable. */
  case class AsofOut(event_id: Long, user_id: Long, ts_us: Long,
                     click_value: Double,
                     asof_ts_us: Option[Long], asof_value: Option[Double])

  /** An event waiting in `asofEnrich` state: a ref not yet sealed by
    * the watermark, or a probe not yet answerable. */
  case class AsofPending(ts_us: Long, event_id: Long, value: Double)

  /** Per-user `asofEnrich` state: the single compacted sealed ref
    * (the latest purchase no admissible event can precede), plus the
    * refs and probes still inside the watermark horizon. */
  case class AsofState(sealedRef: Option[AsofPending],
                       openRefs: Seq[AsofPending], openProbes: Seq[AsofPending])

  /** The as-of join's streaming leg (J2+ / the reference's per-key
    * latest-state probe, consumer.py:170-188, as continuous
    * enrichment): every click is answered with the user's most
    * recent purchase at-or-before it — EVENT-time correct, not
    * arrival-order. A probe is buffered until the watermark passes
    * its own event time, because only then can no admissible late
    * purchase still slot between its current answer and itself; it
    * is then emitted exactly once (Append), with the same tie rule
    * as the batch operator (max event_id among equal-ts refs) and
    * the same rounding, so the streaming output over a bounded feed
    * equals `Joins.asofJoinOn` over the same admitted rows
    * (StreamingSpec pins this).
    *
    * Scale shape: state per user = ONE compacted sealed ref (refs
    * whose event-time millisecond the watermark has passed collapse
    * to their max — any future admissible probe is no earlier than
    * the watermark, so the latest sealed ref is a sufficient floor)
    * plus the refs/probes still inside the lateness horizon — the
    * O(horizon) bound any event-time-correct buffer pays, keyed and
    * sharded by user_id like every stateful operator here. The
    * timeout callback drives emission for idle keys (the same
    * EventTimeTimeout pattern as `sessionsCustom`); after the last
    * probe seals, an idle user holds exactly one row of state.
    *
    * `tolerance` (micros, q18's bound — pandas `merge_asof
    * (tolerance=...)`): a ref staler than the bound is no match, AND
    * eviction becomes exact instead of amortized: once the watermark
    * passes `ref.ts + tolerance`, no admissible probe — buffered OR
    * future — can sit within the bound of that ref (any still-open
    * probe has `ts_us >= wm_ms*1000`, so its distance to the ref
    * already exceeds the bound), so the compacted sealed ref is
    * DROPPED and an idle user holds ZERO rows of state. Unbounded
    * as-of state is O(keys) forever; bounded as-of state is
    * O(active keys in the last `tolerance`) — the difference between
    * a state store that grows with the entity universe and one that
    * tracks the working set. */
  def asofEnrich(events: DataFrame, lateness: String = "1 hour",
      tolerance: Option[Long] = None): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .filter(col("event_type").isin("click", "purchase"))
      // the watermarked TIMESTAMP column must survive into the
      // stateful operator (the event-time-timeout checker looks for
      // it); micros conversion happens inside the fold
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", 1).otherwise(0).as("side"),
        col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Int, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val wmMs = state.getCurrentWatermarkMs
          val st = state.getOption.getOrElse(AsofState(None, Nil, Nil))
          var refs = st.openRefs
          var probes = st.openProbes
          rows.foreach { case (_, t, side, eid, v) =>
            // unix_micros equivalent (getTime is ms-truncated)
            val tsU = t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
            if (side == 0) refs = AsofPending(tsU, eid, v) +: refs
            else probes = AsofPending(tsU, eid, v) +: probes
          }
          // sealed = the event-time millisecond is strictly below the
          // watermark, so no admissible row can still land at-or-
          // before it (the engine admits raw ts >= wm; same ms-
          // boundary reasoning as sessionsCustom's sealMs)
          def isSealed(p: AsofPending): Boolean = p.ts_us / 1000L < wmMs
          val (sealRefs, openRefs) = refs.partition(isSealed)
          val (emitProbes, openProbes) = probes.partition(isSealed)
          // probes are answered against the FULL pre-compaction ref
          // set: a probe sealing in the same invocation as a LATER
          // ref would otherwise see that ref's compaction swallow its
          // true floor. Compaction is only sound for rows carried
          // FORWARD: every still-open or future probe has ts >= wm,
          // and every sealed ref has ts < wm, so the max sealed ref
          // alone is a sufficient floor from here on.
          val candidates = st.sealedRef.toSeq ++ refs
          val sealedRef = (st.sealedRef.toSeq ++ sealRefs)
            .sortBy(p => (p.ts_us, p.event_id)).lastOption
          def r4(v: Double): Double =
            BigDecimal.valueOf(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val out = emitProbes.sortBy(p => (p.ts_us, p.event_id)).map { p =>
            val best = candidates.filter(r => r.ts_us <= p.ts_us &&
                tolerance.forall(t => p.ts_us - r.ts_us <= t))
              .sortBy(r => (r.ts_us, r.event_id)).lastOption
            AsofOut(p.event_id, uid, p.ts_us, r4(p.value),
              best.map(_.ts_us), best.map(r => r4(r.value)))
          }
          // exact eviction under a tolerance: a sealed ref the
          // watermark has outrun by more than the bound can never
          // answer any admissible probe again (see Scaladoc) — only
          // the carried-forward copy is dropped; this invocation's
          // emissions above still saw it
          val keptRef = sealedRef.filterNot(r =>
            tolerance.exists(t => wmMs * 1000L - r.ts_us > t))
          if (keptRef.nonEmpty || openRefs.nonEmpty || openProbes.nonEmpty) {
            state.update(AsofState(keptRef, openRefs, openProbes))
            // wake when the earliest open row's ms seals (probes to
            // emit; refs to compact), or — bounded as-of — when the
            // kept ref ages out (ceil'd to the next ms past the
            // bound, so the eviction predicate is true at the wake);
            // engine requires ts > watermark
            val pendingMs = (openProbes ++ openRefs).map(_.ts_us / 1000L) ++
              keptRef.flatMap(r => tolerance.map { t =>
                // ms/1000 each BEFORE adding: (t + 999L) would overflow
                // near Long.MaxValue into a negative wake (clamped to
                // wmMs+1 → every batch re-wakes the key). The +2 covers
                // both floor-division remainders, so the eviction
                // predicate is true at the wake; saturate if the sum
                // itself overflows (a tolerance that large never evicts).
                val wake = r.ts_us / 1000L + t / 1000L + 2L
                if (wake < r.ts_us / 1000L) Long.MaxValue else wake
              })
            if (pendingMs.nonEmpty)
              state.setTimeoutTimestamp(math.max(pendingMs.min, wmMs + 1))
          } else state.remove()
          out.iterator
      }
  }

  /** Typed document for streaming dedup tests/feeds. */
  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** The multimodal family's streaming leg: the typed decode pipeline
    * applied per micro-batch. `decodeFeatures` is a map-only
    * `mapPartitions` transform — no state, no shuffle, no watermark —
    * so it lifts to streams unchanged; a 100 TB/day media ingest
    * decodes inline at whatever parallelism the source provides.
    * Batch parity is structural (same function), pinned by
    * MultimodalSpec's streaming test over real PNG/WAV payloads. */
  def mediaFeatures(media: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRow],
      frameStride: Int = 4): org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaFeatures] =
    graft.operators.Multimodal.decodeFeatures(media, frameStride)

  /** The chunker's streaming leg: sliding-window segmentation of an
    * incoming (doc_id, text) document stream — the same declarative
    * projection as `Llm.chunkDocs` (tokenize, window arithmetic,
    * posexplode, slice), which is map-only with no state, shuffle or
    * watermark, so it lifts per micro-batch unchanged. The crawl →
    * chunk → (embed/dedup) ingest shape: segments arrive (e.g. via
    * `Warc.recordStream` + `httpSplit`), chunks leave, downstream
    * operators consume chunk rows. Batch parity is structural (same
    * frame-level core); StreamingSpec pins stream == batch per
    * micro-batch. */
  def chunkStream(docs: DataFrame, chunkTokens: Int = 128, overlap: Int = 16): DataFrame =
    graft.operators.Llm.chunkFrame(docs, chunkTokens, overlap)

  /** The link-graph family's streaming leg: outlink-edge extraction
    * over an incoming (page_url, page) fetched-page stream — the
    * SAME frame-level core as the batch edge build
    * (`LinkGraph.edgesOf`: `graft_html_links` → `graft_url_resolve`
    * → `graft_url_canon` → host keying → self-loop drop), which is
    * map-only with no state, shuffle or watermark, so it lifts per
    * micro-batch unchanged — the fetch → discover shape of a live
    * crawl (pages arrive, cross-host edges leave; downstream the
    * edges feed `frontierStream` as candidates, or accumulate for
    * the batch `hostRank`/`linkBfs` passes, the same online-filter /
    * batch-recompute split as dedup). StreamingSpec pins stream ==
    * batch per micro-batch, including extraction-order decoys. */
  def outlinkStream(pages: DataFrame): DataFrame =
    graft.operators.LinkGraph.edgesOf(pages)

  /** ONLINE maintenance of the persisted link index (round-19
    * verdict item 7): each fetched-page micro-batch aggregates to
    * its own edge-count DELTA (`LinkGraph.buildLinkIndex` — the same
    * per-generation job the batch path runs) and lands as a
    * batchId-keyed parquet partition via idempotent OVERWRITE — the
    * `idempotentParquetWriter` recipe, so a batch replayed after a
    * crash converges to exactly-once content. The index is
    * deliberately kept as per-batch deltas plus a READ-time fold
    * (`linkIndexOf`): a read-modify-write of the whole index per
    * micro-batch would be neither idempotent nor micro-batch-sized,
    * while deltas keep per-batch cost proportional to the batch and
    * leave compaction (fold deltas through `mergeLinkIndex` into one
    * generation table) as the same batch job `llm_link_incr` already
    * runs at crawl cadence. StreamingSpec pins the folded index
    * equal to the batch `buildLinkIndex` over all pages, across a
    * query restart. */
  def linkIndexSink(pages: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.LinkGraph.buildLinkIndex(batch)
          .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
      }
      .start()

  /** The stream-maintained link index as one (src_host, dst_host,
    * n_links) frame: fold the batch deltas. Counts ADD across
    * deltas, so the fold is one partial-agg'd groupBy over
    * delta-sized data — the read-side half of `linkIndexSink`'s
    * contract (and exactly `mergeLinkIndex`'s semantics extended
    * from 2 eras to N). */
  def linkIndexOf(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir)
      .groupBy(col("src_host"), col("dst_host"))
      .agg(sum(col("n_links")).as("n_links"))

  /** The dedup family's streaming leg: exact dedup of an incoming
    * document stream — the first document per normalized-text hash
    * passes, later copies are dropped — with state bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark`, so the
    * store holds one 128-bit hash per distinct text seen within
    * `lateness`, never the corpus). The crawl-frontier shape of
    * `Llm.dedupExact`/`dedupIncremental`: same normalization, same
    * hash, applied per micro-batch instead of per corpus rebuild. */
  def dedupDocs(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", graft.operators.Llm.textHash(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Candidate-URL stream row for `frontierStream`. */
  case class UrlCand(cand_id: Long, ts: java.sql.Timestamp, url: String)

  /** The crawl FRONTIER's streaming leg — the online twin of
    * `Urls.urlFrontier`, staged exactly like a crawler admits work:
    * candidate URLs arrive as a stream, each canonicalizes
    * (RFC 3986), keys to its host, takes an RFC 9309 verdict from the
    * STATIC per-host robots frame (stream-static broadcast equi-join
    * — stateless, and the robots snapshot swaps via the same
    * stop/reload/restart runbook as `nearDupSuspects`' index), and
    * the first arrival per CANONICAL form within the watermark
    * horizon is admitted — later aliases drop against state that
    * holds one canonical string per distinct resource seen within
    * `lateness`, never the crawl history (the batch leg's seen-set
    * groupBy, turned into `dropDuplicatesWithinWatermark`).
    * The whole map side is COLUMNAR — the same `canonCol` /
    * `allowedCol` kernels as the batch leg lift onto the stream
    * unchanged, so per micro-batch the scan is one codegen
    * projection and the event-time column reaches the dedup state
    * untouched. Back-fill / exact re-counts (n_seen) stay with the
    * batch leg, the same split as dedup. */
  def frontierStream(urls: DataFrame, robots: DataFrame,
      agent: String = "graftbot/1.0", lateness: String = "1 hour"): DataFrame = {
    urls.select(col("cand_id"), col("ts"), col("url"))
      .withColumn("canonical_url",
        coalesce(graft.sources.Urls.canonCol(col("url")), lit("!")))
      .withColumn("host", graft.sources.Urls.hostCol(col("canonical_url")))
      .withColumn("path",
        regexp_extract(col("canonical_url"), "^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1))
      // LEFT outer: a host with no robots.txt row must still flow —
      // per RFC 9309 an absent policy allows everything, and an inner
      // join would SILENTLY drop it (and the visible "!" parse-failure
      // rows) from the frontier. The coalesce-to-"" makes the absent
      // policy parse to zero rules -> allowed.
      .join(broadcast(robots), Seq("host"), "left_outer")
      .withColumn("allowed", graft.sources.Robots.allowedCol(
        coalesce(col("robots_txt"), lit("")), col("path"), agent))
      .select(col("cand_id"), col("ts"), col("canonical_url"), col("host"), col("allowed"))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("canonical_url")
  }

  /** Schedule row emitted by `scheduleStream`. */
  case class ScheduleOut(host: String, canonical_url: String,
      slot: Long, fetch_at_ms: Long)

  /** The politeness SCHEDULE's streaming leg — the online twin of
    * `Urls.frontierSchedule`: admitted frontier rows (the output of
    * `frontierStream`) are queued per host, and each host's fetches
    * get strictly increasing slots in admission order, CONTINUOUS
    * ACROSS MICRO-BATCHES — the per-host state is one long (the next
    * slot), not a queue, so state size is O(hosts) forever. Within a
    * micro-batch, arrival order is pinned by (cand_id,
    * canonical_url) so replays assign identical slots. `fetch_at_ms`
    * is the same `(slot-1) × delay_ms` arithmetic as the batch leg —
    * the per-host delay rides in on an optional `delay_ms` column
    * (the robots dim's declared Crawl-delay, as in the batch leg),
    * defaulting to the 1 s `CrawlDelayMs` when absent or null. (A
    * deployment would anchor fetch times to the host's last real
    * fetch; the slot spacing is the part that carries the politeness
    * contract.) Keyed state is the honest shape here: a host's fetch
    * queue IS serial, and host cardinality dwarfs executor counts so
    * the operator parallelizes across hosts exactly like the batch
    * leg's window. StreamingSpec pins per-host continuity across
    * batches AND batch-twin parity on the same admitted set. */
  def scheduleStream(admitted: DataFrame): DataFrame = {
    import admitted.sparkSession.implicits._
    val default = graft.sources.Urls.CrawlDelayMs
    val withDelay =
      if (admitted.columns.contains("delay_ms"))
        admitted.withColumn("delay_ms",
          coalesce(col("delay_ms"), lit(default)))
      else admitted.withColumn("delay_ms", lit(default))
    withDelay
      .filter(col("allowed"))
      .select(col("host"), col("canonical_url"), col("cand_id"), col("delay_ms"))
      .as[(String, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, ScheduleOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (host, rows, state) =>
          var slot = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map { r =>
            slot += 1
            ScheduleOut(host, r._2, slot, (slot - 1) * r._4)
          }
          state.update(slot)
          out.iterator
      }.toDF()
  }

  /** The NEAR-dup family's streaming leg: online suspect filtering of
    * a document stream against a STATIC corpus index
    * (`Llm.NearDupIndex` — built batch-side, typically reloaded from
    * parquet). Each incoming doc's 128-slot MinHash signature is
    * computed per row (`Llm.minhashSig`, the batch index's own
    * signature column), its 32 band hashes
    * stream-static equi-join the index's band table, and each
    * distinct (doc, indexed-group) collision emits once
    * (`dropDuplicatesWithinWatermark` — state is the collision set
    * within `lateness`, never the corpus).
    *
    * Contract — SUSPECTS, not verdicts: this is the crawl-frontier
    * split every production dedup runs. Candidate generation is
    * exactly the batch `bandPairs` arithmetic, so the suspect set
    * EQUALS the batch probe's candidate set over the same admitted
    * docs (StreamingSpec pins set-equality, kernels on AND off);
    * false positives at the banding collision rate pass on to the
    * batch compactor's exact verification (`probeNearDupIndex`),
    * false negatives have the banding miss probability
    * ((1-j⁴)³² ≈ 3e-7 at j = 0.9). Per-row cost is O(shingles +
    * 32 bands) with no per-key state — the online filter a 100 TB/day
    * ingest can actually afford.
    *
    * Index REFRESH (crawl-generation swap): stop the query, rebuild or
    * reload the index, restart from the SAME checkpoint with the new
    * index. The stream-static join is stateless so the swap is legal;
    * the collision-dedup state carries over (no re-emission of pairs
    * already flagged), and docs consumed before the swap are NOT
    * re-evaluated — the refresh applies forward, the batch compactor
    * owns back-fill. StreamingSpec's "index refresh" test pins all
    * three properties; TESTDATA.md carries the runbook. */
  def nearDupSuspects(docs: DataFrame, index: graft.operators.Llm.NearDupIndex,
      lateness: String = "1 hour"): DataFrame = {
    import graft.operators.Llm
    val spark = docs.sparkSession
    val sig = docs
      .withWatermark("ts", lateness)
      .select(col("doc_id"), col("ts"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sig", Llm.minhashSig(spark, col("toks")).getField("sig"))
    val streamBands = sig
      .select(col("doc_id"), col("ts"), posexplode(Llm.bandHashesExpr(spark)))
      .toDF("doc_id", "ts", "band", "band_hash")
    val idxBands = Llm.bandsOf(index.groups)
      .select(col("key").as("suspect_of"), col("band"), col("band_hash"))
    streamBands
      .join(idxBands, Seq("band", "band_hash"))
      .select(col("doc_id"), col("ts"), col("suspect_of"))
      .dropDuplicatesWithinWatermark("doc_id", "suspect_of")
  }

  /** The winnowing family's streaming leg: online duplicate-SPAN
    * suspect filtering of a document stream against a STATIC corpus
    * fingerprint index (`Llm.buildWinnowIndex` — (h, suspect_of),
    * built batch-side, typically reloaded from parquet bucketed on
    * `h`). Each arriving doc's winnowed fingerprint set is computed
    * per row (the `graft_winnow` kernel, or the bit-equal
    * pure-expression `Llm.withRowWinnowSel` — window functions don’t
    * exist on streams), exploded, and stream-static equi-joined on
    * the 56-bit gram hash; each distinct (doc, indexed-doc) collision
    * emits once (`dropDuplicatesWithinWatermark` — state is the
    * collision set within `lateness`, never the corpus).
    *
    * The SWA guarantee carries over unchanged: a new document sharing
    * >= 23 normalized chars with an indexed document ALWAYS collides
    * — this filter has NO false negatives above the guarantee length,
    * unlike the probabilistic banding of `nearDupSuspects`; false
    * positives are 56-bit hash collisions (negligible) plus genuine
    * short shared spans, and the batch `dupSpansOn` owns scoring.
    * Index refresh follows the `nearDupSuspects` runbook: stop,
    * rebuild or reload, restart from the same checkpoint. */
  def dupSpanSuspects(docs: DataFrame, index: DataFrame,
      lateness: String = "1 hour"): DataFrame = {
    import graft.operators.Llm
    val spark = docs.sparkSession
    val normed = docs
      .withWatermark("ts", lateness)
      .select(col("doc_id"), col("ts"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("t"))
      .filter(length(col("t")) >= Llm.MinWinnowLen)
    val sel =
      if (Llm.kernelOn(spark))
        normed.select(col("doc_id"), col("ts"),
          explode(Kernels("graft_winnow", col("t")).getField("sel")).as("h"))
      else
        Llm.withRowWinnowCols(normed)
          .select(col("doc_id"), col("ts"),
            explode(expr(Llm.rowWinnowSelSql)).as("h"))
    sel
      .join(index, Seq("h"))
      .filter(col("doc_id") =!= col("suspect_of"))
      .select(col("doc_id"), col("ts"), col("suspect_of"))
      .dropDuplicatesWithinWatermark("doc_id", "suspect_of")
  }

  /** Streaming ANN candidate filter against a prebuilt `AnnIndex` —
    * the vector-space sibling of `nearDupSuspects`: each arriving
    * query vector computes its `nprobe` closest cells and its
    * residual ADC table (driver-small model frozen at plan build,
    * broadcast in the task closure), stream-static joins the CODES
    * table on the cell id (at 100 TB: a partition-pruned probe of a
    * cell-bucketed corpus), scores candidates by genuine approximate
    * cosine — (cell_dot + ADC) / (|x̂|·|p|), both norms: |x̂| is
    * reconstructed at encode time, |p| computed alongside the probe
    * table (embeddings are NOT unit-norm, so dropping |p| would make
    * `minSim` norm-dependent — round-14 advice) — and
    * emits those above `minSim`. Entirely STATELESS — no per-key
    * state, no dedup store (a vector lives in exactly one cell, so a
    * (probe, candidate) pair is produced at most once) — which is
    * the online filter shape an ingest pipeline affords; the exact
    * re-rank and top-k stay with the batch `probeAnnIndex`. Index
    * refresh follows the `nearDupSuspects` runbook: stop, rebuild or
    * reload, restart from the same checkpoint. */
  def annSuspects(queries: DataFrame, index: graft.operators.Llm.AnnIndex,
      nprobe: Int = 28, minSim: Double = 0.3): DataFrame = {
    import graft.operators.Llm
    val spark = queries.sparkSession
    import spark.implicits._
    val model = Llm.annModelOf(index)
    val probed = queries
      // Array (not Seq): the 2.13 encoder deserializes Seq[Double] to
      // a List, making every pv(i) in the loops below a linear walk —
      // see Llm.annNearest's r22 note
      .select(col("vec_id"), col("ts"), col("v"))
      .as[(Long, java.sql.Timestamp, Array[Double])]
      .mapPartitions { rows =>
        rows.flatMap { case (pid, ts, pv) =>
          // |p| too: simq must be approximate COSINE, not |p|·cos —
          // without it minSim over/under-admits in proportion to each
          // query's norm (round-14 advice; batch probeAnnIndex only
          // RANKS within a probe, where |p| is constant, so it never
          // needed the division)
          var p2 = 0.0
          var pi = 0
          while (pi < pv.length) { p2 += pv(pi) * pv(pi); pi += 1 }
          val pn = math.sqrt(p2)
          model.probe(pv, nprobe).map { case (cell, cd, t) => (pid, ts, cell, cd, pn, t) }
        }
      }.toDF("probe_id", "ts", "cluster", "cell_dot", "pn", "ptab")
    val adc = Llm.adcExpr(spark, model.m, model.ks)
    probed.join(index.codes, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("simq",
        (col("cell_dot") + adc) / greatest(col("qn") * col("pn"), lit(1e-12)))
      .filter(col("simq") >= minSim)
      .select(col("probe_id"), col("ts"), col("vec_id"),
        round(col("simq"), 6).as("simq"))
  }

  /** The wire format, encode side: every column JSON-serialized into
    * a single `value` string — the reference's `json.dumps(event)`
    * (producer.py:46). Shared by `kafkaSink` and the broker-free wire
    * round-trip test (the format is a contract independent of the
    * transport). */
  def wireEncode(events: DataFrame): DataFrame =
    events.select(to_json(struct(events.columns.map(col): _*)).as("value"))

  /** One wire value's event struct: exactly PERMISSIVE `from_json`
    * against the event schema. With kernels on, the `graft_wire_decode`
    * kernel decodes every row it fully accepts in one byte pass, and
    * the rows it rejects (corrupt, null or unusual input) go to the
    * evaluator `from_json` itself runs, built with the arguments
    * `JsonToStructs` gives it and called through Spark's `Invoke`.
    * `from_json` is a `CodegenFallback` expression, which keeps its
    * operator out of whole-stage codegen and makes every task build
    * its projection anew; `Invoke` is not, so the decode joins the
    * surrounding `*(n)` stage. The legacy time parser reads
    * timestamps its own way, so under it, and with kernels off,
    * `from_json` decodes every row. */
  private[graft] def wireEvent(spark: SparkSession, value: Column): Column = {
    val legacyTime =
      spark.conf.get("spark.sql.legacy.timeParserPolicy").equalsIgnoreCase("LEGACY")
    if (graft.operators.Llm.kernelOn(spark) && !legacyTime) {
      // eventSchema's DDL fields are all nullable, as JsonToStructs
      // makes the schema it hands its evaluator
      val json = JsonToStructsEvaluator(Map.empty, eventSchema,
        spark.conf.get("spark.sql.columnNameOfCorruptRecord"),
        Some(spark.conf.get("spark.sql.session.timeZone")),
        spark.conf.get("spark.sql.variant.allowDuplicateKeys").toBoolean)
      val reference = Invoke(Literal(json, ObjectType(json.getClass)), "evaluate", eventSchema,
        Seq(ColumnBridge.expression(value)))
      coalesce(Kernels("graft_wire_decode", value), ColumnBridge.column(reference))
    } else from_json(value, eventSchema)
  }

  /** The wire format, decode side: `wireEvent` over the `value`
    * column — the reference's `json.loads` + try/except skip
    * (consumer.py:405-423). Corrupt rows decode to all-null structs
    * and are dropped by the `event_id` filter, mirroring the skip.
    * The decoded struct is flattened by `inline` over a one-element
    * array, a generator the optimizer cannot push the filter
    * through: under a `select(e.*)`, filter pushdown would copy the
    * whole decode into the `event_id IS NOT NULL` predicate and run
    * it twice per row. PlanSpec pins one decode per plan.
    * The wire frame is first coalesced, without a shuffle, to one
    * partition per core: a `MemoryStream` batch has one partition per
    * appended block, and each task pays a fixed cost (deserializing
    * its binary, setting up its operators) that dwarfs the decode of a
    * small block. The coalesce does nothing when the input has that
    * many partitions or fewer (a one-block batch, a one-partition
    * Kafka topic); the stateful operators downstream shuffle by key
    * either way. */
  def wireDecode(wire: DataFrame): DataFrame =
    wire.coalesce(wire.sparkSession.sparkContext.defaultParallelism)
      .select(inline(array(wireEvent(wire.sparkSession, col("value").cast("string")))))
      .filter(col("event_id").isNotNull)

  /** S3 Kafka source → typed event stream (consumer.py:13-17,
    * 358-399: subscribe insect-events, earliest offsets, poll loop —
    * the poll loop disappears; offsets/group management is the
    * engine's). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    wireDecode(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** S2 Kafka producer sink (producer.py:34-61): JSON-serialize every
    * column into `value`, write to the topic. Checkpointing makes the
    * produce at-least-once with exactly-once state (vs the
    * reference's fire-and-forget poll/flush). */
  def kafkaSink(events: DataFrame, servers: String, topic: String,
                checkpoint: String): DataStreamWriter[Row] =
    wireEncode(events)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** A1 consolidated multi-dimension stats — SURVEY §4's one
    * deliberately-deferred physical choice ("four group-bys as one
    * grouping-sets pass or four independent streams — decide by
    * benchmark"), resolved in round 12: ONE pass computes every
    * dimension's value counts via the explode-based grouping-sets
    * form — each input row emits one (dim, value) pair per dimension,
    * then a single groupBy over the pair (the reference's own
    * MapReduce stats shape, mapreduce.py:5-96, generalized). `cube`/
    * `rollup` would express this in batch but are unsupported on
    * streaming frames; the explode form is streaming-safe and batch-
    * identical.
    *
    * Measured against N independent per-dimension streaming queries
    * (StreamingSpec pins both axes): the source is read ONCE instead
    * of N times (numInputRows: rows vs N·rows — at 100 TB that is
    * N-1 saved broker re-reads of the full topic), and one state
    * store holds exactly the union of the N key sets (same total
    * state rows, one checkpoint instead of N). The explode's row
    * amplification is N·rows into a partial-aggregated shuffle whose
    * output is bounded by the key-set size — the map-side combine
    * absorbs it, same law as A12. Verdict recorded in SURVEY §8. */
  def statsMultiDim(events: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "need at least one stats dimension")
    events.select(explode(array(dims.map(d =>
        struct(lit(d).as("dim"), col(d).cast("string").as("dim_value"))): _*)).as("kv"))
      .select(col("kv.dim").as("dim"), col("kv.dim_value").as("dim_value"))
      .groupBy(col("dim"), col("dim_value"))
      .agg(count(lit(1)).as("n"))
  }

  /** S5 query serving: stream aggregates into an in-memory table
    * queryable with `spark.sql(...)` — replaces the reference's
    * pickle-over-Unix-socket RPC server (consumer.py:243-354). Reads
    * are transactionally versioned (ST7): no lock, no torn reads.
    *
    * The table is Spark's own `MemorySink` behind a `MemoryPlan`
    * view named `name`, as `format("memory")` builds it, but each
    * micro-batch reaches it in one driver-side append: the batch is
    * collected on the stream thread (under the query's job group) and
    * `MemorySink.write` adds it whole, truncating first in `complete`
    * mode (case-insensitive) and skipping a replayed batch id.
    * `format("memory")` would instead build, in every task of the
    * state stage, a `Row` deserializer through a full analyzer pass
    * and convert each row there: a fixed cost per task that a small
    * batch pays in full. One difference shows in progress events: a
    * `foreachBatch` sink reports `sink.numOutputRows = -1`. */
  def serveMemory(aggregated: DataFrame, name: String,
                  mode: String = "update"): StreamingQuery = {
    val sink = new MemorySink()
    val truncate = mode.equalsIgnoreCase("complete")
    val q = aggregated.writeStream.queryName(name).outputMode(mode)
      .foreachBatch((batch: DataFrame, id: Long) => sink.write(id, truncate, batch.collect()))
      .start()
    ColumnBridge.frame(aggregated.sparkSession, MemoryPlan(sink, DataTypeUtils.toAttributes(aggregated.schema)))
      .createOrReplaceTempView(name)
    q
  }

  /** S7 console sink (consultas.py's tabulate pretty-printers). */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").option("truncate", "false")

  /** The per-batch idempotent write behind `idempotentBatchSink`:
    * OVERWRITE the batchId-keyed partition directory instead of
    * appending. Structured Streaming's contract is that a batch
    * replayed after a crash carries the SAME deterministic batchId,
    * so a replay lands on the same directory and the store converges
    * to exactly-once CONTENT even though foreachBatch itself is
    * at-least-once EXECUTION — the standard recipe for sinks without
    * transactions (parquet/files/JDBC upsert). Exposed separately so
    * tests can compose it with a crash injected between the write
    * and the checkpoint commit. */
  def idempotentParquetWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** ST8 delivery-semantics leg: exactly-once sink for a
    * non-transactional store via batchId-keyed idempotent overwrite
    * (see `idempotentParquetWriter`). Read the result back with
    * `spark.read.parquet(outDir)` — the batch_id=N directories
    * surface as a partition column. StreamingSpec kills a query
    * between the sink write and the offset commit and proves the
    * replayed batch deduplicates. */
  def idempotentBatchSink(df: DataFrame, outDir: String,
                          checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(idempotentParquetWriter(outDir))
      .start()

  /** Per-batch DGIM update for `dgimCounts`: the trailing-window
    * estimate after folding the batch into the key's sketch, plus the
    * sketch size (the O(log² W) memory claim, observable per key). */
  case class DgimUpdate(event_type: String, last_ts: Long,
                        est_errors_1h: Long, n_buckets: Int)

  /** A9's streaming leg (the DGIM scale design's other half — see
    * `Sketches.dgimStitched` for the batch stitch): a stateful per-key
    * DGIM maintained across micro-batches with
    * `KeyValueGroupedDataset.mapGroupsWithState`. The state store
    * holds only the sketch's O(log² W) buckets per key — never the
    * window's bits (the reference keeps every event of the window in
    * a deque, consumer.py:112-117; a 1-hour window at web-scale rates
    * would be gigabytes per key, the sketch is ~30 tuples).
    *
    * Each map task first folds its rows to one `(event_type, tsec,
    * ones)` record per key and second, so the shuffle carries at most
    * the distinct (key, second) pairs of a partition instead of every
    * event. Within a micro-batch the key's records are sorted by event
    * time before replay (DGIM is order-dependent; a micro-batch is
    * bounded, so the sort is a small in-memory one per key per
    * trigger). A record replays as `ones` 1-bits at its second, or one
    * 0-bit when it has none (`Dgim.addCount`), which is bit-identical
    * to replaying the rows. The state is the sketch's buckets as bytes
    * (`Dgim.exportBuckets`): its deserializer compiles once, where a
    * `Seq[(Long, Long)]` compiled a new one in every micro-batch.
    * Across batches the engine delivers batch N+1 after N — late
    * stragglers beyond that are the stream's lateness domain, same as
    * the reference's arrival-order deque.
    * Run with outputMode("update").
    *
    * State eviction: pass `ttl = Some(d)` to give each key a
    * processing-time TTL. A key idle past the TTL holds only buckets
    * older than the window it estimates — dead weight — so the
    * timeout callback drops its state and emits a tombstone row
    * (`n_buckets = 0`, `last_ts = -1`); a revived key rebuilds from
    * an empty sketch. Use it whenever the key domain is OPEN
    * (user-id, session — unbounded state growth otherwise); the
    * default `None` keeps NoTimeout for bounded domains like
    * event_type, where data-driven triggers alone suffice — a
    * registered processing-time timer makes the engine schedule
    * batches on its own clock, a cost an idle bounded-key stream
    * needn't pay. */
  def dgimCounts(events: DataFrame, windowSec: Long = 3600L,
                 ttl: Option[FiniteDuration] = None): Dataset[DgimUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .select(col("event_type"), col("ts").cast("long").as("tsec"),
        when(col("event_type") === "error", 1).otherwise(0).as("bit"))
      .as[(String, Long, Int)]
      .mapPartitions { rows =>
        val ones = scala.collection.mutable.HashMap.empty[(String, Long), Int]
        rows.foreach { case (key, tsec, bit) =>
          ones.updateWith((key, tsec))(n => Some(n.getOrElse(0) + bit))
        }
        ones.iterator.map { case ((key, tsec), n) => (key, tsec, n) }
      }
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], DgimUpdate](timeoutConf) {
        (key, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            DgimUpdate(key, -1L, 0L, 0)
          } else {
            val d = new Dgim(windowSec)
            state.getOption.foreach(d.loadBuckets)
            var last = Long.MinValue
            rows.toSeq.sortBy(_._2).foreach { case (_, tsec, ones) =>
              d.addCount(tsec, ones)
              if (tsec > last) last = tsec
            }
            val est = if (last == Long.MinValue) 0L else d.estimate(last)
            state.update(d.exportBuckets)
            ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
            DgimUpdate(key, last, est, d.bucketCount)
          }
      }
  }
}

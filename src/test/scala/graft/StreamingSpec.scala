package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Dgim
import graft.streaming.Streaming
import graft.streaming.Streaming.Event

/** Batch-by-batch Structured Streaming semantics (SURVEY §5.5):
  * tumbling windows, watermark late-data drop, first-seen upsert
  * dedup — driven through MemoryStream, no broker needed. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.withConf

  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, typ: String = "click") =
    Event(id, ts(t), id % 7, typ, 1.0)

  test("tumbling window counts with watermark drop late data") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.serveMemory(
      Streaming.tumblingCounts(ms.toDF(), "1 minute", "10 minutes"),
      "win_counts")
    try {
      // batch 1: two events in the 10:00 window, one at 10:30
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"),
                 ev(3, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // watermark is now 10:20; this event is >10 min late -> dropped
      ms.addData(ev(4, "2024-01-01 10:00:40"))
      q.processAllAvailable()
      // a fresh event lands normally
      ms.addData(ev(5, "2024-01-01 10:31:00"))
      q.processAllAvailable()

      val counts = spark.sql(
        "SELECT wstart, max(n) AS n FROM win_counts GROUP BY wstart")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(counts("2024-01-01 10:00:00.0") == 2,
        "late event behind the watermark must not increment the window")
      assert(counts("2024-01-01 10:30:00.0") == 1)
      assert(counts("2024-01-01 10:31:00.0") == 1)
    } finally q.stop()
  }

  test("session windows merge within the gap and split across it (streaming sessions)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    // session windows only support append output: a session's row is
    // emitted once, when the watermark proves no more events can
    // merge into it
    val q = Streaming.serveMemory(
      Streaming.sessionCounts(ms.toDF(), gap = "30 minutes", lateness = "10 minutes"),
      "sessions", mode = "append")
    try {
      // user 0: two events 10 min apart (one session), then a 40-min
      // silence, then a third event (a second session)
      ms.addData(Event(1, ts("2024-01-01 10:00:00"), 0, "click", 1.0),
                 Event(2, ts("2024-01-01 10:10:00"), 0, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(3, ts("2024-01-01 10:50:00"), 0, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far enough to close both sessions
      ms.addData(Event(4, ts("2024-01-01 13:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT session_start, n_events FROM sessions WHERE user_id = 0")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(rows("2024-01-01 10:00:00.0") == 2,
        s"first session must merge events 10 min apart: $rows")
      assert(rows("2024-01-01 10:50:00.0") == 1,
        s"40-min gap must open a new session: $rows")
    } finally q.stop()
  }

  test("streaming dedup: first text passes, later copies drop across batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Streaming.Doc]
    val q = Streaming.serveMemory(
      Streaming.dedupDocs(ms.toDF(), "1 hour"), "dedup_docs", mode = "append")
    try {
      // batch 1: two copies of A (one survives), one B
      ms.addData(
        Streaming.Doc(1, ts("2024-01-01 10:00:00"), "alpha  beta gamma"),
        Streaming.Doc(2, ts("2024-01-01 10:00:01"), "alpha beta gamma"),
        Streaming.Doc(3, ts("2024-01-01 10:00:02"), "delta epsilon"))
      q.processAllAvailable()
      // batch 2: another A copy (dropped by state), one fresh C
      ms.addData(
        Streaming.Doc(4, ts("2024-01-01 10:05:00"), "ALPHA BETA GAMMA"),
        Streaming.Doc(5, ts("2024-01-01 10:05:01"), "zeta eta theta"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_docs")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.length == 3, s"one survivor per distinct text: $ids")
      assert(ids.contains(3L) && ids.contains(5L), "unique texts must pass")
      assert((ids.toSet & Set(1L, 2L)).size == 1, "exactly one copy of the duplicated text")
      assert(!ids.contains(4L), "cross-batch duplicate must hit state and drop")
    } finally q.stop()
  }

  test("streaming frontier: canonical-form admission once, per-host robots verdicts, aliases drop across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // per-host policies via the batch leg's generator: src0 (even
    // length) also disallows /doc, src11 (odd) does not — the verdict
    // proves WHICH host's policy the broadcast join delivered
    val robots = Seq(
      ("src0.example.com", graft.sources.Urls.frontierPolicy("src0")),
      ("src11.example.com", graft.sources.Urls.frontierPolicy("src11")))
      .toDF("host", "robots_txt")
    val ms = MemoryStream[Streaming.UrlCand]
    val q = Streaming.serveMemory(
      Streaming.frontierStream(ms.toDF(), robots, lateness = "1 hour"),
      "frontier_stream", mode = "append")
    def cand(id: Long, t: String, u: String) = Streaming.UrlCand(id, ts(t), u)
    try {
      // batch 1: one resource under two spellings (same canonical) +
      // a /doc probe on each host + an unknown host + a non-URL
      ms.addData(
        cand(1, "2024-01-01 10:00:00", "HTTP://src0.Example.COM:80/data/pub/7"),
        cand(2, "2024-01-01 10:00:01", "http://src0.example.com/data/./pub/7"),
        cand(3, "2024-01-01 10:00:02", "http://src0.example.com/doc/%7E1?q=1#s"),
        cand(4, "2024-01-01 10:00:03", "http://src11.example.com/doc/~1?q=1"),
        cand(5, "2024-01-01 10:00:04", "http://unlisted.example.com/anything"),
        cand(6, "2024-01-01 10:00:05", "not a url at all"))
      q.processAllAvailable()
      // batch 2: a third alias of the batch-1 resource (state drop) +
      // a genuinely new disallowed path
      ms.addData(
        cand(7, "2024-01-01 10:10:00", "http://src0.example.com:80/data/pub/7"),
        cand(8, "2024-01-01 10:10:01", "http://src11.example.com/tmp/run9.log#f"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT cand_id, canonical_url, allowed FROM frontier_stream")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      val admittedPub = rows.filter(_._2._1 == "http://src0.example.com/data/pub/7")
      assert(admittedPub.size == 1 && admittedPub.keySet.subsetOf(Set(1L, 2L)),
        s"three spellings of one resource must admit exactly the first arrival: $rows")
      assert(!rows.contains(7L), "cross-batch alias must hit canonical state and drop")
      assert(rows(3L) == (("http://src0.example.com/doc/~1?q=1", false)),
        "src0 policy disallows /doc — and %7E must decode before admission")
      assert(rows(4L) == (("http://src11.example.com/doc/~1?q=1", true)),
        "src11 policy allows /doc — per-host join delivered the right rules")
      assert(rows(5L) == (("http://unlisted.example.com/anything", true)),
        "absent robots.txt allows everything (left-outer, RFC 9309)")
      assert(rows(6L)._1 == "!", "non-URL candidates stay visible as '!' rows")
      assert(rows(8L) == (("http://src11.example.com/tmp/run9.log", false)),
        "anchored wildcard disallow applies on the canonicalized path")
    } finally q.stop()
  }

  test("streaming schedule: per-host slots consecutive across micro-batches, per-host Crawl-delay honored, batch-window parity") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}
    // b.com declares Crawl-delay 2 s (delay_ms = 2000); a.com's
    // policy declares none (NULL -> the 1 s default)
    val ms = MemoryStream[(String, String, Long, Boolean, Option[Long])]
    val in = ms.toDF().toDF("host", "canonical_url", "cand_id", "allowed", "delay_ms")
    val q = Streaming.serveMemory(Streaming.scheduleStream(in), "sched_stream", mode = "append")
    val batch1 = Seq(
      ("a.com", "http://a.com/2", 2L, true, None),
      ("a.com", "http://a.com/1", 1L, true, None),   // lower cand_id: fetches FIRST despite listing order
      ("b.com", "http://b.com/1", 3L, true, Some(2000L)),
      ("a.com", "http://a.com/blocked", 4L, false, None)) // disallowed: no slot consumed
    val batch2 = Seq(
      ("a.com", "http://a.com/3", 10L, true, None),  // continuity: a.com resumes at slot 3
      ("b.com", "http://b.com/2", 11L, true, Some(2000L)))
    try {
      ms.addData(batch1: _*); q.processAllAvailable()
      ms.addData(batch2: _*); q.processAllAvailable()
      val rows = spark.sql("SELECT host, canonical_url, slot, fetch_at_ms FROM sched_stream")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set(
        ("a.com", "http://a.com/1", 1L, 0L),
        ("a.com", "http://a.com/2", 2L, 1000L),
        ("a.com", "http://a.com/3", 3L, 2000L),
        ("b.com", "http://b.com/1", 1L, 0L),
        ("b.com", "http://b.com/2", 2L, 2000L)), s"got $rows")
      // batch-twin parity: the SAME admitted set through the batch
      // leg's window arithmetic (cand_id as the arrival key) must
      // assign identical slots and fetch times — one contract
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host")).orderBy(col("cand_id"), col("canonical_url"))
      val batch = (batch1 ++ batch2)
        .toDF("host", "canonical_url", "cand_id", "allowed", "delay_ms")
        .filter(col("allowed"))
        .withColumn("slot", row_number().over(w).cast("long"))
        .withColumn("fetch_at_ms",
          (col("slot") - 1) * coalesce(col("delay_ms"), lit(1000L)))
        .select(col("host"), col("canonical_url"), col("slot"), col("fetch_at_ms"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch == rows, "streaming slots must equal the batch window on the same admitted set")
    } finally q.stop()
  }

  test("streaming frontier survives a checkpoint restart: admission state persists, aliases still drop") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_frontier_ckpt").toString
    val robots = Seq(("src0.example.com", graft.sources.Urls.frontierPolicy("src0")))
      .toDF("host", "robots_txt")
    val ms = MemoryStream[Streaming.UrlCand]
    val out = Streaming.frontierStream(ms.toDF(), robots, lateness = "1 hour")
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getLong(0)))
      }.start()
    val q1 = start()
    try {
      ms.addData(Streaming.UrlCand(1, ts("2024-01-01 10:00:00"),
        "HTTP://src0.Example.COM:80/data/pub/7"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toArray.toSeq == Seq(1L), "first spelling admits before the restart")
    // restart from the same checkpoint: the canonical seen-set must
    // recover — an alias of the pre-restart resource drops, a fresh
    // resource still admits. A lost store would re-admit cand 2.
    val q2 = start()
    try {
      ms.addData(
        Streaming.UrlCand(2, ts("2024-01-01 10:10:00"), "http://src0.example.com/data/./pub/7"),
        Streaming.UrlCand(3, ts("2024-01-01 10:10:01"), "http://src0.example.com/data/pub/8"))
      q2.processAllAvailable()
      val got = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
      assert(got == Seq(1L, 3L),
        s"restart must keep the admission state (alias 2 drops, fresh 3 admits): $got")
    } finally q2.stop()
  }

  test("streaming frontier runs under the RocksDB state store (100 TB posture)") {
    // the admission seen-set holds one canonical string per distinct
    // resource within the watermark — at web-scale frontier
    // cardinality that state must spill to disk, not heap; same
    // operator code, swapped provider
    assume(scala.util.Try(Class.forName(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")).isSuccess,
      "RocksDB state store provider not on the classpath")
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbProvider) {
      val robots = Seq(("src0.example.com", graft.sources.Urls.frontierPolicy("src0")))
        .toDF("host", "robots_txt")
      val ms = MemoryStream[Streaming.UrlCand]
      val q = Streaming.serveMemory(
        Streaming.frontierStream(ms.toDF(), robots, lateness = "1 hour"),
        "rocksdb_frontier", mode = "append")
      try {
        ms.addData(
          Streaming.UrlCand(1, ts("2024-01-01 10:00:00"), "HTTP://src0.Example.COM:80/data/pub/7"),
          Streaming.UrlCand(2, ts("2024-01-01 10:00:01"), "http://src0.example.com/data/./pub/7"))
        q.processAllAvailable()
        ms.addData(
          Streaming.UrlCand(3, ts("2024-01-01 10:05:00"), "http://src0.example.com:80/data/pub/7"),
          Streaming.UrlCand(4, ts("2024-01-01 10:05:01"), "http://src0.example.com/data/pub/8"))
        q.processAllAvailable()
        val ids = spark.sql("SELECT cand_id FROM rocksdb_frontier")
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(ids == Seq(1L, 4L),
          s"RocksDB-backed admission state must dedup aliases across batches: $ids")
      } finally q.stop()
    }
  }

  test("grouping-sets stats: batch-parity per batch, one source read, union state (§4 decision)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit}
    val dims = Seq("event_type", "user_id")
    val ms = MemoryStream[Event]
    val consolidated = Streaming.serveMemory(
      Streaming.statsMultiDim(ms.toDF(), dims), "stats_multi", mode = "complete")
    // the alternative physical choice: N independent per-dimension
    // streaming queries over an identically-fed source
    val msN = MemoryStream[Event]
    val independents = dims.map(d => Streaming.serveMemory(
      msN.toDF().groupBy(col(d).cast("string").as("dim_value"))
        .agg(count(lit(1)).as("n")), s"stats_ind_$d", mode = "complete"))
    try {
      val batch1 = (1 to 40).map(i =>
        ev(i, f"2024-01-01 10:${i % 50}%02d:00", if (i % 3 == 0) "click" else "purchase"))
      val batch2 = (41 to 60).map(i => ev(i, "2024-01-01 11:00:00", "view"))
      for (b <- Seq(batch1, batch2)) {
        ms.addData(b: _*); msN.addData(b: _*)
        consolidated.processAllAvailable()
        independents.foreach(_.processAllAvailable())
        for (d <- dims) {
          val got = spark.sql(s"SELECT dim_value, n FROM stats_multi WHERE dim = '$d'")
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val want = spark.sql(s"SELECT dim_value, n FROM stats_ind_$d")
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          assert(got == want, s"consolidated diverged from independent on dim $d")
        }
      }
      // the two measured axes behind the SURVEY §4 -> §8 verdict:
      // 1. source reads — the consolidated form reads each row once;
      //    N independents read the whole source N times
      val rows = (batch1.size + batch2.size).toLong
      val consIn = consolidated.recentProgress.map(_.numInputRows).sum
      val indepIn = independents.map(_.recentProgress.map(_.numInputRows).sum).sum
      assert(consIn == rows, s"consolidated must read the source once, got $consIn")
      assert(indepIn == rows * dims.size,
        s"independents re-read the source per query, got $indepIn")
      // 2. state — one store holding exactly the union of the N key
      //    sets (no blowup from consolidation), one checkpoint not N
      val consState = consolidated.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val indepState =
        independents.map(_.lastProgress.stateOperators.map(_.numRowsTotal).sum).sum
      assert(consState == indepState,
        s"consolidated state ($consState) must equal the union of per-dim states ($indepState)")
    } finally { consolidated.stop(); independents.foreach(_.stop()) }
  }

  test("first-seen upsert: duplicate event ids emitted once") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.serveMemory(
      Streaming.upsertLatest(ms.toDF(), "2 hours"), "upserted", mode = "append")
    try {
      ms.addData(ev(10, "2024-01-01 10:00:00"), ev(11, "2024-01-01 10:00:30"))
      q.processAllAvailable()
      ms.addData(ev(10, "2024-01-01 10:01:00"), ev(12, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM upserted").collect().map(_.getLong(0))
      assert(ids.sorted.sameElements(Array(10L, 11L, 12L)),
        s"duplicate id must appear once, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("upsert state is evicted once the watermark passes the 2 h horizon") {
    // the reference's 2 h TTL sweep (consumer.py:119-148): an id's
    // state lives until the watermark passes its event time + 2 h
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.serveMemory(
      Streaming.upsertLatest(ms.toDF(), "2 hours"), "upsert_evict", mode = "append")
    def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      ms.addData(ev(20, "2024-01-01 10:00:00"), ev(21, "2024-01-01 10:00:30"),
        ev(22, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      assert(stateRows == 3L)
      // 15:00 moves the watermark to 13:00, past 10:01 + 2 h; the next
      // batch evicts the three 10:00 ids and keeps the two new ones
      ms.addData(ev(23, "2024-01-01 15:00:00"))
      q.processAllAvailable()
      ms.addData(ev(24, "2024-01-01 15:00:10"), ev(23, "2024-01-01 15:00:00"))
      q.processAllAvailable()
      assert(stateRows == 2L, s"state must drop the ids behind the horizon, holds $stateRows rows")
      val ids = spark.sql("SELECT event_id FROM upsert_evict").collect().map(_.getLong(0))
      assert(ids.sorted.sameElements(Array(20L, 21L, 22L, 23L, 24L)), ids.mkString(","))
    } finally q.stop()
  }

  test("checkpointed query resumes with its aggregation state intact") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ms = MemoryStream[Event]
    val agg = Streaming.tumblingCounts(ms.toDF(), "1 minute", "10 minutes")
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long)]())
    def start() = agg.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          seen.add(r.getTimestamp(0).toString -> r.getLong(2)))
      }.start()
    val q1 = start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: offsets and window state must
    // be recovered (ST8 — the reference loses everything on crash)
    val q2 = start()
    try {
      ms.addData(ev(2, "2024-01-01 10:00:20"))
      q2.processAllAvailable()
      val latest = seen.toArray(Array.empty[(String, Long)])
        .filter(_._1 == "2024-01-01 10:00:00.0").map(_._2)
      assert(latest.nonEmpty && latest.last == 2,
        s"restored state + new event should count 2, got ${latest.mkString(",")}")
    } finally q2.stop()
  }

  test("idempotent batch sink: crash between sink write and commit replays without duplicates (ST8 delivery)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eo_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_eo_out").toString
    val ms = MemoryStream[Event]
    val writer = Streaming.idempotentParquetWriter(out)
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    // the crash window under test: the sink write has completed (data
    // is on disk) but the exception prevents the offset-log commit —
    // the worst spot for an append sink, which would double the batch
    def start(injectCrash: Boolean) = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        attempts.merge(batchId, 1, (a: Integer, b: Integer) => a + b)
        writer(batch, batchId)
        if (injectCrash && batchId == 1L && crashOnce.getAndSet(false))
          throw new RuntimeException("injected crash after write, before commit")
      }.start()
    val q1 = start(injectCrash = true)
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"))
      q1.processAllAvailable() // batch 0 commits cleanly
      ms.addData(ev(2, "2024-01-01 10:00:20"))
      intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
    } finally q1.stop()
    // restart from the same checkpoint: batch 1 must REPLAY (same
    // batchId — its offsets are logged but uncommitted) and the
    // overwrite must land on the same directory
    val q2 = start(injectCrash = false)
    try {
      q2.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:00:30"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(attempts.get(1L) >= 2, s"batch 1 should have executed twice, attempts=$attempts")
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"replayed batch must not duplicate rows, got $ids")
  }

  test("Kafka wire format round-trips the event schema exactly (S2/S3, broker-free)") {
    // The producer.py:46 / consumer.py:407 wire contract: JSON value
    // out, PERMISSIVE JSON in. kafkaSink and kafkaSource share these
    // two exprs, so this exercises the format without a broker.
    val events = Seq(
      Event(1L, ts("2024-01-01 10:00:10"), 3L, "click", 1.25),
      Event(2L, ts("2024-01-01 10:00:20"), 4L, "error", -0.5),
      Event(3L, ts("2024-01-02 23:59:59"), 5L, "purchase", 99.99)).toDF()
    val back = Streaming.wireDecode(Streaming.wireEncode(events))
    // names + types must round-trip; nullability legitimately widens
    // (JSON carries no non-null guarantee, so from_json is nullable)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
             events.schema.map(f => (f.name, f.dataType)),
      "decode must restore the schema's names and types")
    val orig = events.collect().map(_.toSeq).toSet
    val got = back.collect().map(_.toSeq).toSet
    assert(got == orig, s"wire round trip must be lossless: $got vs $orig")
    // corrupt wire bytes are skipped, not fatal (consumer.py:405-423)
    val withJunk = Streaming.wireEncode(events)
      .union(Seq("{not json", """{"event_id": null}""").toDF("value"))
    assert(Streaming.wireDecode(withJunk).count() == 3,
      "corrupt/null-id records must be skipped like the reference's try/except")
  }

  test("a micro-batch of many appended blocks decodes in at most one task per core (counted work)") {
    // a MemoryStream batch has one input partition per appended block;
    // wireDecode coalesces them to one task per core, so the stage's
    // fixed per-task cost is paid defaultParallelism times, not once
    // per block. Counted in tasks, not seconds.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    implicit val sqlCtx = spark.sqlContext
    val cores = spark.sparkContext.defaultParallelism
    val blocks = Seq.tabulate(3 * cores) { b =>
      Seq.tabulate(5) { i =>
        val id = b * 5 + i
        val minute = f"${id % 60}%02d"
        // one corrupt row, and one escaped event_type the kernel leaves
        // to from_json's evaluator
        val typ = if (i == 4) "a\\u0062" else "click"
        if (i == 3) "{not json"
        else s"""{"event_id":$id,"ts":"2024-01-01T10:$minute:00Z","user_id":${id % 7},"event_type":"$typ","value":$id.5}"""
      }
    }
    val ms = MemoryStream[String]
    blocks.foreach(ms.addData(_))
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        Option(job.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => job.stageInfos.foreach(s => stageTasks.add(id -> s.numTasks)))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = Streaming.serveMemory(Streaming.wireDecode(ms.toDF()), "wire_tasks", mode = "append")
    try {
      q.processAllAvailable()
      val served = spark.table("wire_tasks").orderBy("event_id").collect().toSeq
      val batch = Streaming.wireDecode(blocks.flatten.toDF("value")).orderBy("event_id").collect().toSeq
      assert(served.length == 3 * cores * 4 && served == batch,
        s"streamed decode differs from the batch decode:\n$served\nvs\n$batch")
      val deadline = System.nanoTime() + 10000000000L
      def ours = stageTasks.toArray(Array.empty[(String, Int)]).filter(_._1 == q.id.toString).map(_._2)
      while (ours.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ours.nonEmpty, "the listener saw no job of the query")
      assert(ours.max <= cores,
        s"${blocks.length} blocks ran ${ours.mkString(", ")} tasks per stage, more than $cores cores")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** The sink behind a served table: the `MemoryPlan` its view reads. */
  private def servedSink(name: String) =
    spark.table(name).queryExecution.analyzed.collectFirst {
      case p: org.apache.spark.sql.execution.streaming.sources.MemoryPlan => p.sink
    }.getOrElse(fail(s"$name is not a memory-sink view"))

  /** One wire message of the eco_stream generator's JSON shape. */
  private def wire(id: Long, t: String, typ: String): String =
    s"""{"event_id":$id,"ts":"${t}Z","user_id":${id % 7},"event_type":"$typ","value":$id.5}"""

  test("serveMemory serves what a format(\"memory\") sink serves after every micro-batch, in every output mode") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, lit, sum}
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("click", "view", "error")
    val batches: Seq[Seq[String]] = Seq(
      (1L to 60L).map(i => wire(i, f"2024-01-01T10:${i - 1}%02d:00", types((i % 3).toInt))),
      (61L to 70L).map(i => wire(i, f"2024-01-01T12:${i - 61}%02d:30", types((i % 3).toInt))),
      // an event 3 h behind the newest (beyond both legs' watermarks),
      // a redelivered message, a corrupt one, and four fresh events
      Seq(wire(71, "2024-01-01T09:00:00", "click"), wire(65, "2024-01-01T12:04:30", "error"), "{not json") ++
        (72L to 75L).map(i => wire(i, f"2024-01-01T12:${i - 60}%02d:10", types((i % 3).toInt))))
    val legs: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("par_win", "update", Streaming.tumblingCounts(_)),
      ("par_latest", "append", Streaming.upsertLatest(_)),
      ("par_dgim", "update", d => Streaming.dgimCounts(d).toDF()),
      ("par_types", "Complete", _.groupBy("event_type").agg(count(lit(1)).as("n"))))
    for ((name, mode, leg) <- legs) {
      val (served, reference) = (MemoryStream[String], MemoryStream[String])
      val q = Streaming.serveMemory(leg(Streaming.wireDecode(served.toDF())), name, mode)
      // the formulation serveMemory replaced: the memory sink's writer
      val r = leg(Streaming.wireDecode(reference.toDF()))
        .writeStream.format("memory").queryName(name + "_ref").outputMode(mode).start()
      try {
        for ((b, k) <- batches.zipWithIndex) {
          served.addData(b); reference.addData(b)
          q.processAllAvailable(); r.processAllAvailable()
          def rows(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
          val (got, want) = (rows(name), rows(name + "_ref"))
          assert(got.nonEmpty && got == want, s"$name ($mode) after batch $k:\n$got\nvs\n$want")
          assert(servedSink(name).latestBatchId == servedSink(name + "_ref").latestBatchId,
            s"$name ($mode) after batch $k: the two sinks hold different batch ids")
        }
      } finally { q.stop(); r.stop() }
    }
    // complete mode truncates: one row per event type, not one per batch;
    // with no watermark it counts every decoded event, the late one and
    // the redelivered copy too
    assert(spark.table("par_types").count() == 3)
    assert(spark.table("par_types").agg(sum("n")).head().getLong(0) == 76L)
    // the late event's window never reached the served counts
    assert(spark.sql("SELECT * FROM par_win WHERE wstart < timestamp'2024-01-01 10:00:00'").count() == 0)
    assert(spark.sql("SELECT DISTINCT event_id FROM par_latest").count() == 74L)
  }

  test("serveMemory: one ten-event batch of each eco_stream leg runs pinned jobs, stages and tasks (counted work)") {
    // after warm-up, each leg's ten-event data batch is one collect job
    // of a map stage (at most one task per core) and a state stage (one
    // task per shuffle partition); the legs with a watermark then run one
    // no-data batch that evicts state. Counted in jobs, stages, tasks,
    // batches and codegen compilations, not seconds.
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.DataFrame
    import java.util.concurrent.ConcurrentHashMap
    implicit val sqlCtx = spark.sqlContext
    val cores = spark.sparkContext.defaultParallelism
    val statePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val stageBatch = new ConcurrentHashMap[Int, (String, Long)]()
    // (query id, batch id) -> (jobs, task count of each completed stage)
    val work = scala.collection.mutable.Map.empty[(String, Long), (Int, Seq[Int])]
    val settled = ConcurrentHashMap.newKeySet[String]()
    val Batch = """(?s).*\nbatch = (\d+).*""".r
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        val p = Option(job.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        prop("spark.jobGroup.id").filter(_.startsWith("settle-")).foreach(settled.add)
        for (q <- prop("sql.streaming.queryId"); Batch(b) <- prop("spark.job.description")) {
          val k = (q, b.toLong)
          work.synchronized { val (j, t) = work.getOrElse(k, (0, Nil)); work(k) = (j + 1, t) }
          job.stageIds.foreach(stageBatch.put(_, k))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(stageBatch.get(s.stageInfo.stageId)).foreach { k =>
          work.synchronized { val (j, t) = work.getOrElse(k, (0, Nil)); work(k) = (j, t :+ s.stageInfo.numTasks) }
        }
    }
    // the listener bus delivers in order: once a later job's start is
    // seen, every earlier job's and stage's events have been too
    var settles = 0
    def settle(): Unit = {
      settles += 1
      val g = s"settle-$settles"
      spark.sparkContext.setJobGroup(g, g)
      try spark.sparkContext.parallelize(Seq(1), 1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!settled.contains(g) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(settled.contains(g), "listener bus did not settle")
    }
    val types = Seq("click", "view", "error")
    val history = (1L to 2000L).map(i => wire(i, f"2024-01-01T10:${(i - 1) / 60}%02d:${(i - 1) % 60}%02d", types((i % 3).toInt)))
    def ten(k: Int) = (1L to 10L).map(i => wire(3000L + 10 * k + i, f"2024-01-01T11:$k%02d:${i}%02d", types((i % 3).toInt)))
    spark.sparkContext.addSparkListener(listener)
    try {
      // (name, mode, leg, no-data batches after a data batch, compilations per data batch at most)
      val legs: Seq[(String, String, DataFrame => DataFrame, Long, Long)] = Seq(
        ("pin_win", "update", Streaming.tumblingCounts(_), 1L, 1L),
        ("pin_latest", "append", Streaming.upsertLatest(_), 1L, 1L),
        ("pin_dgim", "update", d => Streaming.dgimCounts(d).toDF(), 0L, 0L))
      for ((name, mode, leg, noData, compiles) <- legs) {
        val ms = MemoryStream[String]
        val q = Streaming.serveMemory(leg(Streaming.wireDecode(ms.toDF())), name, mode)
        try {
          ms.addData(history)
          q.processAllAvailable()
          (1 to 2).foreach { k => ms.addData(ten(k)); q.processAllAvailable() }
          val before = servedSink(name).latestBatchId.get
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          ms.addData(ten(3))
          q.processAllAvailable()
          val c1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          settle()
          val data = before + 1
          val (jobs, tasks) = work.synchronized(work.getOrElse((q.id.toString, data), (0, Nil)))
          val got = (jobs, tasks.size, tasks.sum,
            servedSink(name).latestBatchId.get - data)
          assert(got == ((1, 2, 1 + statePartitions, noData)),
            s"$name: (jobs, stages, tasks, no-data batches) of data batch $data were $got, stage tasks $tasks")
          assert(tasks.max == statePartitions && tasks.min <= cores, s"$name: stage tasks $tasks")
          assert(c1 - c0 <= compiles, s"$name: ${c1 - c0} compilations in one data batch and its no-data batches")
          val sink = q.lastProgress.sink
          assert(sink.description.startsWith("ForeachBatchSink") && sink.numOutputRows == -1L,
            s"$name: progress names sink ${sink.description} with ${sink.numOutputRows} output rows")
        } finally q.stop()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("wire decode equals a from_json-only decode row for row, in UTC and a non-UTC zone (property)") {
    // wireDecode runs graft_wire_decode and keeps from_json for the
    // rows the kernel rejects; every row must decode to exactly the
    // struct from_json alone gives (doubles compared by bits, ts by
    // micros) and the same rows must be dropped as corrupt
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.functions.{col, from_json, unix_micros}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def q(x: String) = "\"" + x + "\""
    def num(lo: Int, hi: Int): Gen[String] = for {
      n <- Gen.choose(lo, hi); first <- Gen.choose('1', '9'); rest <- Gen.listOfN(n - 1, Gen.numChar)
    } yield (first :: rest).mkString
    val idTok = Gen.frequency(
      6 -> Gen.choose(-100000L, 100000L).map(_.toString),
      1 -> Gen.oneOf("0", "-0"),
      2 -> num(18, 18).flatMap(d => Gen.oneOf(d, "-" + d)),
      2 -> num(19, 19).flatMap(d => Gen.oneOf(d, "-" + d)),
      1 -> Gen.oneOf(Long.MinValue.toString, "01", "1.0", "1e3", q("7"), "null", "true", "-", "+1"))
    val valueTok = Gen.frequency(
      4 -> Gen.choose(-1e6, 1e6).map(d => (math.round(d * 100) / 100.0).toString),
      3 -> org.scalacheck.Arbitrary.arbitrary[Double].map(_.toString),
      3 -> (for {
        neg <- Gen.oneOf("", "-"); ip <- Gen.oneOf(Gen.const("0"), num(1, 20))
        fp <- Gen.option(Gen.choose(1, 25).flatMap(Gen.listOfN(_, Gen.numChar)).map("." + _.mkString))
        ex <- Gen.option(for {
          e <- Gen.oneOf("e", "E"); sg <- Gen.oneOf("", "+", "-"); d <- Gen.choose(0, 400)
        } yield s"$e$sg$d")
      } yield neg + ip + fp.getOrElse("") + ex.getOrElse("")),
      2 -> Gen.oneOf("-0", "-0.0", "0", "0.0", "-0e0", "1e400", "-1e400", "1e-400", "4.9e-324",
        "2.2250738585072014E-308", "1.7976931348623157E308", "9007199254740993", "0.1",
        "123456789012345678", "1234567890123456789", "1.", ".5", "01.5", "1.5e", "-",
        q("1.5"), q("NaN"), "NaN", "Infinity", "null"))
    val typeTok = Gen.frequency(
      6 -> Gen.oneOf("click", "view", "purchase", "error", "login").map(q),
      2 -> Gen.oneOf(q(""), q("a\\\"b"), q("\\u0041"), q("caf\u00e9"), q("\u65e5\u672c"),
        q("tab\there"), q("a/b"), q("\u007f"), "42", "null", "\"open"))
    val tsTok = Gen.frequency(
      6 -> (for {
        y <- Gen.choose(0, 9999); mo <- Gen.choose(1, 12); d <- Gen.choose(1, 31)
        h <- Gen.frequency(20 -> Gen.choose(0, 23), 1 -> Gen.const(24))
        mi <- Gen.choose(0, 59); sec <- Gen.frequency(20 -> Gen.choose(0, 59), 1 -> Gen.const(60))
        sep <- Gen.frequency(10 -> Gen.const("T"), 1 -> Gen.const(" "))
        frac <- Gen.frequency(3 -> Gen.const(""), 3 -> Gen.const(".000"),
          2 -> Gen.choose(1, 9).flatMap(Gen.listOfN(_, Gen.numChar)).map("." + _.mkString), 1 -> Gen.const("."))
        zone <- Gen.frequency(6 -> Gen.const("Z"), 2 -> Gen.const(""), 1 -> Gen.const("+0530"),
          4 -> (for {
            sg <- Gen.oneOf("+", "-"); oh <- Gen.choose(0, 19); om <- Gen.oneOf(0, 30, 45, 59, 60)
          } yield f"$sg$oh%02d:$om%02d"), 1 -> Gen.const("-07:52:58"))
      } yield q(f"$y%04d-$mo%02d-$d%02d$sep$h%02d:$mi%02d:$sec%02d$frac$zone")),
      2 -> Gen.oneOf("1900-02-29", "2000-02-29", "2100-02-29", "2400-02-29", "2023-02-29", "2024-02-29",
        "0000-02-29", "2024-04-31", "2024-12-31", "1582-10-10", "1969-12-31").flatMap(d =>
        Gen.oneOf("T00:00:00Z", "T23:59:59.999999Z", "T12:00:00.5+14:00", "T00:00:00-12:00").map(t => q(d + t))),
      1 -> Gen.choose(0, 9999).map(y => q(f"$y%04d-06-15")),
      1 -> Gen.choose(0L, 4000000000L).map(_.toString),
      1 -> Gen.oneOf("null", q(""), q("garbage"), "1.5"))
    val keys = Streaming.eventSchema.fieldNames.toSeq
    val spaced = Gen.frequency(4 -> Gen.const(""), 3 -> Gen.const(" "), 1 -> Gen.oneOf("  ", "\n", "\t", "\r\n"))
    val objGen = for {
      toks <- Gen.sequence[List[String], String](List(idTok, tsTok, idTok, typeTok, valueTok))
      order <- Gen.oneOf(keys.indices.permutations.toSeq)
      fields = order.map(i => (q(keys(i)), toks(i)))
      edit <- Gen.frequency(
        12 -> Gen.const((f: Seq[(String, String)]) => f),
        1 -> Gen.const((f: Seq[(String, String)]) => f :+ f.head),
        1 -> Gen.const((f: Seq[(String, String)]) => f.tail),
        1 -> Gen.const((f: Seq[(String, String)]) => f :+ (q("props") -> "{\"k\": 1}")),
        1 -> Gen.const((f: Seq[(String, String)]) => (f.head._1 -> "null") +: f.tail))
      a <- spaced; b <- spaced; c <- spaced
      body = edit(fields).map { case (k, v) => s"$k$a:$b$v" }.mkString("{" + c, s"$a,$b", c + "}")
      cut <- Gen.frequency(12 -> Gen.const(body.length), 1 -> Gen.choose(0, body.length))
      tail <- Gen.frequency(12 -> Gen.const(""), 1 -> Gen.oneOf(" ", "x", "}", ",{}"))
    } yield body.take(cut) + tail
    val wireGen = Gen.frequency(40 -> objGen, 1 -> Gen.oneOf("", null, "{}", "[]", "corrupt\u0000"))
    // wireEncode output of events with extreme ids, values and times
    val eventGen = for {
      id <- Gen.oneOf(Gen.choose(-1000L, 1000L), Gen.choose(Long.MinValue, Long.MaxValue))
      us <- Gen.choose(-62135596800000000L, 253402300799999999L)
      typ <- Gen.oneOf("click", "error", "", "caf\u00e9", "q\"uote", "new\nline")
      v <- Gen.oneOf(Gen.choose(-1e3, 1e3), org.scalacheck.Arbitrary.arbitrary[Double],
        Gen.oneOf(-0.0, 0.0, 1e22, 1e23, 5e-324, Double.NaN, Double.PositiveInfinity))
    } yield (id, us, id / 3, typ, v)

    def canon(events: DataFrame): Array[Row] =
      events.select(col("idx"), col("e").isNull, col("e.event_id"), unix_micros(col("e.ts")),
        col("e.user_id"), col("e.event_type"), col("e.value")).collect().sortBy(_.getInt(0))
    def same(a: Row, b: Row): Boolean = (0 until 7).forall { i =>
      (a.isNullAt(i), b.isNullAt(i)) match {
        case (true, true) => true
        case (false, false) if i == 6 => java.lang.Double.doubleToRawLongBits(a.getDouble(i)) ==
          java.lang.Double.doubleToRawLongBits(b.getDouble(i)) || (a.getDouble(i).isNaN && b.getDouble(i).isNaN)
        case (false, false) => a.get(i) == b.get(i)
        case _ => false
      }
    }
    def compare(session: SparkSession, values: Seq[String]): Unit = {
      import session.implicits._
      val in = values.zipWithIndex.toDF("value", "idx")
      val want = canon(in.select(col("idx"), from_json(col("value"), Streaming.eventSchema).as("e")))
      // a local frame folds its projection at planning (interpreted
      // eval); a repartitioned one runs it in generated code
      for (wire <- Seq(in, in.repartition(3))) {
        val got = canon(wire.select(col("idx"), Streaming.wireEvent(session, col("value")).as("e")))
        assert(got.length == want.length)
        for ((g, w) <- got.zip(want))
          assert(same(g, w), s"row ${values(g.getInt(0))} decoded to $g, from_json gives $w")
        assert(Streaming.wireDecode(wire).count() == want.count(r => !r.isNullAt(2)))
      }
    }
    for (zone <- Seq("UTC", "America/St_Johns")) withClue(s"$zone: ") {
      val session = spark.newSession()
      session.conf.set("spark.sql.session.timeZone", zone)
      import session.implicits._
      val props = Prop.forAllNoShrink(Gen.listOfN(400, wireGen), Gen.listOfN(100, eventGen)) { (raw, evs) =>
        val encoded = Streaming.wireEncode(evs.toDF("event_id", "us", "user_id", "event_type", "value")
          .select(col("event_id"), org.apache.spark.sql.functions.timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type"), col("value"))).as[String].collect()
        compare(session, raw ++ encoded)
        true
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), props)
      assert(res.passed, res.status match {
        case SCTest.PropException(_, e, _) => e.getMessage
        case other => other.getClass.getSimpleName
      })
      // the kernel itself takes the reference producer's shape (json.dumps
      // spacing) and the engine's own encoding of present-day events
      val dumps = """{"event_id": 7, "ts": "2024-01-01T10:00:10.000Z", "user_id": 3, "event_type": "click", "value": 1.25}"""
      val modern = Streaming.wireEncode(Seq((1L, java.sql.Timestamp.valueOf("2024-03-10 12:34:56.789"), 2L, "view", -0.5),
          (2L, java.sql.Timestamp.valueOf("1999-12-31 23:59:59"), 3L, "error", 1e-7))
        .toDF("event_id", "ts", "user_id", "event_type", "value")).as[String].collect()
      val accepted = (dumps +: modern).toSeq.toDF("value")
        .select(graft.plans.Kernels("graft_wire_decode", col("value")).isNotNull).as[Boolean].collect()
      assert(accepted.forall(identity), s"kernel rejected ${(dumps +: modern).mkString(" ")}")
    }
    // the legacy time parser reads ".5" as 5 ms, so under it from_json
    // decodes every row
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    compare(legacy, Seq(".5", ".05", ".123", ".123456", "").map(f =>
      s"""{"event_id": 1, "ts": "2024-01-01T10:00:00${f}Z", "user_id": 2, "event_type": "x", "value": 1}"""))
  }

  test("Kafka E2E: sink -> broker -> source round-trip (gated on a live broker)") {
    // The live half of S2/S3 (consumer.py:358-399's actual Kafka
    // loop). The sandbox ships neither a broker nor the
    // spark-sql-kafka connector, so this test CANCELS (not fails)
    // unless both are present. To run it for real:
    //   1. start a broker, e.g. docker run -p 9092:9092 apache/kafka
    //   2. put spark-sql-kafka-0-10 + kafka-clients on the test
    //      classpath (they are not in /opt/spark/jars)
    //   3. GRAFT_KAFKA_BOOTSTRAP=localhost:9092 sbt test
    val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined, "GRAFT_KAFKA_BOOTSTRAP not set — skipping live Kafka E2E")
    assume(scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess,
      "spark-sql-kafka connector not on the classpath")
    val Array(host, port) = bootstrap.get.split(":")
    assume(scala.util.Try {
      val s = new java.net.Socket()
      s.connect(new java.net.InetSocketAddress(host, port.toInt), 2000)
      s.close()
    }.isSuccess, s"no broker reachable at ${bootstrap.get}")

    implicit val sqlCtx = spark.sqlContext
    val topic = s"graft_e2e_${System.currentTimeMillis()}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kafka_ckpt").toString
    val ms = MemoryStream[Event]
    val producer = Streaming.kafkaSink(ms.toDF(), bootstrap.get, topic, ckpt).start()
    val consumer = Streaming.kafkaSource(spark, bootstrap.get, topic)
      .writeStream.format("memory").queryName("kafka_e2e").outputMode("append").start()
    try {
      val sent = Seq(
        Event(1L, ts("2024-01-01 10:00:10"), 3L, "click", 1.25),
        Event(2L, ts("2024-01-01 10:00:20"), 4L, "error", -0.5))
      ms.addData(sent: _*)
      producer.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var got = Array.empty[org.apache.spark.sql.Row]
      while (got.length < sent.length && System.currentTimeMillis() < deadline) {
        consumer.processAllAvailable()
        got = spark.sql("SELECT * FROM kafka_e2e").collect()
        if (got.length < sent.length) Thread.sleep(250)
      }
      assert(got.map(_.getLong(0)).sorted.toSeq == sent.map(_.event_id).sorted,
        s"round-tripped ids ${got.map(_.getLong(0)).mkString(",")}")
    } finally { producer.stop(); consumer.stop() }
  }

  test("Bloom sketch builds incrementally inside a windowed streaming aggregation (A8 streaming leg)") {
    // The mergeable-buffer claim under incremental execution: the
    // same BloomAgg the batch path uses (Sketches.bloomMembers) runs
    // as a stateful streaming aggregation — each micro-batch's
    // partial sketch must MERGE into the stored window state, not
    // replace it. Complete mode keeps the memory table equal to the
    // current state, so the probe below sees the merged filters.
    import org.apache.spark.sql.{functions => F}
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val bloomUdaf = F.udaf(
      new graft.functions.SketchAggs.BloomAgg(expectedItems = 256, fpp = 0.03),
      org.apache.spark.sql.Encoders.STRING)
    val agg = ms.toDF()
      .groupBy(F.window($"ts", "1 minute").as("w"))
      .agg(bloomUdaf(F.concat_ws("_", $"event_type", $"user_id")).as("bf"))
      .select($"w.start".as("wstart"), $"bf")
    val q = Streaming.serveMemory(agg, "win_blooms", mode = "complete")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"))
      q.processAllAvailable()
      // a later batch adds a key to the SAME window (merge, not
      // reset) and opens a second window
      ms.addData(ev(3, "2024-01-01 10:00:30"), ev(4, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      val blooms = spark.sql("SELECT wstart, bf FROM win_blooms").collect()
        .map(r => r.getTimestamp(0).toString ->
          graft.functions.SketchAggs.deserializeBloom(r.getAs[Array[Byte]](1)))
        .toMap
      assert(blooms.keySet ==
        Set("2024-01-01 10:00:00.0", "2024-01-01 10:01:00.0"))
      val w0 = blooms("2024-01-01 10:00:00.0")
      // users are id % 7; keys from BOTH batches must be present in
      // the first window's filter — no false negatives across the
      // incremental merge
      for (u <- Seq(1, 2, 3))
        assert(w0.mightContainString(s"click_$u"),
          s"click_$u lost across micro-batch merge")
      assert(blooms("2024-01-01 10:01:00.0").mightContainString("click_4"))
      // and the filters are real sketches, not degenerate all-true
      // bitsets: absent keys hit at ~fpp, far below half
      val absentHits = (100 to 299).count(i => w0.mightContainString(s"click_$i"))
      assert(absentHits < 40, s"$absentHits/200 absent keys hit — filter degenerate")
    } finally q.stop()
  }

  test("stateful DGIM via mapGroupsWithState: sketch survives micro-batches (A9 streaming leg)") {
    // the state store holds only the O(log² W) sketch buckets per
    // key; the cross-batch check below fails if the sketch is ever
    // rebuilt from scratch instead of restored
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.dgimCounts(ms.toDF(), windowSec = 3600L)
      .writeStream.format("memory").queryName("dgim_stream")
      .outputMode("update").start()
    def errAt(id: Long, minute: Long) =
      Event(id, new Timestamp(ts("2024-01-01 10:00:00").getTime + minute * 60000L),
        id % 7, "error", 1.0)
    try {
      // batch 1: one error per minute for the first hour
      ms.addData((0L until 60L).map(m => errAt(m, m)): _*)
      q.processAllAvailable()
      // batch 2: minutes 60..89 — the trailing hour now spans BOTH
      // batches (minutes 29..89 inclusive = 61 exact ones)
      ms.addData((60L until 90L).map(m => errAt(m, m)): _*)
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT last_ts, est_errors_1h, n_buckets FROM dgim_stream").collect()
      val latest = rows.maxBy(_.getLong(0))
      val exact = 61L
      assert(math.abs(latest.getLong(1) - exact) <= 0.5 * exact,
        s"streaming DGIM ${latest.getLong(1)} vs exact $exact breaches the 50% bound")
      // > 30 is impossible unless batch-1 bits survived in state
      assert(latest.getLong(1) > 30, "sketch state lost between micro-batches")
      assert(latest.getInt(2) <= 26,
        s"bucket count ${latest.getInt(2)} not O(log² W)")
    } finally q.stop()
  }

  test("stateful DGIM TTL: an idle key's state is evicted, a revived key restarts empty") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    // tiny processing-time TTL so the eviction fires between batches.
    // NOTE no processAllAvailable here: with ProcessingTimeTimeout
    // the engine schedules its own timer-driven batches, so "all
    // available" never settles — the sink is polled with a deadline
    // instead, which is also the honest way to observe an eviction
    // that happens on the engine's clock, not the data's
    val q = Streaming.dgimCounts(ms.toDF(), windowSec = 3600L,
      ttl = Some(scala.concurrent.duration.Duration(200, "ms")))
      .writeStream.format("memory").queryName("dgim_ttl")
      .outputMode("update").start()
    def at(id: Long, typ: String, minute: Long) =
      Event(id, new Timestamp(ts("2024-01-01 10:00:00").getTime + minute * 60000L),
        id % 7, typ, 1.0)
    def awaitRows(what: String)(sql: String): Array[org.apache.spark.sql.Row] = {
      val deadline = System.currentTimeMillis() + 30000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        rows = spark.sql(sql).collect()
        if (rows.isEmpty) Thread.sleep(100)
      }
      assert(rows.nonEmpty, s"timed out waiting for $what (${q.exception})")
      rows
    }
    try {
      // batch 1: 20 errors -> key "error" holds a live sketch
      ms.addData((0L until 20L).map(m => at(m, "error", m)): _*)
      awaitRows("live sketch")(
        "SELECT * FROM dgim_ttl WHERE event_type = 'error' AND n_buckets > 0")
      // idle past the TTL: the engine's timer-driven batch evicts the
      // key and emits the tombstone
      val tomb = awaitRows("eviction tombstone")(
        "SELECT * FROM dgim_ttl WHERE event_type = 'error' AND n_buckets = 0")
      assert(tomb.head.getLong(1) == -1L, "tombstone must carry last_ts = -1")
      // revival: the key must rebuild from an EMPTY sketch — 3 fresh
      // errors estimate ~3, not ~23 (state resurrection). The live
      // batch-1 rows are excluded by their minute-31 timestamp.
      ms.addData((200L until 203L).map(m => at(m, "error", 31L)): _*)
      val revived = awaitRows("revived key")(
        "SELECT est_errors_1h FROM dgim_ttl WHERE event_type = 'error' " +
          "AND n_buckets > 0 AND last_ts = " + (ts("2024-01-01 10:00:00").getTime / 1000 + 31 * 60))
      assert(revived.map(_.getLong(0)).min <= 5,
        s"revived key estimates ${revived.mkString(",")} — old state resurrected?")
    } finally q.stop()
  }

  test("dgimCounts equals a per-row Dgim replay over random splits; the shuffle carries combined records") {
    // the map side folds each partition's rows to one record per
    // (event_type, second); the replay must still be bit-identical to
    // feeding every row, with windows that expire between batches,
    // seconds shared by many rows and blocks split at random.
    // Each logical batch must reach the query as ONE micro-batch: its
    // blocks are added while the query is stopped, then the query
    // restarts from the same checkpoint (its DGIM state carries over)
    // and runs what is available, so no trigger can fire between two
    // blocks and split the batch
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    val windowSec = 120L
    val t0 = ts("2024-01-01 10:00:00").getTime
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_dgim_diff_$seed").toString
      val got = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, Long, Long, Int)]())
      val batchIds = new java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]()
      def start() = Streaming.dgimCounts(ms.toDF(), windowSec = windowSec).toDF()
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batchIds.add(batchId)
          batch.select("event_type", "last_ts", "est_errors_1h", "n_buckets").collect()
            .foreach(r => got.add((r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))))
        }.start()
      val replay = scala.collection.mutable.Map.empty[String, Dgim]
      val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
      var id = 0L
      var nPairs, nRows = 0L
      for (b <- 0 until 5) {
        // rows in 30 s of each 80 s step against a 120 s window:
        // seconds repeat, and each batch expires buckets the
        // previous ones left
        val batch = Seq.fill(100 + rnd.nextInt(200)) {
          id += 1
          val typ = Seq("error", "error", "click", "view")(rnd.nextInt(4))
          Event(id, new Timestamp(t0 + (b * 80L + rnd.nextInt(30)) * 1000L + rnd.nextInt(1000)),
            id % 7, typ, 1.0)
        }
        val cuts = (Seq.fill(rnd.nextInt(4))(rnd.nextInt(batch.size)) :+ 0 :+ batch.size).distinct.sorted
        val blocks = cuts.zip(cuts.tail).map { case (a, z) => batch.slice(a, z) }
        blocks.foreach(blk => ms.addData(blk: _*))
        val q = start()
        val shuffled =
          try {
            q.processAllAvailable()
            q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
              .executedPlan.collect { case x: ShuffleExchangeExec => x.metrics("shuffleRecordsWritten").value }
          } finally q.stop()
        val pairs = blocks.map(_.map(e => (e.event_type, e.ts.getTime / 1000)).distinct.size).sum
        assert(shuffled.size == 1, s"expected one exchange, got ${shuffled.size}")
        assert(shuffled.head <= pairs,
          s"seed $seed batch $b: shuffled ${shuffled.head} records, $pairs (type, second) pairs")
        nPairs += pairs
        nRows += batch.size

        batch.groupBy(_.event_type).foreach { case (typ, rows) =>
          val d = replay.getOrElseUpdate(typ, new Dgim(windowSec))
          val secs = rows.map(_.ts.getTime / 1000).sorted
          secs.foreach(t => d.addBit(t, if (typ == "error") 1 else 0))
          expected += ((typ, secs.last, d.estimate(secs.last), d.bucketCount))
        }
      }
      val all = got.toArray(Array.empty[(String, Long, Long, Int)]).toSeq
      assert(batchIds.size == 5 && batchIds.last == 4L,
        s"seed $seed: expected micro-batches 0-4, one per logical batch, ran $batchIds")
      assert(all.sorted == expected.toSeq.sorted, s"seed $seed: streaming DGIM diverged from the per-row replay")
      assert(expected.exists(r => r._1 == "error" && r._3 > 0))
      // the bound above is below one record per row only if seconds repeat
      assert(nPairs < nRows, s"seed $seed: $nPairs (type, second) pairs in $nRows rows")
    }
  }

  test("dgimCounts compiles no code after its first batches (a binary state column)") {
    // an array state (Seq[(Long, Long)], Array[Long]) deserializes
    // through MapObjects, whose lambda variable gets a fresh id in every
    // batch's planning, so every batch compiled a new projection; a
    // binary state plans the same code each batch and hits the cache
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val t0 = ts("2024-01-01 10:00:00").getTime
    val ms = MemoryStream[Event]
    val q = Streaming.dgimCounts(ms.toDF(), windowSec = 120L)
      .writeStream.format("memory").queryName("dgim_codegen")
      .outputMode("update").start()
    try {
      val compiled = (0 until 6).map { b =>
        ms.addData((0 until 50).map { i =>
          Event(b * 100L + i, new Timestamp(t0 + (b * 60L + i) * 1000L), i % 5L,
            Seq("error", "click", "view")(i % 3), 1.0)
        }: _*)
        q.processAllAvailable()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
      // batches 3-6 run the plan batches 1-2 compiled
      assert(compiled(5) == compiled(2), s"compilations after each batch: ${compiled.mkString(", ")}")
      assert(spark.table("dgim_codegen").count() > 0)
    } finally q.stop()
  }

  test("streaming as-of enrichment is event-time correct: late refs, ties, sealed-ref floor") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.asofEnrich(ms.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("asof_enrich")
      .outputMode("append").start()
    def at(id: Long, user: Long, t: String, typ: String, v: Double) =
      Event(id, ts(t), user, typ, v)
    def us(s: String) = ts(s).getTime * 1000L
    def rows() = spark.sql(
      "SELECT event_id, user_id, ts_us, click_value, asof_ts_us, asof_value FROM asof_enrich")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
    try {
      // batch 1: a purchase, then a click 5 min later; a ref-less
      // user's click. Nothing seals (wm = 10:10 - 1 h)
      ms.addData(
        at(10, 1, "2024-01-01 10:00:00", "purchase", 5.0),
        at(11, 1, "2024-01-01 10:05:00", "click", 1.0),
        at(20, 2, "2024-01-01 10:10:00", "click", 1.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "no probe may emit before its event time seals")
      // batch 2: LATE purchases at 10:02 — admissible (1 h lateness),
      // event-time EARLIER than the buffered click, including a same-
      // ts tie the max-event_id rule must break. An arrival-order
      // enrichment would miss these entirely.
      ms.addData(
        at(12, 1, "2024-01-01 10:02:00", "purchase", 7.0),
        at(13, 1, "2024-01-01 10:02:00", "purchase", 9.0))
      q.processAllAvailable()
      assert(rows().isEmpty)
      // batch 3: sentinel pushes the watermark to 11:00 — both probes
      // seal. Click 11 must answer with the LATE tie-winning ref
      // (10:02, id 13, 9.0), not the batch-1 ref; click 20 stays null
      ms.addData(at(90, 99, "2024-01-01 12:00:00", "purchase", 0.0))
      q.processAllAvailable()
      assert(rows() == Set(
        (11L, 1L, us("2024-01-01 10:05:00"), 1.0,
          Some(us("2024-01-01 10:02:00")), Some(9.0)),
        (20L, 2L, us("2024-01-01 10:10:00"), 1.0, None, None)),
        s"sealed probes wrong: ${rows()}")
      // batch 4: a much later click for user 1 — by now the 10:02
      // refs are compacted into the single sealed ref, which must
      // still answer as the floor
      ms.addData(at(14, 1, "2024-01-01 11:30:00", "click", 2.0))
      q.processAllAvailable()
      ms.addData(at(91, 99, "2024-01-01 13:30:00", "purchase", 0.0))
      q.processAllAvailable()
      assert(rows().contains(
        (14L, 1L, us("2024-01-01 11:30:00"), 2.0,
          Some(us("2024-01-01 10:02:00")), Some(9.0))),
        s"sealed-ref floor lost after compaction: ${rows()}")
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the batch as-of join over the same admitted rows") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.asofEnrich(ms.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("asof_parity")
      .outputMode("append").start()
    def at(id: Long, user: Long, t: String, typ: String, v: Double) =
      Event(id, ts(t), user, typ, v)
    // three users, interleaved clicks/purchases, out-of-order within
    // admissibility (≤ 30 min vs 1 h lateness), same-ts probe/ref
    // pairs (inclusive <= must match), plus a value with a 4-decimal
    // rounding tail
    val feed = Seq(
      Seq(at(1, 1, "2024-01-01 10:00:00", "purchase", 3.14159),
          at(2, 2, "2024-01-01 10:01:00", "click", 1.0),
          at(3, 1, "2024-01-01 10:02:00", "click", 2.71828)),
      Seq(at(4, 2, "2024-01-01 10:01:00", "purchase", 8.0), // same ts as its click
          at(5, 3, "2024-01-01 10:20:00", "click", 1.0),
          at(6, 1, "2024-01-01 09:55:00", "purchase", 4.0)), // late, event-time first
      Seq(at(7, 1, "2024-01-01 10:30:00", "click", 1.61803),
          at(8, 2, "2024-01-01 10:25:00", "purchase", 6.0),
          at(9, 2, "2024-01-01 10:40:00", "click", 5.0)))
    try {
      feed.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      ms.addData(at(90, 99, "2024-01-01 13:00:00", "purchase", 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_id, user_id, ts_us, click_value, asof_ts_us, asof_value FROM asof_parity")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      val batch = graft.operators.Joins.asofJoinOn(
        (feed.flatten :+ at(90, 99, "2024-01-01 13:00:00", "purchase", 0.0)).toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      assert(streamed == batch,
        s"streaming/batch divergence:\n  streamed $streamed\n  batch $batch")
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the batch join under arbitrary arrival order (property)") {
    implicit val sqlCtx = spark.sqlContext
    // lateness exceeding the event span makes every shuffled arrival
    // order admissible — the buffered-probe state machine must then
    // reproduce the batch as-of EXACTLY for any chunking, including
    // duplicate-ts refs and ref-less users. Seeded so failures replay.
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 2) {
      val events = (1 to 90).map { i =>
        val user = rnd.nextInt(4).toLong // user 3 gets no purchases
        val typ = if (user != 3L && rnd.nextBoolean()) "purchase" else "click"
        // 60 distinct seconds over 4 users → frequent ts collisions
        val t = ts("2024-01-01 08:00:00").getTime + rnd.nextInt(60) * 60000L
        Event(trial * 1000L + i, new Timestamp(t), user, typ, rnd.nextDouble() * 10)
      }
      val ms = MemoryStream[Event]
      val q = Streaming.asofEnrich(ms.toDF(), lateness = "6 hours")
        .writeStream.format("memory").queryName(s"prop_asof_$trial")
        .outputMode("append").start()
      try {
        rnd.shuffle(events).grouped(13).foreach { chunk =>
          ms.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // far-future sentinel seals every buffered probe
        ms.addData(Event(-1L, ts("2024-02-01 00:00:00"), -999L, "purchase", 0.0))
        q.processAllAvailable()
        def six(df: Array[org.apache.spark.sql.Row]) = df.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
        val got = six(spark.sql(
          s"SELECT event_id, user_id, ts_us, click_value, asof_ts_us, asof_value " +
            s"FROM prop_asof_$trial WHERE user_id <> -999").collect())
        val want = six(graft.operators.Joins.asofJoinOn(events.toDF()).collect())
        assert(got == want,
          s"trial $trial drifted: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
      } finally q.stop()
    }
  }

  test("tolerance-bounded streaming as-of equals the batch tolerance join under arbitrary arrival order (property)") {
    implicit val sqlCtx = spark.sqlContext
    // the unbounded property above, with a 2-min bound over minute-
    // granularity events: plenty of floor refs sit farther than the
    // bound, so the guard and the buffered-probe machine must agree
    // with the batch tolerance leg for any chunking. Seeded so
    // failures replay.
    val rnd = new scala.util.Random(4321)
    val tolUs = 2L * 60 * 1000000
    for (trial <- 1 to 2) {
      val events = (1 to 90).map { i =>
        val user = rnd.nextInt(4).toLong
        val typ = if (user != 3L && rnd.nextBoolean()) "purchase" else "click"
        val t = ts("2024-01-01 08:00:00").getTime + rnd.nextInt(60) * 60000L
        Event(trial * 1000L + i, new Timestamp(t), user, typ, rnd.nextDouble() * 10)
      }
      val ms = MemoryStream[Event]
      val q = Streaming.asofEnrich(ms.toDF(), lateness = "6 hours",
          tolerance = Some(tolUs))
        .writeStream.format("memory").queryName(s"prop_asof_tol_$trial")
        .outputMode("append").start()
      try {
        rnd.shuffle(events).grouped(13).foreach { chunk =>
          ms.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        ms.addData(Event(-1L, ts("2024-02-01 00:00:00"), -999L, "purchase", 0.0))
        q.processAllAvailable()
        def six(df: Array[org.apache.spark.sql.Row]) = df.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
        val got = six(spark.sql(
          s"SELECT event_id, user_id, ts_us, click_value, asof_ts_us, asof_value " +
            s"FROM prop_asof_tol_$trial WHERE user_id <> -999").collect())
        val want = six(graft.operators.Joins.asofJoinOn(events.toDF(),
          tolerance = Some(tolUs)).collect())
        assert(got == want,
          s"trial $trial drifted: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
        // the bound must really cut: fewer matches than the unbounded
        // join but not zero, or the trial degenerated
        val unbounded = six(graft.operators.Joins.asofJoinOn(events.toDF()).collect())
        assert(want.exists(_._5.nonEmpty) &&
          want.count(_._5.nonEmpty) < unbounded.count(_._5.nonEmpty),
          s"trial $trial: tolerance cut nothing")
      } finally q.stop()
    }
  }

  test("tolerance-bounded streaming as-of: stale refs no match, idle state evicted to zero") {
    // q18's bound on the streaming leg: (1) a probe farther than
    // `tolerance` from its floor ref emits None, matching the batch
    // tolerance leg; (2) eviction is EXACT — once the watermark
    // outruns ref.ts + tolerance, the compacted sealed ref is
    // dropped, so an idle user holds zero state rows (unbounded
    // as-of would pin one row per user forever)
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val tolUs = 10L * 60 * 1000000 // 10 min
    val q = Streaming.asofEnrich(ms.toDF(), lateness = "0 seconds",
        tolerance = Some(tolUs))
      .writeStream.format("memory").queryName("asof_tol")
      .outputMode("append").start()
    def at(id: Long, user: Long, t: String, typ: String, v: Double) =
      Event(id, ts(t), user, typ, v)
    def us(s: String) = ts(s).getTime * 1000L
    try {
      // u5: ref at 10:00; a click 5 min later (inside the bound) and
      // a click 1 h later (outside — must emit None, though the ref
      // is still the floor an unbounded as-of would attach)
      ms.addData(
        at(10, 5, "2024-01-01 10:00:00", "purchase", 5.0),
        at(11, 5, "2024-01-01 10:05:00", "click", 1.0),
        at(12, 5, "2024-01-01 11:00:00", "click", 2.0))
      q.processAllAvailable()
      // sentinel ladder: each rung advances the watermark, sealing
      // probes and aging refs past the bound
      for (t <- Seq("13:00:00", "14:00:00", "16:00:00", "18:00:00")) {
        ms.addData(at(900 + t.take(2).toLong, 99, s"2024-01-01 $t", "purchase", 0.0))
        q.processAllAvailable()
      }
      val got = spark.sql(
        "SELECT event_id, asof_ts_us, asof_value FROM asof_tol WHERE user_id = 5")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(got == Set(
        (11L, Some(us("2024-01-01 10:00:00")), Some(5.0)),
        (12L, None, None)),
        s"tolerance leg drifted: $got")
      // batch-leg parity on the same admitted rows
      import spark.implicits._
      val batch = graft.operators.Joins.asofJoinOn(
        Seq(
          (10L, ts("2024-01-01 10:00:00"), 5L, "purchase", 5.0),
          (11L, ts("2024-01-01 10:05:00"), 5L, "click", 1.0),
          (12L, ts("2024-01-01 11:00:00"), 5L, "click", 2.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value"),
        tolerance = Some(tolUs))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
      assert(batch == got, s"streaming/batch tolerance legs disagree: $batch vs $got")
      // eviction: u5 emptied (probes emitted, ref aged out) and every
      // aged sentinel ref dropped — the ONLY live row is the newest
      // sentinel's own still-open ref. Unbounded as-of state here
      // would be >= 2 (u5's pinned ref + u99's)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 1L,
        s"expected exact eviction down to the one open sentinel ref, state holds $stateRows rows")
    } finally q.stop()
  }

  test("streaming near-dup suspects equal the batch candidate set — kernels on AND off") {
    // the near-dup family's online leg: a doc stream probed against a
    // static corpus index. The suspect set must EQUAL the batch band
    // arithmetic's candidate set over the same docs (same sigs, same
    // band hashes) — including under kernels off, where the signature
    // is `Llm.minhashSig`'s SQL form.
    import graft.operators.Llm
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t1 = (1 to 12).map(i => s"t$i").mkString(" ")
    def tailEdit(last: String) = ((1 to 11).map(i => s"t$i") :+ last).mkString(" ")
    val idx = Llm.buildNearDupIndex(Seq(
      (1L, t1), (2L, "wholly different reference corpus text body here"),
      (3L, tailEdit("y12"))).toDF("doc_id", "text"))
    val streamDocs = Seq(
      Streaming.Doc(10L, ts("2024-01-01 10:00:00"), t1.replace(" ", "  ")), // exact dup
      Streaming.Doc(11L, ts("2024-01-01 10:01:00"), tailEdit("x12")),       // near variant
      Streaming.Doc(12L, ts("2024-01-01 10:02:00"),
        "completely unrelated streaming content nothing shared at all"),
      Streaming.Doc(13L, ts("2024-01-01 10:03:00"), "hi there"))            // short: no sig
    // expected = the batch band collision set (no key inequality: a
    // doc IS a suspect of its own exact group)
    val probeGroups = Llm.buildNearDupIndex(
      streamDocs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
    val expected = Llm.bandsOf(idx.groups).select(col("key").as("ik"), col("band"), col("band_hash"))
      .join(Llm.bandsOf(probeGroups.groups).select(col("key").as("pk"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("pk"), col("ik")).distinct()
      .join(probeGroups.members.withColumnRenamed("text_hash", "pk"), Seq("pk"))
      .select(col("doc_id"), col("ik")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expected.exists(_._1 == 10L) && expected.exists(_._1 == 11L) &&
      !expected.exists(p => p._1 == 12L || p._1 == 13L),
      s"fixture degenerated: $expected")
    def runStream(name: String): Set[(Long, String)] = {
      val ms = MemoryStream[Streaming.Doc]
      val q = Streaming.nearDupSuspects(ms.toDF(), idx, lateness = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(streamDocs: _*)
        q.processAllAvailable()
        spark.sql(s"SELECT doc_id, suspect_of FROM $name").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      } finally q.stop()
    }
    assert(runStream("ndx_suspects_on") == expected,
      "kernel-path streaming suspects diverged from batch candidates")
    withConf("spark.graft.kernels.enabled" -> "false") {
      assert(runStream("ndx_suspects_off") == expected,
        "kernels-off suspects diverged — minhashSig SQL form not bit-equal")
    }
  }

  test("streaming dup-span suspects equal the batch fingerprint join — kernels on AND off") {
    // winnowing's online leg: arriving docs probed against a static
    // corpus fingerprint index. The suspect set must EQUAL the batch
    // h-join over the same docs — including under the no-kernel
    // per-row HOF fallback (window functions don't exist on streams),
    // which pins rowWinnowSql bit-equal to the kernel.
    import graft.operators.Llm
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def noise(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span = noise(60)
    val corpus = Seq(
      (1L, s"${noise(30)} $span ${noise(20)}"),
      (2L, noise(80)),
      (3L, noise(50))).toDF("doc_id", "text")
    val idx = Llm.buildWinnowIndex(corpus)
    val streamDocs = Seq(
      Streaming.Doc(10L, ts("2024-01-01 10:00:00"), s"$span ${noise(25)}"), // shares the span
      Streaming.Doc(11L, ts("2024-01-01 10:01:00"), noise(70)),             // unrelated
      Streaming.Doc(12L, ts("2024-01-01 10:02:00"), "short"))               // below 23 chars
    val expected = Llm.winnowSelectedOn(
        streamDocs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"))
      .join(idx, Seq("h"))
      .filter(col("doc_id") =!= col("suspect_of"))
      .select(col("doc_id"), col("suspect_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // SWA guarantee: the 60-char planted span MUST collide; noise docs
    // share nothing
    assert(expected.contains((10L, 1L)) && expected.forall(_._1 == 10L),
      s"fixture degenerated: $expected")
    def runStream(name: String): Set[(Long, Long)] = {
      val ms = MemoryStream[Streaming.Doc]
      val q = Streaming.dupSpanSuspects(ms.toDF(), idx, lateness = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(streamDocs: _*)
        q.processAllAvailable()
        spark.sql(s"SELECT doc_id, suspect_of FROM $name").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    assert(runStream("winnow_suspects_on") == expected,
      "kernel-path streaming dup-span suspects diverged from the batch join")
    withConf("spark.graft.kernels.enabled" -> "false") {
      assert(runStream("winnow_suspects_off") == expected,
        "fallback rowWinnowSql suspects diverged — per-row winnow not bit-equal")
    }
  }

  test("near-dup suspects index refresh: stop, rebuild, restart swaps the static side; dedup state carries over") {
    // The operational leg of nearDupSuspects a real crawl cadence
    // needs: the corpus index is a STATIC snapshot, so a refresh is
    // stop-query → rebuild/reload index → restart from the SAME
    // checkpoint with the new index. Stream-static joins are
    // stateless (the static side is re-resolved at restart), so the
    // swap is legal; the only stateful operator is the
    // (doc_id, suspect_of) collision dedup, whose state carries over
    // — a pair already emitted under generation A must NOT re-emit
    // under generation B. Docs consumed before the swap are NOT
    // re-evaluated against the new index (their offsets are
    // committed): the refresh applies from the swap point forward,
    // the batch compactor owns the old range — the TESTDATA.md
    // runbook states exactly that contract.
    import graft.operators.Llm
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val tA = (1 to 12).map(i => s"t$i").mkString(" ")
    val tB = (1 to 12).map(i => s"u$i").mkString(" ")
    val idxA = Llm.buildNearDupIndex(Seq((1L, tA)).toDF("doc_id", "text"))
    val idxB = Llm.buildNearDupIndex(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"))
    def keyOf(idx: Llm.NearDupIndex, docId: Long): String =
      idx.members.filter(col("doc_id") === docId).select("text_hash").head().getString(0)
    val keyA = keyOf(idxA, 1L)
    val keyB = keyOf(idxB, 2L)
    assert(keyOf(idxB, 1L) == keyA, "same text must key the same group in both generations")

    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndx_refresh_ckpt").toString
    val ms = MemoryStream[Streaming.Doc]
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
    def start(idx: Llm.NearDupIndex) =
      Streaming.nearDupSuspects(ms.toDF(), idx, lateness = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id", "suspect_of").collect()
            .foreach(r => seen.add((r.getLong(0), r.getString(1))))
        }.start()

    // generation A: exact copies collide deterministically (identical
    // signature ⇒ identical band hashes); tB is unknown to idxA
    val q1 = start(idxA)
    try {
      ms.addData(
        Streaming.Doc(10L, ts("2024-01-01 10:00:00"), tA.replace(" ", "  ")),
        Streaming.Doc(11L, ts("2024-01-01 10:01:00"), tB))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toArray(Array.empty[(Long, String)]).toSet == Set((10L, keyA)),
      "generation A must flag only the tA copy")

    // swap: restart from the same checkpoint with generation B
    val q2 = start(idxB)
    try {
      ms.addData(
        Streaming.Doc(12L, ts("2024-01-01 10:02:00"), tB.replace(" ", "  ")), // new family hits
        Streaming.Doc(20L, ts("2024-01-01 10:03:00"), tA),                    // old family still hits
        Streaming.Doc(10L, ts("2024-01-01 10:04:00"), tA))                    // carried state suppresses
      q2.processAllAvailable()
    } finally q2.stop()
    val all = seen.toArray(Array.empty[(Long, String)]).toSet
    assert(all == Set((10L, keyA), (12L, keyB), (20L, keyA)),
      s"after swap: expected new-family + old-family hits, carried dedup, no retroactive re-eval — got $all")
  }

  test("ANN suspects index refresh: stop, rebuild, restart swaps the frozen model; no retroactive re-eval") {
    // The AnnIndex refresh runbook (TESTDATA.md), exercised: the
    // model snapshot (centroids + codebooks + codes) is frozen at
    // plan build, so a refresh is stop-query → rebuild/reload →
    // restart from the SAME checkpoint. annSuspects is entirely
    // STATELESS (a vector lives in exactly one cell), so unlike
    // nearDupSuspects there is no carried dedup state to verify —
    // the contract is: the stream RESUMES from committed offsets
    // (pre-swap queries are not re-evaluated against the new index),
    // and post-swap batches score against generation B exactly as a
    // batch probe of B would.
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.sf
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    // generation A indexes half the corpus, generation B all of it —
    // same build path, different codes AND different trained model
    val corpusA = all.filter(col("vec_id") >= 10 && col("vec_id") % 2 === 0)
    val corpusB = all.filter(col("vec_id") >= 10)
    val idxA = graft.operators.Llm.buildAnnIndex(spark, corpusA)
    val idxB = graft.operators.Llm.buildAnnIndex(spark, corpusB)
    val qvecs = all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, ts(s"2024-01-01 10:00:${10 + id}"), v) }.toSeq
    val (batch1, batch2) = qvecs.splitAt(5)
    def batchWant(rows: Seq[(Long, java.sql.Timestamp, Seq[Double])],
        idx: graft.operators.Llm.AnnIndex): Set[(Long, Long, Double)] =
      Streaming.annSuspects(rows.toDF("vec_id", "ts", "v"), idx, minSim = 0.15)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val wantA1 = batchWant(batch1, idxA)
    val wantB2 = batchWant(batch2, idxB)
    val wantB1 = batchWant(batch1, idxB)
    assert(wantA1.nonEmpty && wantB2.nonEmpty, "no candidates at minSim=0.15 — lower it")
    assert(wantA1 != wantB1, "generations must actually score batch 1 differently for the pin to bite")

    val ckpt = java.nio.file.Files.createTempDirectory("graft_annx_refresh_ckpt").toString
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Double)]())
    def start(idx: graft.operators.Llm.AnnIndex) =
      Streaming.annSuspects(ms.toDF().toDF("vec_id", "ts", "v"), idx, minSim = 0.15)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("probe_id", "vec_id", "simq").collect()
            .foreach(r => seen.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }.start()

    val q1 = start(idxA)
    try {
      ms.addData(batch1)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.toArray(Array.empty[(Long, Long, Double)]).toSet == wantA1,
      "generation A suspects must equal the batch probe of index A")

    val q2 = start(idxB)
    try {
      ms.addData(batch2)
      q2.processAllAvailable()
    } finally q2.stop()
    val after = seen.toArray(Array.empty[(Long, Long, Double)]).toSet
    assert(after == wantA1 ++ wantB2,
      s"after swap: batch 1 stays generation-A-scored (committed offsets, no re-eval), " +
        s"batch 2 scores against generation B — got ${after.size} vs expected ${(wantA1 ++ wantB2).size}")
  }

  test("streaming chunker equals the batch chunker per micro-batch (map-only lift)") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      5L -> (1 to 100).map(i => s"w$i").mkString(" "), // 4 windows at 32/8: ceil(68/24)+1
      6L -> (1 to 20).map(i => s"x$i").mkString(" "),  // single window
      7L -> (1 to 33).map(i => s"y$i").mkString(" "))  // boundary: 2 windows
    val ms = MemoryStream[(Long, String)]
    val stream = Streaming.chunkStream(
      ms.toDF().toDF("doc_id", "text"), chunkTokens = 32, overlap = 8)
    val q = Streaming.serveMemory(stream, "chunk_stream", mode = "append")
    try {
      ms.addData(texts.take(2))
      q.processAllAvailable()
      val afterB1 = spark.sql("select * from chunk_stream").count()
      ms.addData(texts.drop(2))
      q.processAllAvailable()
      val got = spark.sql("select doc_id, chunk_idx, n_chunk_tokens, chunk_text from chunk_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
      val want = graft.operators.Llm.chunkFrame(
        texts.toDF("doc_id", "text"), 32, 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
      assert(afterB1 > 0 && afterB1 < want.size, "chunks arrive incrementally")
      assert(got == want, "streaming chunks diverge from the batch formulation")
      assert(got.count(_._1 == 5L) == 4 && got.count(_._1 == 7L) == 2,
        "multi-window and boundary docs chunk as computed")
    } finally q.stop()
  }

  test("stream-maintained link index equals the batch build after N micro-batches, across a restart") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("graft_linkidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_linkidx_ckpt").toString
    try {
      // repeated cross-host links so the index carries real COUNTS,
      // not just distinct edges
      val pages = Seq(
        (1L, "http://a.example/p/1",
          "<a href=\"http://b.example/x\">1</a><a href=\"http://b.example/y\">2</a>"),
        (2L, "http://a.example/p/2",
          "<a href=\"http://b.example/z\">3</a><a href=\"http://c.example/w\">4</a>"),
        (3L, "http://b.example/p/3",
          "<a href=\"http://a.example/v\">5</a><a href=\"../self\">6</a>"),
        (4L, "http://c.example/p/4",
          "<a href=\"http://a.example/u\">7</a>"))
      val ms = MemoryStream[(Long, String, String)]
      def start() = Streaming.linkIndexSink(
        ms.toDF().toDF("page_id", "page_url", "page"), indexDir, ckpt)
      val q1 = start()
      try {
        ms.addData(pages.take(1)); q1.processAllAvailable()
        ms.addData(pages.slice(1, 2)); q1.processAllAvailable()
      } finally q1.stop()
      // restart from the same checkpoint — the remaining pages land in
      // new batch-id partitions, nothing double-counts
      val q2 = start()
      try {
        ms.addData(pages.drop(2)); q2.processAllAvailable()
      } finally q2.stop()
      val got = Streaming.linkIndexOf(spark, indexDir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = graft.operators.LinkGraph.buildLinkIndex(
        pages.toDF("page_id", "page_url", "page"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(want(("a.example", "b.example")) == 3L, "fixture sanity: multiplicity present")
      assert(got == want,
        s"stream-maintained index must equal the batch build over all pages: $got vs $want")
      // idempotent replay: re-running a batch's write (same batchId
      // partition) must not change the folded counts
      graft.operators.LinkGraph.buildLinkIndex(
        pages.take(1).toDF("page_id", "page_url", "page"))
        .write.mode("overwrite").parquet(s"$indexDir/batch_id=0")
      val replayed = Streaming.linkIndexOf(spark, indexDir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(replayed == want, "a replayed batch write must converge, not double-count")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(indexDir)).deleteRecursively()
      new Directory(new java.io.File(ckpt)).deleteRecursively()
    }
  }

  test("streaming outlink extraction equals the batch edge build per micro-batch (map-only lift)") {
    implicit val sqlCtx = spark.sqlContext
    val pages = Seq(
      (1L, "http://a.example/p/1",
        "<html><!-- <a href=\"http://decoy.example/x\"> -->" +
          "<a href=\"http://b.example/y\">b</a>" +
          "<img src=\"//c.example/i.png\">" +
          "<a href=\"../q\">self</a></html>"),
      (2L, "http://b.example/p/2",
        "<a href='http://a.example/z?k=1#frag'>back</a>" +
          "<script src=\"http://cdn.example/app.js\"></script>"),
      (3L, "http://c.example/p/3",
        "<a href=\"/local/only\">self-abs</a>" +
          "<a href=http://A.EXAMPLE:80/up>up</a>"))
    val ms = MemoryStream[(Long, String, String)]
    val stream = Streaming.outlinkStream(
      ms.toDF().toDF("page_id", "page_url", "page"))
    val q = Streaming.serveMemory(stream, "outlinks", mode = "append")
    try {
      ms.addData(pages.take(1))
      q.processAllAvailable()
      val afterB1 = spark.sql("select * from outlinks").count()
      ms.addData(pages.drop(1))
      q.processAllAvailable()
      def asSet(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      val got = asSet(spark.sql(
        "select page_id, src_host, dst_host, link_url from outlinks").collect())
      val want = asSet(graft.operators.LinkGraph.edgesOf(
        pages.toDF("page_id", "page_url", "page"))
        .select("page_id", "src_host", "dst_host", "link_url").collect())
      assert(afterB1 == 2,
        "page 1 emits its two cross-host links incrementally (decoy + relative self-link drop)")
      assert(got == want, "streaming edges diverge from the batch core")
      // canonicalization runs INSIDE the stream: case + default port
      // fold, fragments drop, protocol-relative refs absolutize
      assert(got((3L, "c.example", "a.example", "http://a.example/up")))
      assert(got((2L, "b.example", "a.example", "http://a.example/z?k=1")))
      assert(got((1L, "a.example", "c.example", "http://c.example/i.png")))
    } finally q.stop()
  }

  test("streaming ANN suspects equal the batch ADC candidates across micro-batches (stateless stream-static probe)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.sf
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val index = graft.operators.Llm.buildAnnIndex(spark, all)
    // ten query vectors arriving over two micro-batches
    val qvecs = all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, ts(s"2024-01-01 10:00:${10 + id}"), v) }.toSeq
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val stream = Streaming.annSuspects(
      ms.toDF().toDF("vec_id", "ts", "v"), index, minSim = 0.2)
    val q = Streaming.serveMemory(stream, "ann_suspects", mode = "append")
    try {
      ms.addData(qvecs.take(5))
      q.processAllAvailable()
      val afterB1 = spark.sql("select * from ann_suspects").count()
      ms.addData(qvecs.drop(5))
      q.processAllAvailable()
      val got = spark.sql("select probe_id, vec_id, simq from ann_suspects")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the same transformation over the same rows as ONE batch frame
      val batchDf = qvecs.toDF("vec_id", "ts", "v")
      val want = Streaming.annSuspects(batchDf, index, minSim = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      assert(want.nonEmpty, "no candidates at minSim=0.2 — lower it so the pin bites")
      assert(afterB1 > 0 && afterB1 < want.size,
        s"candidates should arrive incrementally (batch1=$afterB1 of ${want.size})")
      assert(got == want, "streaming ADC candidates diverge from the batch formulation")
    } finally q.stop()
  }

  test("streaming as-of enrichment survives a checkpoint restart (buffered probe + sealed ref persist)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_asof_ckpt").toString
    val ms = MemoryStream[Event]
    val out = Streaming.asofEnrich(ms.toDF(), lateness = "0 seconds")
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Option[Long], Option[Double])]())
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.AsofOut], _: Long) =>
        batch.collect().foreach(o => seen.add((o.event_id, o.asof_ts_us, o.asof_value)))
      }.start()
    def us(s: String) = ts(s).getTime * 1000L
    val q1 = start()
    try {
      // a ref, then a probe at the stream head: the probe's ms equals
      // the watermark, so it stays BUFFERED in state when we stop
      ms.addData(Event(10, ts("2024-01-01 10:00:00"), 7, "purchase", 5.0),
                 Event(11, ts("2024-01-01 10:05:00"), 7, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!seen.iterator().hasNext, "unsealed probe must not emit before restart")
    // restart: the recovered state must hold BOTH the compacted/open
    // ref and the buffered probe — advancing the watermark then emits
    // the probe with the pre-restart ref. A lost store would emit
    // None; a lost probe buffer would emit nothing.
    val q2 = start()
    try {
      ms.addData(Event(90, ts("2024-01-01 12:00:00"), 99, "purchase", 0.0))
      q2.processAllAvailable()
      val got = seen.toArray(Array.empty[(Long, Option[Long], Option[Double])]).toSeq
      assert(got == Seq((11L, Some(us("2024-01-01 10:00:00")), Some(5.0))),
        s"restart lost as-of state: $got")
    } finally q2.stop()
  }

  test("streaming as-of enrichment runs under the RocksDB state store (100 TB posture)") {
    assume(scala.util.Try(Class.forName(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")).isSuccess,
      "RocksDB state store provider not on the classpath")
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbProvider) {
      val ms = MemoryStream[Event]
      val q = Streaming.asofEnrich(ms.toDF(), lateness = "0 seconds")
        .writeStream.format("memory").queryName("rocksdb_asof")
        .outputMode("append").start()
      def us(s: String) = ts(s).getTime * 1000L
      try {
        ms.addData(Event(10, ts("2024-01-01 10:00:00"), 5, "purchase", 4.0),
                   Event(11, ts("2024-01-01 10:05:00"), 5, "click", 1.0))
        q.processAllAvailable()
        ms.addData(Event(90, ts("2024-01-01 12:00:00"), 99, "purchase", 0.0))
        q.processAllAvailable()
        val rows = spark.sql(
          "SELECT event_id, asof_ts_us, asof_value FROM rocksdb_asof WHERE user_id = 5")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(rows == Set((11L, us("2024-01-01 10:00:00"), 4.0)),
          s"as-of drifted under RocksDB state: $rows")
        val sops = q.lastProgress.stateOperators
        assert(sops.nonEmpty, "no state operator reported progress")
        val metricNames = sops.flatMap(_.customMetrics.keySet.toArray(Array.empty[AnyRef]))
          .map(_.toString.toLowerCase)
        assert(metricNames.exists(_.contains("rocksdb")),
          s"state ran on the default provider, not RocksDB: ${metricNames.take(8).mkString(",")}")
      } finally q.stop()
    }
  }

  test("custom-state sessionization merges across batches and expires by watermark (ST6 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    // lateness 0s makes the watermark deterministic: max event time
    // seen so far — each batch's data closes whatever it proves ended
    val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "0 seconds")
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode("append").start()
    def sec(s: String) = ts(s).getTime / 1000L
    def at(id: Long, user: Long, t: String) = Event(id, ts(t), user, "click", 1.0)
    def rows() = spark.sql(
      "SELECT user_id, session_start, session_end, n_events FROM custom_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      // batch 1, user 5: two events 10 min apart, then a 50-min gap —
      // the in-batch fold must close the first session immediately
      ms.addData(
        at(1, 5, "2024-01-01 10:00:00"),
        at(2, 5, "2024-01-01 10:10:00"),
        at(3, 5, "2024-01-01 11:00:00"))
      q.processAllAvailable()
      assert(rows() == Set((5L, sec("2024-01-01 10:00:00"), sec("2024-01-01 10:10:00"), 2L)),
        s"in-batch split: ${rows()}")
      // batch 2: 20 min after the open session's last event — MERGES
      // into the cross-batch open session, emits nothing yet
      ms.addData(at(4, 5, "2024-01-01 11:20:00"))
      q.processAllAvailable()
      assert(rows().size == 1, s"open session must not emit early: ${rows()}")
      // batch 3: another user far in the future pushes the watermark
      // past 11:20 + 30 min — user 5's open session times out and
      // closes with BOTH batches' events (11:00..11:20, n=2)
      ms.addData(at(9, 6, "2024-01-01 13:00:00"))
      q.processAllAvailable()
      assert(rows().contains((5L, sec("2024-01-01 11:00:00"), sec("2024-01-01 11:20:00"), 2L)),
        s"watermark expiry must close the merged session: ${rows()}")
    } finally q.stop()
  }

  test("custom-state sessionization honors admissible out-of-order events (late extend + bridge)") {
    implicit val sqlCtx = spark.sqlContext
    // lateness 1 h: the watermark ADMITS events up to an hour behind
    // the max seen — event-time sessionization must then place them
    // exactly where the batch operator would, including extending a
    // session's start backwards and BRIDGING two open sessions into
    // one. This is the path a single-open-session fold gets wrong.
    val ms = MemoryStream[Event]
    val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "1 hour")
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    def sec(s: String) = ts(s).getTime / 1000L
    def at(id: Long, user: Long, t: String) = Event(id, ts(t), user, "click", 1.0)
    try {
      // batch 1 — user 5: events at 10:00 and 11:00 (60 min apart =
      // two separate open sessions); user 6: one event at 10:20.
      // Watermark after this batch: 11:00 - 1 h = 10:00.
      ms.addData(at(1, 5, "2024-01-01 10:00:00"), at(2, 5, "2024-01-01 11:00:00"),
                 at(3, 6, "2024-01-01 10:20:00"))
      q.processAllAvailable()
      // batch 2 — two late-but-admissible events (both >= 10:00):
      //  user 5 @ 10:30 is within the gap of BOTH open sessions ->
      //  must bridge them into one (10:00..11:00, n=3);
      //  user 6 @ 10:05 precedes the open session's start -> must
      //  extend it backwards (start = 10:05)
      ms.addData(at(4, 5, "2024-01-01 10:30:00"), at(5, 6, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      // sentinel far in the future seals everything
      ms.addData(at(9, 99, "2024-01-01 20:00:00"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM late_sessions " +
          "WHERE user_id IN (5, 6)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        (5L, sec("2024-01-01 10:00:00"), sec("2024-01-01 11:00:00"), 3L),
        (6L, sec("2024-01-01 10:05:00"), sec("2024-01-01 10:20:00"), 2L)),
        s"out-of-order merge drifted from event-time semantics: $got")
    } finally q.stop()
  }

  test("custom-state sessionization does not seal early on sub-second watermarks") {
    implicit val sqlCtx = spark.sqlContext
    // session times are second-truncated but the watermark keeps
    // milliseconds: an interval with last=10:00:00 must stay OPEN at
    // watermark 10:30:00.500, because an admissible raw event at
    // 10:30:00.700 truncates to 10:30:00 and still merges (gap 1800).
    // Sealing at (last+gap)*1000 would emit a split the batch oracle
    // merges.
    val ms = MemoryStream[Event]
    val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "1 hour")
      .writeStream.format("memory").queryName("subsec_sessions")
      .outputMode("append").start()
    def sec(s: String) = ts(s).getTime / 1000L
    try {
      // watermark after this batch: 11:30:00.500 - 1 h = 10:30:00.500
      ms.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, new Timestamp(ts("2024-01-01 11:30:00").getTime + 500), 8, "click", 1.0))
      q.processAllAvailable()
      // admissible straggler 200 ms past the watermark, in-gap after
      // truncation — must MERGE into user 7's still-open session
      ms.addData(Event(3, new Timestamp(ts("2024-01-01 10:30:00").getTime + 700), 7, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(9, ts("2024-01-01 20:00:00"), 99, "click", 1.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT session_start, session_end, n_events FROM subsec_sessions WHERE user_id = 7")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((sec("2024-01-01 10:00:00"), sec("2024-01-01 10:30:00"), 2L)),
        s"sub-second watermark split the session: $got")
    } finally q.stop()
  }

  test("custom-state sessionization survives a checkpoint restart (open session persists, then closes)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toString
    val ms = MemoryStream[Event]
    val out = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "0 seconds")
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Long, Long)]())
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.SessionOut], _: Long) =>
        batch.collect().foreach(s =>
          seen.add((s.user_id, s.session_start, s.session_end, s.n_events)))
      }.start()
    def sec(s: String) = ts(s).getTime / 1000L
    val q1 = start()
    try {
      // one event opens a session; the open session lives ONLY in the
      // state store when the query stops
      ms.addData(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!seen.iterator().hasNext, "open session must not emit before close")
    // restart from the checkpoint: the recovered state must MERGE the
    // next in-gap event (10:10), then close on watermark advance with
    // BOTH events — a lost state store would emit (10:10,10:10,1)
    val q2 = start()
    try {
      ms.addData(Event(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0))
      q2.processAllAvailable()
      ms.addData(Event(9, ts("2024-01-01 13:00:00"), 99, "click", 1.0))
      q2.processAllAvailable()
      val u7 = seen.toArray(Array.empty[(Long, Long, Long, Long)]).filter(_._1 == 7L)
      assert(u7.toSeq == Seq((7L, sec("2024-01-01 10:00:00"), sec("2024-01-01 10:10:00"), 2L)),
        s"restart lost or duplicated session state: ${u7.mkString(",")}")
    } finally q2.stop()
  }

  test("custom-state sessionization runs under the RocksDB state store (100 TB posture)") {
    // The streaming-state scale story: the default HDFS-backed store
    // keeps every key's state on the executor HEAP — at web-scale key
    // cardinality that's an OOM, not a design. RocksDB spills state
    // to local disk with bounded memory, so the SAME operator code is
    // the 100 TB deployment shape; this test proves the stateful
    // operators run unmodified under the swapped provider and that
    // the provider actually engaged (its custom metrics are
    // provider-specific).
    assume(scala.util.Try(Class.forName(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")).isSuccess,
      "RocksDB state store provider not on the classpath")
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbProvider) {
      val ms = MemoryStream[Event]
      val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "0 seconds")
        .writeStream.format("memory").queryName("rocksdb_sessions")
        .outputMode("append").start()
      def sec(s: String) = ts(s).getTime / 1000L
      def at(id: Long, user: Long, t: String) = Event(id, ts(t), user, "click", 1.0)
      try {
        ms.addData(at(1, 5, "2024-01-01 10:00:00"), at(2, 5, "2024-01-01 10:10:00"))
        q.processAllAvailable()
        ms.addData(at(3, 5, "2024-01-01 10:20:00")) // merges into the stored session
        q.processAllAvailable()
        ms.addData(at(9, 6, "2024-01-01 13:00:00")) // watermark closes it
        q.processAllAvailable()
        val rows = spark.sql(
          "SELECT user_id, session_start, session_end, n_events FROM rocksdb_sessions " +
            "WHERE user_id = 5")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(rows == Set((5L, sec("2024-01-01 10:00:00"), sec("2024-01-01 10:20:00"), 3L)),
          s"sessionization drifted under RocksDB state: $rows")
        val sops = q.lastProgress.stateOperators
        assert(sops.nonEmpty, "no state operator reported progress")
        val metricNames = sops.flatMap(_.customMetrics.keySet.toArray(Array.empty[AnyRef]))
          .map(_.toString.toLowerCase)
        assert(metricNames.exists(_.contains("rocksdb")),
          s"state ran on the default provider, not RocksDB: ${metricNames.take(8).mkString(",")}")
      } finally q.stop()

      // the other stateful operator family: per-key DGIM sketches
      // must survive micro-batches in RocksDB state just like heap
      // state (same cross-batch estimate the heap-store test pins)
      val ms2 = MemoryStream[Event]
      val q2 = Streaming.dgimCounts(ms2.toDF(), windowSec = 3600L)
        .writeStream.format("memory").queryName("rocksdb_dgim")
        .outputMode("update").start()
      def errAt(id: Long, minute: Long) =
        Event(id, new Timestamp(ts("2024-01-01 10:00:00").getTime + minute * 60000L),
          id % 7, "error", 1.0)
      try {
        ms2.addData((0L until 60L).map(m => errAt(m, m)): _*)
        q2.processAllAvailable()
        ms2.addData((60L until 90L).map(m => errAt(m, m)): _*)
        q2.processAllAvailable()
        val latest = spark.sql(
          "SELECT last_ts, est_errors_1h FROM rocksdb_dgim").collect().maxBy(_.getLong(0))
        assert(latest.getLong(1) > 30,
          "DGIM sketch state lost between micro-batches under RocksDB")
      } finally q2.stop()
    }
  }

  test("custom-state sessionization equals the batch fold under arbitrary arrival order (property)") {
    implicit val sqlCtx = spark.sqlContext
    // when lateness exceeds the whole event span, NO arrival order is
    // late — so the merging-interval state must reproduce event-time
    // sessionization exactly on a fully shuffled stream, any chunking.
    // Seeded so failures replay.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2) {
      val events = (1 to 80).map { i =>
        val user = rnd.nextInt(4).toLong
        val t = ts("2024-01-01 08:00:00").getTime + rnd.nextInt(4 * 3600) * 1000L
        Event(trial * 1000L + i, new Timestamp(t), user, "click", 1.0)
      }
      // expected: the plain per-user gap fold over sorted event times
      val expected = events.groupBy(_.user_id).flatMap { case (u, evs) =>
        val times = evs.map(_.ts.getTime / 1000L).sorted
        val sess = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = times.head; var last = times.head; var n = 1L
        times.tail.foreach { t =>
          if (t - last <= 900L) { last = t; n += 1 }
          else { sess += ((u, start, last, n)); start = t; last = t; n = 1L }
        }
        sess += ((u, start, last, n))
        sess
      }.toSet
      val ms = MemoryStream[Event]
      val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 900L, lateness = "6 hours")
        .writeStream.format("memory").queryName(s"prop_sessions_$trial")
        .outputMode("append").start()
      try {
        rnd.shuffle(events).grouped(17).foreach { chunk =>
          ms.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // far-future sentinel seals every open session
        ms.addData(Event(-1L, ts("2024-02-01 00:00:00"), -999L, "click", 1.0))
        q.processAllAvailable()
        val got = spark.sql(
          s"SELECT user_id, session_start, session_end, n_events FROM prop_sessions_$trial " +
            "WHERE user_id <> -999")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == expected,
          s"trial $trial drifted: missing ${(expected -- got).take(3)}, extra ${(got -- expected).take(3)}")
      } finally q.stop()
    }
  }

  test("console sink starts, processes a batch, and stops cleanly (S7)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Streaming.consoleSink(ms.toDF()).start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"))
      q.processAllAvailable()
      assert(q.recentProgress.nonEmpty, "console sink processed no batch")
      assert(q.exception.isEmpty, s"console sink failed: ${q.exception}")
    } finally q.stop()
  }

  test("custom-state sessionization reproduces the batch sessionization on the real events table") {
    implicit val sqlCtx = spark.sqlContext
    // The ST6 twin claim, end-to-end: replaying the whole sf0.001
    // events table through the stateful streaming operator (in
    // event-time-ordered chunks — cross-batch order is the streaming
    // contract; within-batch disorder is handled by the fold's sort)
    // must yield EXACTLY the batch operator's sessions. A far-future
    // sentinel event pushes the watermark so every open session
    // closes before the comparison.
    val evs = graft.sources.Tables.events(spark, TestSpark.sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(_.ts.getTime)
    val sentinel = Event(-1L,
      new Timestamp(evs.last.ts.getTime + 30L * 24 * 3600 * 1000), -999L, "click", 0.0)
    val ms = MemoryStream[Event]
    val q = Streaming.sessionsCustom(ms.toDF(), gapSec = 1800L, lateness = "0 seconds")
      .writeStream.format("memory").queryName("sessions_replay")
      .outputMode("append").start()
    try {
      evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
        ms.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      ms.addData(sentinel)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sessions_replay " +
          "WHERE user_id <> -999")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.Ecosystem.sessions(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getLong(2),
          r.getLong(2) + r.getLong(4), r.getLong(3))).toSet
      assert(streamed == batch,
        s"streaming sessions drifted from batch: missing ${(batch -- streamed).take(3)}, " +
          s"extra ${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming and batch share the same transformation (consistency)") {
    // the batch frame through the same tumblingCounts code path
    val batch = graft.sources.Tables.events(spark, TestSpark.sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val counts = Streaming.tumblingCounts(batch, "1 minute", "1 hour")
    val total = counts.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == batch.count(), "window counts must partition the stream")
  }
}

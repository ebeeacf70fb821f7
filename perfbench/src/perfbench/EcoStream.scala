package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.Streaming

import EcoStream.Msg

/** eco_stream: a single-thread open-loop generator pushes seeded
  * JSON wire events into a `MemoryStream` at fixed stepped rates; the
  * pipeline `wireDecode` → `tumblingCounts` + `upsertLatest` +
  * `dgimCounts` → `serveMemory` serves three tables, and one
  * closed-loop client reads them with `spark.sql` while ingest runs.
  *
  * The store starts with a seeded two-hour history (the reference's
  * TTL window), processed as the first micro-batch. Live events are
  * stamped with event time T0 + (due time - live start). A share
  * arrives out of order (up to 30 min back, always admitted), a share
  * is re-delivered (same event id), a share is corrupt on the wire,
  * and a share is more than 1 h 10 min behind the history's end, so
  * the 1 h watermark always drops it. Which events are admitted is
  * therefore fixed by the seed, not by how events fall into batches. */
object EcoStream {
  /** One scheduled wire message; `kind` is n(ormal), o(ut of order),
    * l(ate), c(orrupt) or r(edelivered). */
  final case class Msg(dueMs: Double, step: Int, wire: String, id: Long, kind: Char)
}

final class EcoStream(spark: SparkSession, probe: Probe, tracer: Tracer, args: Main.Args) extends Workload {
  val History = 20000
  val Users = 2000
  /** Stepped offered rates (events/s), each for an equal share of the
    * run. The first, the reference step for freshness, is the rate of
    * the reference's producer (2-5 events/s). A micro-batch costs about
    * the same for ten events as for a hundred thousand, so even the
    * last step drains within seconds on an idle four-core host. */
  val Rates: Seq[Int] = Seq(5, 2000, 10000, 50000)
  val OutOfOrder = 0.02
  val Late = 0.005
  val Redelivered = 0.01
  val Corrupt = 0.002
  val Tables = Seq("pb_win", "pb_latest", "pb_dgim")
  /** Generator tick: messages due within a tick are appended together. */
  val TickMs = 50.0

  private def stepMs: Double = args.seconds * 1000.0 / Rates.length

  private var history: Array[String] = _
  private var schedule: Array[Msg] = _

  def prepare(): Unit = {
    val (h, sched) = generate()
    history = h
    schedule = sched
  }

  private def generate(): (Array[String], Array[Msg]) = {
    val hist = Gen.events(args.seed, History, Users, 2L * 3600 * 1000, Gen.T0Ms)
    val rng = new java.util.SplittableRandom(args.seed * 7919 + 1)
    val users = Gen.zipfCdf(Users, 1.1)
    val live = mutable.ArrayBuffer.empty[(Double, Int, Gen.Ev, Char)]
    var id = History.toLong
    for ((rate, s) <- Rates.zipWithIndex) {
      val n = (rate * stepMs / 1000).toInt
      for (i <- 0 until n) {
        val due = s * stepMs + i * 1000.0 / rate
        val u = rng.nextDouble()
        val ts = Gen.T0Ms + due.toLong
        if (u < Redelivered && live.nonEmpty) {
          // the same wire bytes again: a late or corrupt original stays so
          val prev = live(live.length - 1 - rng.nextInt(math.min(live.length, 200)))
          live += ((due, s, prev._3, if (prev._4 == 'l' || prev._4 == 'c') prev._4 else 'r'))
        } else {
          val (tsx, kind) =
            if (u < Redelivered + Late) (Gen.T0Ms - 3600000L - 600000L - rng.nextLong(2400000L), 'l')
            else if (u < Redelivered + Late + OutOfOrder) (ts - rng.nextLong(1800000L), 'o')
            else if (u < Redelivered + Late + OutOfOrder + Corrupt) (ts, 'c')
            else (ts, 'n')
          live += ((due, s, Gen.event(rng, users, id, tsx), kind))
          id += 1
        }
      }
    }
    val encoded = wire(hist ++ live.map(_._3).distinct)
    (hist.map(e => encoded(e.eventId)), live.map { case (due, s, e, kind) =>
      Msg(due, s, if (kind == 'c') s"corrupt\u0000${e.eventId}" else encoded(e.eventId),
        e.eventId, kind)
    }.toArray)
  }

  /** Wire strings via the engine's own encoder. */
  private def wire(evs: Seq[Gen.Ev]): Map[Long, String] = {
    import spark.implicits._
    Streaming.wireEncode(eventFrame(evs)).as[String].collect()
      .zip(evs.map(_.eventId)).map(_.swap).toMap
  }

  private def eventFrame(evs: Seq[Gen.Ev]): DataFrame =
    Gen.eventsDF(spark, evs).select("event_id", "ts", "user_id", "event_type", "value")

  // ---- running pipeline ---------------------------------------------

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  /** One source per served table, each fed the same appends (as each
    * consumer of a topic reads it on its own): a `MemoryStream` trims
    * what its reader commits, so it cannot be shared by three queries. */
  private val sources = { import spark.implicits._; Tables.map(_ => MemoryStream[String]) }

  /** Appends one chunk to every source; returns its (common) offset. */
  private def append(chunk: Seq[String]): Long =
    sources.map(ms => offsetOf(ms.addData(chunk))).distinct match {
      case Seq(o) => o
      case os => sys.error(s"sources diverged at offsets $os")
    }
  private var queries: Seq[StreamingQuery] = Nil
  private val runName = new ConcurrentHashMap[String, String]()
  /** query name -> (batchId, endOffset, commit epoch ms, progress) */
  private val progress = new ConcurrentHashMap[String, java.util.List[(Long, Long, Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]]()
  private val committed = new ConcurrentHashMap[String, java.lang.Long]()

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runName.put(e.runId.toString, e.name)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = Option(p.sources.head.endOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
      val commit = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      progress.computeIfAbsent(p.name, _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
        .add((p.batchId, end, commit, p))
      committed.merge(p.name, end, (a, b) => math.max(a, b))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def minCommitted: Long =
    if (Tables.forall(committed.containsKey)) Tables.map(t => committed.get(t).longValue).min else -1L

  private def awaitCommitted(offset: Long, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (minCommitted < offset && System.currentTimeMillis() < end) Thread.sleep(5)
    minCommitted >= offset
  }

  def first(): Long = {
    spark.streams.addListener(listener)
    val t = System.currentTimeMillis()
    val o = append(history.toSeq)
    val Seq(win, latest, dgim) = sources.map(ms => Streaming.wireDecode(ms.toDF()))
    queries = Seq(
      Streaming.serveMemory(Streaming.tumblingCounts(win), "pb_win", "update"),
      Streaming.serveMemory(Streaming.upsertLatest(latest), "pb_latest", "append"),
      Streaming.serveMemory(Streaming.dgimCounts(dgim).toDF(), "pb_dgim", "update"))
    if (!awaitCommitted(o, 120000)) sys.error("history batch did not commit")
    System.currentTimeMillis() - t
  }

  private def offsetOf(o: org.apache.spark.sql.execution.streaming.Offset): Long = o.json.trim.toLong

  def measure(report: mutable.Map[String, Any]): Unit = {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = { attempted += 1; if (!ok) { failed += 1; failures += what } }

    // chunk k of the live schedule was added as stream offset chunkOffset(k)
    val chunkStart = mutable.ArrayBuffer.empty[Int]
    val chunkOffset = mutable.ArrayBuffer.empty[Long]
    val backlog = mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val offsetEvents = new ConcurrentHashMap[Long, java.lang.Long]()
    offsetEvents.put(minCommitted, History.toLong)
    @volatile var liveDone = false
    val liveStartMs = System.currentTimeMillis()
    val liveStartNs = System.nanoTime()
    def nowOff: Double = (System.nanoTime() - liveStartNs) / 1e6

    // the reader: one closed-loop client over the served tables
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val readFailures = new java.util.concurrent.atomic.AtomicLong(0L)
    val lastId = new java.util.concurrent.atomic.AtomicLong(History.toLong)
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "serve")
      val rng = new java.util.SplittableRandom(args.seed * 31 + 5)
      var i = 0
      while (!liveDone) {
        val kind = i % 4
        val sql = kind match {
          case 0 => s"SELECT event_type, max(n) AS n FROM pb_win WHERE wstart >= " +
            s"timestamp_millis(${Gen.T0Ms - 600000L}) GROUP BY event_type"
          case 1 =>
            val hi = lastId.get()
            val ids = Seq.fill(8)(hi - 1 - rng.nextLong(math.max(1L, math.min(hi, 5000L))))
            s"SELECT event_id, user_id, event_type, value FROM pb_latest WHERE event_id IN (${ids.mkString(",")})"
          case 2 => "SELECT approx_count_distinct(user_id) AS users, count(*) AS n FROM pb_latest"
          case _ => "SELECT event_type, max_by(est_errors_1h, last_ts) AS est FROM pb_dgim GROUP BY event_type"
        }
        // whole rounds of the four kinds alternate, so each kind has
        // traced and untraced reads
        val traced = args.trace && (i / 4) % 2 == 1
        tracer.on = traced
        val opId = s"read$i"
        if (traced) probe.walk(opId)
        spark.sparkContext.setJobGroup(opId, s"read kind $kind", interruptOnCancel = false)
        val t = System.nanoTime()
        try {
          val rows = tracer.span(opId, "op") {
            val df = tracer.span(opId, "operators.build")(spark.sql(sql))
            tracer.span(opId, "driver.collect")(df.collect())
          }
          reads.synchronized {
            reads += Map("op" -> opId, "kind" -> kind, "ms" -> (System.nanoTime() - t) / 1e6,
              "rows" -> rows.length, "traced" -> traced)
          }
        } catch { case e: Exception => readFailures.incrementAndGet(); failures.synchronized(failures += s"$opId: $e") }
        i += 1
      }
      spark.sparkContext.clearJobGroup()
    }, "perfbench-reader")
    reader.setDaemon(true)

    // the generator: open loop on a fixed tick. At tick k it hands the
    // stream every message due by then as one append (a producer linger
    // of at most one tick, which freshness counts since it is measured
    // from each message's own due time). Coarser appends keep the
    // source's per-batch union of appended blocks small.
    var genLagMax = 0.0
    var next = 0
    var tick = 1
    reader.start()
    while (next < schedule.length) {
      val tickDue = tick * TickMs
      val wait = tickDue - nowOff
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val now = nowOff
      genLagMax = math.max(genLagMax, now - tickDue)
      var end = next
      while (end < schedule.length && schedule(end).dueMs <= tickDue) end += 1
      if (end > next) {
        val o = append(schedule.slice(next, end).map(_.wire).toSeq)
        offsetEvents.put(o, end.toLong + History)
        chunkStart += next; chunkOffset += o
        lastId.set(schedule(end - 1).id)
        next = end
      }
      val done = Option(offsetEvents.get(minCommitted)).map(_.longValue).getOrElse(0L)
      backlog += ((schedule(math.max(0, next - 1)).step, now, next + History - done))
      tick += 1
    }
    val liveEndOff = nowOff
    Main.log(s"live phase done: ${schedule.length} events")
    liveDone = true
    reader.join(60000)
    val drained = awaitCommitted(chunkOffset.last, 60000)
    check(drained, "stream did not drain within 60 s")
    tracer.on = args.trace
    val heap = Main.liveHeapMb()
    Main.log(s"drained: $drained")

    // freshness: due time -> commit of the batch that made the event
    // visible in every served table
    val perQuery = Tables.map { t =>
      progress.getOrDefault(t, java.util.Collections.emptyList()).asScala.toSeq.sortBy(_._1)
    }
    def visibleAt(offset: Long): Double = perQuery.map { bs =>
      bs.find(_._2 >= offset).map(b => (b._3 - liveStartMs).toDouble).getOrElse(Double.NaN)
    }.max
    val fresh = Array.fill(Rates.length)(mutable.ArrayBuffer.empty[Double])
    // per step: from its end until the backlog it left is visible
    val drain = Array.fill(Rates.length)(Double.NaN)
    for (k <- chunkStart.indices) {
      val vis = visibleAt(chunkOffset(k))
      val stop = if (k + 1 < chunkStart.length) chunkStart(k + 1) else schedule.length
      for (i <- chunkStart(k) until stop if schedule(i).kind != 'c' && schedule(i).kind != 'l')
        fresh(schedule(i).step) += math.round((vis - schedule(i).dueMs) * 1000) / 1000.0
      val s = schedule(stop - 1).step
      drain(s) = vis - (s + 1) * stepMs
    }

    // output checks against batch recounts over the admitted events
    import spark.implicits._
    val all = history.toSeq ++ schedule.toSeq.map(_.wire)
    val lateIds = schedule.filter(_.kind == 'l').map(_.id).distinct
    val decodedAll = Streaming.wireDecode(all.toDF("value")).cache()
    val admitted = decodedAll.filter(!org.apache.spark.sql.functions.col("event_id").isin(lateIds: _*))
    def key(r: Row): (Long, String, Long) = (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))
    val expected = Streaming.tumblingCounts(admitted).collect().map(key).toSet
    val served = spark.sql("SELECT wstart, event_type, max(n) AS n FROM pb_win GROUP BY wstart, event_type")
      .collect().map(key).toSet
    check(served == expected, s"served window counts differ from batch recount: " +
      s"served ${(served diff expected).toSeq.sorted.take(5)}, expected ${(expected diff served).toSeq.sorted.take(5)}")
    // events the watermark dropped = decoded events the served counts miss
    val late = schedule.count(_.kind == 'l')
    val decodedN = decodedAll.count()
    val droppedEvents = decodedN - served.toSeq.map(_._3).sum
    check(droppedEvents == late, s"watermark dropped $droppedEvents events, $late late events were sent")
    val distinctIds = decodedAll.select("event_id").distinct().count()
    val latestRows = spark.sql("SELECT count(*) FROM pb_latest").head().getLong(0)
    check(latestRows == distinctIds, s"upsert store holds $latestRows ids, expected $distinctIds")
    val dgimKeys = spark.sql("SELECT DISTINCT event_type FROM pb_dgim").collect().map(_.getString(0)).toSet
    check(dgimKeys == Gen.EventTypes.toSet, s"dgim keys $dgimKeys")
    val corruptDropped = all.length - decodedN
    check(corruptDropped == schedule.count(_.kind == 'c'), s"wire dropped $corruptDropped corrupt rows")
    decodedAll.unpersist()

    Main.log("checks done")
    report("params") = Map("history" -> History, "users" -> Users, "user_zipf_s" -> 1.1,
      "rates" -> Rates, "step_ms" -> stepMs, "out_of_order" -> OutOfOrder, "late" -> Late, "tick_ms" -> TickMs,
      "redelivered" -> Redelivered, "corrupt" -> Corrupt, "live_events" -> schedule.length)
    report("live_ms") = liveEndOff
    report("gen_lag_ms_max") = genLagMax
    report("fresh_by_step") = fresh.map(_.toSeq).toSeq
    report("drain_ms_by_step") = drain.toSeq
    report("backlog") = backlog.map { case (s, t, b) => Seq(s, t, b) }
    report("reads") = reads
    report("batches") = Tables.zip(perQuery).map { case (t, bs) => t -> bs.map { case (id, end, commit, p) =>
      val st = p.stateOperators
      Map("batch" -> id, "end_offset" -> end, "commit_ms" -> (commit - liveStartMs),
        "rows" -> p.numInputRows, "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).sum, "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "dropped" -> st.map(_.numRowsDroppedByWatermark).sum)
    } }.toMap
    report("query_groups") = runName.asScala.map { case (run, name) => run -> name }.toMap
    report("corrupt_dropped") = corruptDropped
    report("dropped_events") = droppedEvents
    report("heap_live_mb") = Seq(heap)
    report("attempted") = attempted + reads.length + readFailures.get()
    report("failed") = failed + readFailures.get()
    report("failures") = failures
    if (args.trace) {
      report("kernels") = wireCodec()
      // micro-batches as spans: one root per batch, one child per phase
      val anchorNs = liveStartNs - liveStartMs * 1000000L
      for ((t, bs) <- Tables.zip(perQuery); (id, _, commit, p) <- bs) {
        val startNs = anchorNs + java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val root = tracer.record(s"$t.$id", "stream.batch", -1, startNs, anchorNs + commit * 1000000L)
        var at = startNs
        for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")) {
          val d = Option(p.durationMs.get(ph)).map(_.longValue).getOrElse(0L) * 1000000L
          tracer.record(s"$t.$id", s"stream.$ph", root, at, at + d)
          at += d
        }
      }
    }
  }

  /** ns per event of the wire codec on the generated history. */
  private def wireCodec(): Map[String, Double] = {
    import spark.implicits._
    val hist = Gen.events(args.seed, History, Users, 2L * 3600 * 1000, Gen.T0Ms)
    val df = eventFrame(hist.toSeq).cache()
    df.count()
    val wires = history.toSeq.toDF("value").cache()
    wires.count()
    val enc = Stat.median(3)(tracer.span("kernel.wire_encode", "wire.encode") {
      val t = System.nanoTime(); Streaming.wireEncode(df).collect(); (System.nanoTime() - t).toDouble / History
    })
    val dec = Stat.median(3)(tracer.span("kernel.wire_decode", "wire.decode") {
      val t = System.nanoTime(); Streaming.wireDecode(wires).collect(); (System.nanoTime() - t).toDouble / History
    })
    df.unpersist(); wires.unpersist()
    Map("wire_encode" -> enc, "wire_decode" -> dec)
  }

  override def close(): Unit = queries.foreach { q =>
    q.stop()
    q.awaitTermination(30000)
  }
}

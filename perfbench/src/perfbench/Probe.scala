package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one job group: every Spark job the benchmark
  * starts runs under a job group named after the operation that caused
  * it (streaming queries use their run id), so stage and task metrics
  * land on the right operation without relying on timing. */
final class GroupWork {
  var cpuNs, gcMs, fetchWaitMs, shuffleWriteNs, shuffleBytes, shuffleRecords, spillBytes = 0L
  var jobs, stages, tasks = 0L
  /** Sum over stages of the slowest task: the critical path, assuming
    * a group's stages run one after another. */
  var critMs = 0L
  // plan-level counts, summed over the group's SQL executions
  var planMs, scanRows, scanBytes, scanMs, aggMs, aggPeakBytes, localRows = 0L
  val plans: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def add(o: GroupWork): Unit = {
    planMs += o.planMs; scanRows += o.scanRows; scanBytes += o.scanBytes; scanMs += o.scanMs
    aggMs += o.aggMs; aggPeakBytes = math.max(aggPeakBytes, o.aggPeakBytes); localRows += o.localRows
    plans ++= o.plans
  }

  def toMap: Map[String, Long] = Map(
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_write_ns" -> shuffleWriteNs, "shuffle_bytes" -> shuffleBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "crit_ms" -> critMs,
    "plan_ms" -> planMs, "scan_rows" -> scanRows, "scan_bytes" -> scanBytes, "scan_ms" -> scanMs,
    "agg_ms" -> aggMs, "agg_peak_bytes" -> aggPeakBytes, "local_rows" -> localRows)
}

/** Listeners installed once per session. Stage/task metrics are always
  * on (they feed `cpu_s`); executed plans are walked only for the job
  * groups passed to `walk` before they run: traced operations and each
  * operation's first run (for the kernel-path check). */
final class Probe(spark: SparkSession) {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageMaxTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val groups = new ConcurrentHashMap[String, GroupWork]()
  private val events = new AtomicLong(0L)
  private val walked = ConcurrentHashMap.newKeySet[String]()

  def walk(group: String): Unit = walked.add(group)

  def group(g: String): GroupWork = groups.computeIfAbsent(g, _ => new GroupWork)
  def allGroups: Map[String, GroupWork] = groups.asScala.toMap

  /** The finished execution whose end event is being dispatched. The
    * session's execution-listener bus is registered on the shared
    * listener queue before the listener below (`listenerManager` is
    * touched first), so for each end event `onSuccess` runs first and
    * the end event then names the execution id and thereby the group. */
  private var pending: QueryExecution = _

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending = qe
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      e.stageIds.foreach(stageGroup.put(_, g))
      group(g).synchronized { group(g).jobs += 1 }
      events.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskInfo != null)
        stageMaxTask.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val g = group(Option(stageGroup.get(info.stageId)).getOrElse("none"))
      val m = info.taskMetrics
      g.synchronized {
        g.stages += 1
        g.tasks += info.numTasks
        g.critMs += Option(stageMaxTask.remove(info.stageId)).map(_.longValue).getOrElse(0L)
        if (m != null) {
          g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
          g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          g.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          g.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          g.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
      events.incrementAndGet()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse("none"))
        events.incrementAndGet()
      case s: SparkListenerSQLExecutionEnd =>
        val qe = pending
        pending = null
        val name = Option(execGroup.remove(s.executionId)).getOrElse("none")
        if (qe != null && walked.contains(name)) {
          val w = planWork(qe)
          val g = group(name)
          g.synchronized(g.add(w))
        }
        events.incrementAndGet()
      case _ =>
    }
  })

  /** Planning time and per-node counts of one finished execution. */
  private def planWork(qe: QueryExecution): GroupWork = {
    val w = new GroupWork
    val phases = qe.tracker.phases
    w.planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    w.plans += qe.executedPlan.treeString
    walk(qe.executedPlan) { p =>
      def m(k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      val n = p.nodeName
      if (n.startsWith("Scan ") || n.startsWith("FileScan")) {
        w.scanRows += m("numOutputRows"); w.scanBytes += m("filesSize"); w.scanMs += m("scanTime")
      }
      if (n == "LocalTableScan") w.localRows += m("numOutputRows")
      if (n.endsWith("HashAggregate")) { w.aggMs += m("aggTime"); w.aggPeakBytes = math.max(w.aggPeakBytes, m("peakMemory")) }
    }
    w
  }

  /** Every physical node of an executed plan, descending through
    * adaptive query stages and subqueries. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ => ()
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Wait until listener events stop arriving (the bus is asynchronous)
    * so the counters are complete before they are read. */
  def settle(): Unit = {
    var prev = -1L
    var spins = 0
    while (events.get() != prev && spins < 100) {
      prev = events.get()
      Thread.sleep(100)
      spins += 1
    }
  }
}

/** In-memory spans recorded around calls into the engine's public
  * functions. Spans of one operation share its `id`; `parent` is the
  * index of the enclosing span (-1 for a root). Written out at the end. */
object Tracer {
  private final case class Span(id: String, name: String, parent: Int, start: Long, var end: Long)
}

final class Tracer(@volatile var on: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](id: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val idx = spans.synchronized {
        spans += Span(id, name, stack.get.headOption.getOrElse(-1), System.nanoTime(), 0L)
        spans.length - 1
      }
      stack.set(idx :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        val end = System.nanoTime()
        spans.synchronized { spans(idx).end = end }
      }
    }

  /** A span whose interval was measured elsewhere (e.g. a micro-batch
    * reported by a progress event); returns its index for children. */
  def record(id: String, name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!on) -1
    else spans.synchronized { spans += Span(id, name, parent, startNs, endNs); spans.length - 1 }

  def count: Int = spans.synchronized(spans.length)

  def write(path: String): Unit = spans.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.zipWithIndex.foreach { case (s, i) =>
      w.println(Main.mapper.writeValueAsString(Map("i" -> i, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}

package graft.plans

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, lit, unix_micros, when}

/** Markov-chain structural analysis in pure Scala, run driver-side on
  * a collected transition matrix (SURVEY §2.8 [D]: the state space is
  * the categorical event-type domain, bounded and tiny — |S|² numbers
  * cross the driver, never row data).
  *
  * Mirrors /root/reference/model/MarkovChainAnalysis.py:
  *  - Tarjan SCC over the positive-probability adjacency (:24-79);
  *  - recurrent = in an SCC of size > 1 or with a self-loop (:90-95);
  *  - period via the BFS-level cycle-length GCD (:119-146). One
  *    deliberate delta: the reference computes the period once per
  *    SCC from its first-popped element (:104) — we compute it per
  *    state with the same BFS formula, which is representative-order
  *    independent (and equal across an SCC for true DTMC periods),
  *    so results don't depend on Tarjan's traversal order.
  *
  * The counts behind that matrix are built executor-side by the
  * per-user run functions at the end of this object.
  */
object Markov {

  case class StateClass(state: String, is_recurrent: Boolean, period: Long, dtmc_class: String)

  /** Tarjan's strongly-connected components (iterative DFS).
    * `adj(i)` lists the positive-probability successors of state i. */
  def tarjanScc(n: Int, adj: Array[List[Int]]): List[List[Int]] = {
    val ids = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val stack = mutable.Stack[Int]()
    var id = 0
    var sccs = List.empty[List[Int]]

    // explicit DFS frames: (node, next-child index)
    for (root <- 0 until n if ids(root) == -1) {
      val frames = mutable.Stack[(Int, Int)]((root, 0))
      while (frames.nonEmpty) {
        val (at, ci) = frames.pop()
        if (ci == 0) {
          ids(at) = id; low(at) = id; id += 1
          stack.push(at); onStack(at) = true
        }
        val children = adj(at)
        if (ci < children.length) {
          frames.push((at, ci + 1))
          val to = children(ci)
          if (ids(to) == -1) frames.push((to, 0))
          else if (onStack(to)) low(at) = math.min(low(at), ids(to))
        } else {
          if (frames.nonEmpty) {
            val parent = frames.top._1
            low(parent) = math.min(low(parent), low(at))
          }
          if (ids(at) == low(at)) {
            var scc = List.empty[Int]
            var done = false
            while (!done) {
              val node = stack.pop()
              onStack(node) = false
              scc ::= node
              if (node == at) done = true
            }
            sccs ::= scc
          }
        }
      }
    }
    sccs.reverse
  }

  /** Period of `start` by the reference's BFS-cycle-GCD
    * (MarkovChainAnalysis.py:119-146): BFS levels are shortest
    * distances; every edge back into `start` closes a cycle of
    * length dist+1; the period is the GCD of those lengths (1 if no
    * cycle returns). */
  def bfsPeriod(n: Int, adj: Array[List[Int]], start: Int): Long = {
    val dist = Array.fill(n)(-1)
    dist(start) = 0
    val q = mutable.Queue(start)
    val periods = mutable.Set.empty[Long]
    while (q.nonEmpty) {
      val s = q.dequeue()
      for (t <- adj(s)) {
        if (t == start) periods += (dist(s) + 1).toLong
        else if (dist(t) == -1) { dist(t) = dist(s) + 1; q.enqueue(t) }
      }
    }
    if (periods.isEmpty) 1L else periods.reduce(gcd)
  }

  @annotation.tailrec
  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Full DTMC classification of every state. `p` is row-stochastic
    * over `states` (zero rows allowed — absorbing/unseen states). */
  def classify(states: IndexedSeq[String], p: Array[Array[Double]]): Seq[StateClass] = {
    val n = states.length
    val adj = Array.tabulate(n)(i => (0 until n).filter(j => p(i)(j) > 0).toList)
    val sccOf = new Array[Int](n)
    val sccs = tarjanScc(n, adj)
    for ((scc, k) <- sccs.zipWithIndex; s <- scc) sccOf(s) = k
    val sccSize = sccs.map(_.length).toArray

    (0 until n).map { s =>
      val recurrent = sccSize(sccOf(s)) > 1 || p(s)(s) > 0
      val per = bfsPeriod(n, adj, s)
      val cls =
        if (!recurrent) "transient"
        else if (per == 1L) "recurrent-aperiodic"
        else "recurrent-periodic"
      StateClass(states(s), recurrent, per, cls)
    }
  }

  // ---- per-user transition counts (Ecosystem.transitions) -------------
  //
  // The pair counts of each user's (ts, event_id)-ordered events, built
  // without shuffling the events: `runs` turns a scan split into one
  // record per user, those records are exchanged on user_id, and
  // `pairCounts` merges each user's records and counts adjacent pairs.

  /** One events row as `runs` reads it. A null user_id, ts or event_id
    * arrives as 0 with its bit set in `nulls` (ts 1, event_id 2,
    * user_id 4), so the row deserializes to primitives. `ts` is in
    * micros. */
  final case class Event(user_id: Long, ts: Long, event_id: Long, event_type: String, nulls: Int)

  object Event {
    /** The events table's columns as an `Event`. */
    def columns: Seq[Column] = {
      def nullBit(c: String, bit: Int) = when(col(c).isNull, bit).otherwise(0)
      Seq(coalesce(col("user_id"), lit(0L)).as("user_id"),
        coalesce(unix_micros(col("ts")), lit(0L)).as("ts"),
        coalesce(col("event_id"), lit(0L)).as("event_id"), col("event_type"),
        (nullBit("ts", 1) + nullBit("event_id", 2) + nullBit("user_id", 4)).as("nulls"))
    }
  }

  /** Some of one user's events in (ts, event_id) order, nulls first.
    * `state(i)` indexes `types` (-1: a null event_type) and `nulls(i)`
    * holds event i's ts (1) and event_id (2) null bits. A null user_id
    * (`None`) is one user. */
  final case class Run(user_id: Option[Long], types: Array[String], state: Array[Int],
                       ts: Array[Long], event_id: Array[Long], nulls: Array[Byte])

  private final class RunBuilder {
    val state = new mutable.ArrayBuilder.ofInt
    val ts = new mutable.ArrayBuilder.ofLong
    val eventId = new mutable.ArrayBuilder.ofLong
    val nulls = new mutable.ArrayBuilder.ofByte
    def run(user: Option[Long], types: Array[String]): Run =
      sorted(Run(user, types, state.result(), ts.result(), eventId.result(), nulls.result()))
  }

  /** Step 1: the events of one scan split as one sorted `Run` per user.
    * Buffers the split's events, about 21 bytes each. */
  def runs(rows: Iterator[Event]): Iterator[Run] = {
    val code = mutable.HashMap.empty[String, Int]
    val byUser = mutable.LongMap.empty[RunBuilder]
    var nullUser: Option[RunBuilder] = None
    rows.foreach { e =>
      val b =
        if ((e.nulls & 4) == 0) byUser.getOrElseUpdate(e.user_id, new RunBuilder)
        else nullUser.getOrElse { nullUser = Some(new RunBuilder); nullUser.get }
      b.state += (if (e.event_type == null) -1 else code.getOrElseUpdate(e.event_type, code.size))
      b.ts += e.ts
      b.eventId += e.event_id
      b.nulls += (e.nulls & 3).toByte
    }
    val types = new Array[String](code.size)
    code.foreach { case (t, i) => types(i) = t }
    byUser.iterator.map { case (u, b) => b.run(Some(u), types) } ++ nullUser.iterator.map(_.run(None, types))
  }

  /** `r` in (ts, event_id) order, nulls first; equal keys keep their
    * order. A run already in order comes back as it is. */
  private def sorted(r: Run): Run = {
    def key(bit: Int, v: Array[Long], i: Int, j: Int): Int = {
      val ni = (r.nulls(i) & bit) != 0
      val nj = (r.nulls(j) & bit) != 0
      if (ni || nj) java.lang.Boolean.compare(nj, ni) else java.lang.Long.compare(v(i), v(j))
    }
    def compare(i: Int, j: Int): Int = {
      val c = key(1, r.ts, i, j)
      if (c != 0) c else key(2, r.event_id, i, j)
    }
    val n = r.ts.length
    var i = 1
    while (i < n && compare(i - 1, i) <= 0) i += 1
    if (i >= n) r
    else {
      // TimSort: a concatenation of sorted runs is merged, not re-sorted
      val idx = Array.tabulate[Integer](n)(Integer.valueOf)
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => compare(a, b))
      r.copy(state = idx.map(r.state(_)), ts = idx.map(r.ts(_)),
        event_id = idx.map(r.event_id(_)), nulls = idx.map(r.nulls(_)))
    }
  }

  /** Step 3: one user's runs, from any splits in any order, as one
    * sorted run over the union of their `types`. */
  def merge(runs: Seq[Run]): Run =
    if (runs.length == 1) runs.head
    else {
      val types = runs.flatMap(_.types).distinct.toArray
      val code = types.zipWithIndex.toMap
      def cat[A: ClassTag](f: Run => Array[A]): Array[A] = Array.concat(runs.map(f): _*)
      val state = cat { r =>
        val c = r.types.map(code)
        r.state.map(s => if (s < 0) -1 else c(s))
      }
      sorted(Run(runs.head.user_id, types, state, cat(_.ts), cat(_.event_id), cat(_.nulls)))
    }

  /** Counts of adjacent (cur, next) event types over the ordered runs
    * `add`ed to it: the |S|×|S| table of one task. A pair counts when
    * next's event_type is non-null; cur's may be null. */
  final class PairCounts {
    private val code = mutable.HashMap.empty[String, Int]
    private val names = mutable.ArrayBuffer.empty[String]
    // counts(cur + 1)(next); row 0 is a null cur
    private var counts = Array.ofDim[Long](1, 0)

    private def codeOf(t: String): Int = code.getOrElseUpdate(t, {
      names += t
      val k = names.length
      val old = counts
      counts = Array.tabulate(k + 1, k)((i, j) => if (i < old.length && j < old(i).length) old(i)(j) else 0L)
      k - 1
    })

    def add(r: Run): Unit = {
      val c = r.types.map(codeOf)
      var i = 1
      while (i < r.state.length) {
        val next = r.state(i)
        if (next >= 0) {
          val cur = r.state(i - 1)
          counts(if (cur < 0) 0 else c(cur) + 1)(c(next)) += 1
        }
        i += 1
      }
    }

    /** (cur_event, next_event, n) for each pair seen. */
    def rows: Iterator[(String, String, Long)] =
      for (i <- counts.indices.iterator; j <- names.indices.iterator if counts(i)(j) > 0)
        yield (if (i == 0) null else names(i - 1), names(j), counts(i)(j))
  }

  /** Step 3: the pair counts of the users whose runs one task received.
    * Holds those runs (the task's share of the events, as in step 1)
    * and merges one user at a time. */
  def pairCounts(runs: Iterator[Run]): Iterator[(String, String, Long)] = {
    val byUser = mutable.HashMap.empty[Option[Long], mutable.ArrayBuffer[Run]]
    runs.foreach(r => byUser.getOrElseUpdate(r.user_id, mutable.ArrayBuffer.empty) += r)
    val counts = new PairCounts
    byUser.valuesIterator.foreach(rs => counts.add(merge(rs.toSeq)))
    counts.rows
  }
}

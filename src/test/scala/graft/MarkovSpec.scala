package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Markov

/** Golden-chain tests for the pure-Scala Tarjan + DTMC classifier
  * (MarkovChainAnalysis.py:24-161 semantics), and unit tests of the
  * per-user run merge and pair count behind Ecosystem.transitions. */
class MarkovSpec extends AnyFunSuite {

  private def classes(states: Seq[String], p: Array[Array[Double]]) =
    Markov.classify(states.toIndexedSeq, p).map(c => c.state -> c).toMap

  test("two-state cycle is recurrent with period 2") {
    val c = classes(Seq("a", "b"), Array(Array(0, 1.0), Array(1.0, 0)))
    assert(c("a").is_recurrent && c("b").is_recurrent)
    assert(c("a").period == 2 && c("b").period == 2)
    assert(c("a").dtmc_class == "recurrent-periodic")
  }

  test("self-loop state is recurrent-aperiodic; feeder is transient") {
    // a -> b, b -> b: a cannot return (singleton SCC, no self-loop)
    val c = classes(Seq("a", "b"), Array(Array(0, 1.0), Array(0, 1.0)))
    assert(!c("a").is_recurrent && c("a").dtmc_class == "transient")
    assert(c("b").is_recurrent && c("b").period == 1)
    assert(c("b").dtmc_class == "recurrent-aperiodic")
  }

  test("three-cycle has period 3") {
    val p = Array(Array(0, 1.0, 0), Array(0, 0, 1.0), Array(1.0, 0, 0))
    val c = classes(Seq("a", "b", "c"), p)
    assert(c.values.forall(_.period == 3))
    assert(c.values.forall(_.dtmc_class == "recurrent-periodic"))
  }

  test("cycle plus self-loop becomes aperiodic (gcd(1,2)=1)") {
    val p = Array(Array(0.5, 0.5), Array(1.0, 0))
    val c = classes(Seq("a", "b"), p)
    assert(c("a").period == 1 && c("b").is_recurrent)
  }

  test("tarjan finds the expected SCC structure") {
    // 0 <-> 1, 2 alone (reachable from 1, no way back)
    val adj = Array(List(1), List(0, 2), List.empty[Int])
    val sccs = Markov.tarjanScc(3, adj).map(_.sorted).sortBy(_.head)
    assert(sccs == List(List(0, 1), List(2)))
  }

  test("gcd") {
    assert(Markov.gcd(12, 18) == 6)
    assert(Markov.gcd(7, 13) == 1)
  }

  // ---- run merge and pair count --------------------------------------

  /** (user_id, ts, event_id, event_type), None for a null. */
  private type Ev = (Option[Long], Option[Long], Option[Long], String)

  private def event(e: Ev): Markov.Event = {
    val bits = e._2.fold(1)(_ => 0) + e._3.fold(2)(_ => 0) + e._1.fold(4)(_ => 0)
    Markov.Event(e._1.getOrElse(0L), e._2.getOrElse(0L), e._3.getOrElse(0L), e._4, bits)
  }

  /** A run's events as (ts, event_id, event_type). */
  private def events(r: Markov.Run): Seq[(Option[Long], Option[Long], String)] =
    r.state.indices.map { i =>
      (if ((r.nulls(i) & 1) != 0) None else Some(r.ts(i)),
       if ((r.nulls(i) & 2) != 0) None else Some(r.event_id(i)),
       if (r.state(i) < 0) null else r.types(r.state(i)))
    }

  private val nullsFirst: Ordering[(Option[Long], Option[Long])] = Ordering.Tuple2[Option[Long], Option[Long]]

  /** The per-user lead pairs: each user's events sorted by (ts,
    * event_id), nulls first, and each adjacent pair with a non-null
    * next type counted. */
  private def leadPairs(evs: Seq[Ev]): Map[(String, String), Long] =
    evs.groupBy(_._1).values.toSeq
      .flatMap(_.sortBy(e => (e._2, e._3))(nullsFirst).map(_._4).sliding(2).collect {
        case Seq(cur, next) if next != null => (cur, next)
      })
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("runs: one sorted run per user, nulls first, ts ties by event_id, the null user one run") {
    val in = Seq[Ev](
      (Some(1), Some(100), Some(11), "b"), (Some(1), Some(100), Some(9), "a"),
      (None, Some(5), Some(3), "c"), (Some(1), None, Some(20), null),
      (Some(2), Some(7), Some(1), "a"), (Some(1), Some(100), None, "c"), (None, Some(4), Some(4), "a"))
    val runs = Markov.runs(in.iterator.map(event)).map(r => r.user_id -> r).toMap
    assert(runs.keySet == Set(Some(1L), Some(2L), None))
    assert(events(runs(Some(1L))) == Seq(
      (None, Some(20L), null), (Some(100L), None, "c"), (Some(100L), Some(9L), "a"), (Some(100L), Some(11L), "b")))
    assert(events(runs(None)) == Seq((Some(4L), Some(4L), "a"), (Some(5L), Some(3L), "c")))
    assert(events(runs(Some(2L))) == Seq((Some(7L), Some(1L), "a")))
    // one split, one dictionary
    assert(runs.values.map(_.types.toSeq).toSet.size == 1)
  }

  test("merge: runs from several splits, in any order, make one sorted run; one run passes as it is") {
    val a = Markov.runs(Iterator((Some(1L), Some(10L), Some(1L), "x"), (Some(1L), Some(30L), Some(3L), "y")).map(event)).next()
    val b = Markov.runs(Iterator((Some(1L), Some(20L), Some(2L), "z"), (Some(1L), None, Some(9L), "y"),
      (Some(1L), Some(30L), Some(2L), null)).map(event)).next()
    assert(a.types.toSeq != b.types.toSeq)
    for (order <- Seq(Seq(a, b), Seq(b, a))) {
      val m = Markov.merge(order)
      assert(m.user_id.contains(1L))
      assert(events(m) == Seq((None, Some(9L), "y"), (Some(10L), Some(1L), "x"), (Some(20L), Some(2L), "z"),
        (Some(30L), Some(2L), null), (Some(30L), Some(3L), "y")))
    }
    assert(Markov.merge(Seq(a)) eq a)
  }

  test("PairCounts: a null cur counts, a null next does not, a single event adds nothing") {
    val counts = new Markov.PairCounts
    val in = Seq[Ev]((Some(1), Some(1), Some(1), "a"), (Some(1), Some(2), Some(2), null),
      (Some(1), Some(3), Some(3), "b"), (Some(1), Some(4), Some(4), "b"), (Some(2), Some(1), Some(5), "a"))
    Markov.runs(in.iterator.map(event)).foreach(counts.add)
    assert(counts.rows.toSet == Set[(String, String, Long)]((null, "b", 1L), ("b", "b", 1L)))
  }

  test("runs, exchange and pairCounts give the lead pairs over random splits and tasks") {
    for (seed <- 1 to 30) withClue(s"seed $seed: ") {
      val rnd = new scala.util.Random(seed)
      def maybe[A](p: Double, a: => A): Option[A] = if (rnd.nextDouble() < p) None else Some(a)
      val evs = (1 to 1 + rnd.nextInt(300)).map { i =>
        (maybe(0.05, rnd.nextInt(12).toLong), maybe(0.05, rnd.nextInt(40).toLong), maybe(0.05, i.toLong),
          if (rnd.nextDouble() < 0.1) null else Seq("a", "b", "c", "d")(rnd.nextInt(4)))
      }
      // distinct event_ids keep each user's order total, even on null ts
      val ev = evs.filter(e => e._3.isDefined || !evs.exists(o => (o ne e) && o._1 == e._1 && o._2 == e._2 && o._3.isEmpty))
      val splits = rnd.shuffle(ev).grouped(1 + rnd.nextInt(ev.size max 1)).toSeq
      val records = rnd.shuffle(splits.flatMap(s => Markov.runs(s.iterator.map(event)).toSeq))
      val tasks = 1 + rnd.nextInt(4)
      val got = records.groupBy(r => math.floorMod(r.user_id.hashCode, tasks)).values.toSeq
        .flatMap(rs => Markov.pairCounts(rs.iterator))
        .groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).sum }
      assert(got == leadPairs(ev))
    }
  }
}

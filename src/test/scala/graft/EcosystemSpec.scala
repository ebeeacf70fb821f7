package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ecosystem, Relational}

/** Invariant tests for the ecosystem + relational operators. */
class EcosystemSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("transition probabilities are row-stochastic per cur_event") {
    val rows = Ecosystem.transitions(spark, TestSpark.sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (cur, rs) =>
      val s = rs.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-3, s"$cur: probabilities sum to $s")
    }
  }

  /** The formulation `transitions` replaced: `lead(event_type)` over
    * each user's events in (ts, event_id) order. */
  private def leadWindowTransitions(dir: String): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lead, lit, round, sum}
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    graft.sources.Tables.events(spark, dir)
      .withColumn("next_event", lead(col("event_type"), 1).over(w))
      .filter(col("next_event").isNotNull)
      .groupBy(col("event_type").as("cur_event"), col("next_event"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(Window.partitionBy(col("cur_event"))), 6))
      .collect().map(_.toString).sorted.toSeq
  }

  private def transitionRows(dir: String): Seq[String] = {
    val df = Ecosystem.transitions(spark, dir)
    assert(df.columns.toSeq == Seq("cur_event", "next_event", "n", "p"))
    df.collect().map(_.toString).sorted.toSeq
  }

  test("transitions equal the lead-window formulation on every split layout") {
    import org.apache.spark.sql.functions.col
    for (sf <- Seq(TestSpark.sf, new java.io.File(TestSpark.sf).getParent + "/sf0.01")) {
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val layouts = Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        _.coalesce(1),
        _.repartition(16),
        _.repartition(7, col("user_id")).sortWithinPartitions(col("event_id").desc))
      for (layout <- layouts) {
        val dir = java.nio.file.Files.createTempDirectory("graft_transitions").toString
        layout(raw).write.parquet(s"$dir/events.parquet")
        val splits = graft.sources.Tables.events(spark, dir).rdd.getNumPartitions
        val want = leadWindowTransitions(dir)
        assert(want.size > 1)
        assert(transitionRows(dir) == want, s"$sf in $splits splits")
      }
    }
  }

  test("transitions equal the lead-window formulation on nulls, ts ties and users split across files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val L = java.lang.Long.valueOf(_: Long)
    // (event_id, ts seconds, user_id, event_type); no user has two
    // events with equal (ts, event_id), so the order is total
    val hand = Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String)](
      // user 1: a null ts first, a null event_id first among ts = 100,
      // then ts ties broken by event_id, a null type as cur and as next
      (L(12), null, L(1), "b"), (null, L(100), L(1), "a"), (L(9), L(100), L(1), "c"),
      (L(10), L(100), L(1), "a"), (L(11), L(100), L(1), "b"), (L(13), L(200), L(1), null),
      (L(14), L(300), L(1), "a"),
      // single-event users, one of them with a null type
      (L(15), L(50), L(2), "c"), (L(16), L(50), L(3), null),
      // the null user is one group
      (L(20), L(50), null, "a"), (L(21), L(60), null, "b"), (L(22), L(60), null, null),
      (L(23), null, null, "c"),
      // null ts and event_id together sort ahead of a null ts alone
      (L(30), null, L(4), "a"), (L(31), null, L(4), "b"), (L(29), null, L(4), "c"),
      (null, null, L(4), "b"))
    // user 5's events are dealt round-robin over every file
    val spread = (0 until 60).map(i => (L(100L + i), L(1000L + (i * 37) % 60), L(5), Seq("a", "b", "c")(i * 7 % 3)))
    val dir = java.nio.file.Files.createTempDirectory("graft_transitions_nulls").toString
    (hand ++ spread)
      .map { case (id, sec, user, typ) => (id, if (sec == null) null else L(sec * 1000000000L), user, typ, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.parquet(s"$dir/events.parquet")
    val files = spark.read.parquet(s"$dir/events.parquet").filter($"user_id" === 5)
      .select(input_file_name()).distinct().count()
    assert(files > 1, s"user 5 sits in $files file")
    val want = leadWindowTransitions(dir)
    assert(want.exists(_.startsWith("[null,")), s"no null cur_event row in $want")
    assert(transitionRows(dir) == want)
  }

  test("hopping windows: every event lands in exactly two windows") {
    val hop = Ecosystem.hoppingCounts(spark, TestSpark.sf).collect()
    val total = graft.sources.Tables.events(spark, TestSpark.sf).count()
    assert(hop.map(_.getLong(2)).sum == 2 * total,
      "10min/5min hop must double-count each event exactly once")
    // window starts align to the 5-minute hop grid
    assert(hop.forall(_.getLong(0) % 300 == 0), "starts must sit on the hop grid")
  }

  test("importance rows do not depend on the events scan's split layout") {
    // the query averages doubles over whatever splits the scan brings;
    // one file, many files and a reordered many-file copy must all
    // round to the same scores
    import org.apache.spark.sql.functions.col
    for (sf <- Seq(TestSpark.sf, new java.io.File(TestSpark.sf).getParent + "/sf0.01")) {
      val raw = spark.read.parquet(s"$sf/events.parquet")
      val layouts = Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        _.coalesce(1),
        _.repartition(16),
        _.repartition(7, col("user_id")).sortWithinPartitions(col("event_id").desc))
      val results = layouts.map { layout =>
        val dir = java.nio.file.Files.createTempDirectory("graft_importance").toString
        layout(raw).write.parquet(s"$dir/events.parquet")
        val splits = graft.sources.Tables.events(spark, dir).rdd.getNumPartitions
        splits -> Ecosystem.importance(spark, dir).collect().map(_.toString).sorted.toSeq
      }
      assert(results.head._1 == 1, s"$sf: the one-file copy scanned as ${results.head._1} splits")
      assert(results.tail.forall(_._1 > 1), s"$sf: split counts ${results.map(_._1)}")
      results.tail.foreach { case (n, rows) =>
        assert(rows == results.head._2, s"$sf: $n splits give $rows, one split ${results.head._2}")
      }
    }
  }

  test("graft_json_int ahead of get_json_object equals get_json_object alone, row for row (property)") {
    // importance reads props.k as coalesce(graft_json_int(p, 'k'),
    // get_json_object(p, '$.k').cast("int")); the kernel may answer
    // only where its int is what the fallback gives
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{coalesce, col, get_json_object, lit}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.plans.Kernels
    def q(x: String) = "\"" + x + "\""
    val intTok = Gen.frequency(
      8 -> Gen.choose(-1000, 1000).map(_.toString),
      3 -> Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString),
      2 -> Gen.oneOf("0", "-0", "00", "007", "-01", "2147483647", "-2147483648", "2147483648",
        "-2147483649", "9999999999", "123456789012345678", "1234567890123456789",
        "99999999999999999999"),
      2 -> Gen.oneOf("1.5", "1.0", "-0.0", "1e3", "1E0", "2e-1", "1.", ".5", "+1", "-", "0x1F",
        q("5"), q("-7"), q("x"), "null", "true", "false", "NaN", "Infinity",
        "{\"a\": 1}", "[1]", "[]", "{}"))
    val valueTok = Gen.frequency(
      4 -> Gen.choose(-1e6, 1e6).map(_.toString),
      3 -> Gen.oneOf("x", "", "hello world", "a/b", "\u007f").map(q),
      2 -> Gen.oneOf(q("a\\\"b"), q("\\u0041"), q("caf\u00e9"), q("tab\there"), q("\"open"),
        "true", "false", "null", "tru", "nul", "01", "1.", "-", "1e", "[1, 2]", "{\"k\": 1}", "{}"))
    val keyTok = Gen.frequency(
      8 -> Gen.oneOf("a", "kk", "K", "k2", "species", "").map(q),
      1 -> Gen.oneOf(q("\\u006b"), q("k "), q("\u006b\u0301"), "k", "'k'", q("caf\u00e9")))
    val spaced = Gen.frequency(4 -> Gen.const(""), 3 -> Gen.const(" "), 1 -> Gen.oneOf("  ", "\n", "\t", "\r\n"))
    val objGen = for {
      nK <- Gen.frequency(8 -> Gen.const(1), 1 -> Gen.const(0), 1 -> Gen.const(2))
      ks <- Gen.listOfN(nK, intTok.map(q("k") -> _))
      nOther <- Gen.choose(0, 3)
      others <- Gen.listOfN(nOther, Gen.zip(keyTok, valueTok))
      members <- Gen.pick(ks.size + others.size, ks ++ others).map(_.toList)
      a <- spaced; b <- spaced; c <- spaced; lead <- spaced
      body = members.map { case (k, v) => s"$k$a:$b$v" }.mkString(lead + "{" + c, s"$a,$b", c + "}")
      cut <- Gen.frequency(12 -> Gen.const(body.length), 1 -> Gen.choose(0, body.length))
      tail <- Gen.frequency(10 -> Gen.const(""), 2 -> spaced, 1 -> Gen.oneOf("x", "}", ",", "{}", "\u0000"))
    } yield body.take(cut) + tail
    val propsGen = Gen.frequency(30 -> objGen,
      1 -> Gen.oneOf(null, "", "[]", "5", q("k"), "null", "[{\"k\": 1}]", "{\"k\": 1} {\"k\": 2}",
        "{\"k\": 1 \"a\": 2}", "{\"k\" 1}", "{k: 1}", "{'k': 1}", "{\"k\": 1,}", "{,\"k\": 1}"))

    val fallback = get_json_object(col("p"), "$.k").cast("int")
    val kernel = Kernels("graft_json_int", col("p"), lit("k"))
    val session = spark.newSession()
    // a failing cast is NULL here, so one frame holds every row; under
    // ANSI the fallback then raises on the same rows, since the kernel
    // answers only where the fallback's text is the int itself
    session.conf.set("spark.sql.ansi.enabled", "false")
    import session.implicits._
    var answered = 0
    def compare(values: Seq[String]): Unit = {
      val in = values.zipWithIndex.toDF("p", "idx")
      // a local frame folds its projection at planning (interpreted
      // eval); a repartitioned one runs it in generated code
      for (frame <- Seq(in, in.repartition(3))) {
        val rows: Array[Row] = frame.select(col("idx"), coalesce(kernel, fallback), fallback, kernel,
            get_json_object(col("p"), "$.k"))
          .collect().sortBy(_.getInt(0))
        assert(rows.length == values.length)
        for (r <- rows) {
          val p = values(r.getInt(0))
          assert(r.get(1) == r.get(2), s"props $p: with the kernel ${r.get(1)}, get_json_object alone ${r.get(2)}")
          if (!r.isNullAt(3)) {
            answered += 1
            assert(r.getString(4) == r.getInt(3).toString, s"props $p: kernel ${r.get(3)}, text ${r.get(4)}")
          }
        }
      }
    }
    val props = Prop.forAllNoShrink(Gen.listOfN(400, propsGen)) { ps => compare(ps); true }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), props)
    assert(res.passed, res.status match {
      case SCTest.PropException(_, e, _) => e.getMessage
      case other => other.getClass.getSimpleName
    })
    assert(answered > 1000, s"the kernel answered only $answered rows")
    // the shapes the engine reads: the generator's and json.dumps'
    val accepted = Seq("""{"k": 69}""", """{"k":0}""", """{"species": "ant", "k": -3}""")
      .toDF("p").select(kernel).collect().map(_.get(0)).toSeq
    assert(accepted == Seq(69, 0, -3))
    // under ANSI (the default) an unparseable fallback raises with and
    // without the kernel
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    for (p <- Seq("""{"k": 3000000000}""", """{"k": "x"}""")) withClue(p) {
      val ansi = spark.createDataFrame(java.util.Arrays.asList(Row(p)),
        org.apache.spark.sql.types.StructType.fromDDL("p STRING")).repartition(1)
      def raised(c: org.apache.spark.sql.Column): Class[_] =
        intercept[Exception](ansi.select(c).collect()).getClass
      assert(raised(coalesce(kernel, fallback)) == raised(fallback))
    }
  }

  test("stats shares sum to 1") {
    val shares = Ecosystem.stats(spark, TestSpark.sf).collect().map(_.getDouble(4))
    assert(math.abs(shares.sum - 1.0) < 1e-3)
  }

  test("dgim-exact error counts are bounded by window totals") {
    Ecosystem.dgimExact(spark, TestSpark.sf).collect().foreach { r =>
      assert(r.getLong(1) <= r.getLong(2))
    }
  }

  test("generator is deterministic and complete") {
    val a = Ecosystem.genEvents(spark, TestSpark.sf).collect()
    val b = Ecosystem.genEvents(spark, TestSpark.sf).collect()
    assert(a.length == 1000)
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    val types = a.map(_.getString(2)).distinct.sorted
    assert(types.sameElements(Array("click", "error", "purchase", "signup", "view")))
  }

  test("uuid() synthetic ids: RFC-4122 v4 format, unique per row (F13)") {
    // producer.py:15 uses uuid.uuid4 per event; the declared
    // generator substitutes md5-of-id for oracle determinism, and
    // genEventsUuid is the same generator with the real codegen'd
    // uuid() swapped back in
    val ids = Ecosystem.genEventsUuid(spark).select("synth_id")
      .collect().map(_.getString(0))
    assert(ids.length == 1000)
    assert(ids.distinct.length == 1000, "uuid() must be unique per row")
    val v4 = "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}".r
    assert(ids.forall(v4.matches), s"non-v4 uuid: ${ids.find(!v4.matches(_))}")
  }

  test("json guard counts corrupt rows without dropping good ones") {
    val rows = Ecosystem.jsonGuard(spark, TestSpark.sf).collect()
    val nBad = rows.map(_.getLong(2)).sum
    val nTotal = rows.map(_.getLong(1)).sum
    assert(nBad > 0, "the deterministic corruption slice must be non-empty")
    assert(nBad < nTotal / 10, "only the event_id % 97 slice is corrupted")
  }

  test("set-ops single-pass rewrite classifies statuses") {
    val rows = Relational.q10SetOps(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("except", "intersect")(r.getString(0))))
  }

  test("ts roundtrip preserves event counts") {
    val n = Ecosystem.tsRoundtrip(spark, TestSpark.sf).collect().map(_.getLong(1)).sum
    assert(n == graft.sources.Tables.events(spark, TestSpark.sf).count())
  }

  test("sessionization: 30-min gap splits, events inside the gap merge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sessions").toString
    val base = 1700000000L * 1000000000L // epoch nanos, as events.parquet stores ts
    def ev(id: Long, user: Long, offsetSec: Long) =
      (id, base + offsetSec * 1000000000L, user, "click", 1.0, """{"k":1}""")
    // user 1: events at 0s, 600s (same session), 600+1801s (new
    // session: the gap is strictly > 1800); user 2: one lone event
    Seq(ev(1, 1, 0), ev(2, 1, 600), ev(3, 1, 2401), ev(4, 2, 50))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Ecosystem.sessions(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 3, s"expected 3 sessions: $out")
    assert(out((1L, 1L)) == ((2L, 600L)), "first session holds both events, 600s long")
    assert(out((1L, 2L)) == ((1L, 0L)), "post-gap event opens a fresh session")
    assert(out((2L, 1L)) == ((1L, 0L)), "lone event is its own session")
  }

}

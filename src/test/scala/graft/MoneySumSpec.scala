package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.operators.Relational

/** The split-long money accumulation (Relational.splitSum) must be a
  * pure performance substitution: bit-identical output to the
  * DECIMAL(18,2) formulation on every measure, on every layout. The
  * DuckDB oracle pins Spark↔oracle equality at sf0.01; this pins the
  * Spark-side split-long↔decimal equality including double bit
  * patterns (doubleToLongBits, not ==, so a -0.0/ulp drift cannot
  * hide), and re-checks under a different partition layout so the
  * order-independence claim is exercised, not assumed. */
class MoneySumSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }.toSeq).toSeq.sortBy(_.toString)

  test("q1 split-long form equals the DECIMAL form bit-for-bit") {
    val fast = canon(SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sf).collect())
    val dec = canon(Relational.q1PricingSummaryDecimal(spark, TestSpark.sf).collect())
    assert(fast == dec, "split-long money sums drifted from the decimal anchor")
  }

  test("split-long money sums are partition-layout independent (q1/q3/q5/q11)") {
    for (q <- Seq("q1_pricing_summary", "q3_revenue_by_nation",
        "q5_revenue_by_region", "q8_cube", "q11_parts_by_brand",
        "q12_priority", "q14_range_join", "eco_stats")) {
      val base = canon(SparkEntry.queries(q)(spark, TestSpark.sf).collect())
      val relaid = canon(
        SparkEntry.queries(q)(spark, TestSpark.sf).repartition(7).collect())
      // repartition after the agg only reshuffles the RESULT — instead
      // re-run with a different shuffle width to move the partial-agg
      // boundaries
      TestSpark.withConf("spark.sql.shuffle.partitions" -> "3") {
        val alt = canon(SparkEntry.queries(q)(spark, TestSpark.sf).collect())
        assert(base == alt, s"$q drifted across shuffle widths")
      }
      assert(base == relaid, s"$q unstable under result repartition")
    }
  }

  test("splitSum recombination is exact past 2^63 total units") {
    // The split protects the PARTIAL long sums; the recombination
    // sum(hi)·M + sum(lo) must happen in decimal — in long it would
    // wrap at the same ~9.2e18-unit threshold the naive sum does.
    // Four rows of 2.5e18 units total 1e19 > Long.MaxValue: a long
    // recombination goes negative, the decimal one is exact.
    import spark.implicits._
    import graft.functions.Money
    val units = 2500000000000000000L // 2.5e18
    val df = Seq.fill(4)(units).toDF("u")
    val got = df.agg(Money.splitSum("u", 100L).as("s")).head().getDouble(0)
    val want = (BigDecimal(units) * 4 / 100).toDouble
    assert(got == want, s"recombination wrapped: got $got want $want")
    assert(got > 0, "recombination went negative — long wrap")
  }

  test("moneyUnitsChecked trips on a 3-decimal column, passes clean ones") {
    import spark.implicits._
    import graft.functions.Money
    val clean = Seq(1.25, -17.10, 99999.99, 0.0).toDF("c")
    val cleanUnits = clean.select(Money.moneyUnitsChecked($"c").as("u"))
      .as[Long].collect().sorted
    assert(cleanUnits.toSeq == Seq(-1710L, 0L, 125L, 9999999L))
    val dirty = Seq(1.25, 3.141).toDF("c")
    val ex = intercept[Exception] {
      dirty.select(Money.moneyUnitsChecked($"c").as("u")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("moneyUnits contract")),
      s"expected the contract guard to trip, got: ${msgs(ex)}")
  }

  test("moneyUnitsChecked propagates NULL instead of raising (round-14 advice)") {
    // assert_true RAISES when its condition is null, and
    // abs(null − round(null)) is null — the naive guard turned a
    // nullable money column into a runtime error (with a null
    // message). The guard must treat NULL like moneyUnits: pass
    // through, yield NULL.
    import spark.implicits._
    import graft.functions.Money
    val df = Seq(Some(1.25), None, Some(-17.10)).toDF("c")
    val got = df.select(Money.moneyUnitsChecked($"c").as("u"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(got == Set(Some(125L), None, Some(-1710L)),
      s"null must propagate and clean rows still convert, got $got")
    // and a dirty row alongside a null still trips with a REAL message
    val ex = intercept[Exception] {
      Seq(Some(3.141), None).toDF("c")
        .select(Money.moneyUnitsChecked($"c").as("u")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("moneyUnits contract")),
      s"dirty row must still trip the guard, got: ${msgs(ex)}")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the SURVEY §8 scale probe.
  *
  * Reads the driver-generated tables at a source SF dir and writes a
  * `factor`× volume copy with FK-consistent key shifts, so every
  * declared query runs unchanged against the output dir. No RNG
  * anywhere — replica `i` of a row is a pure function of the source
  * row and `i`, so the generated corpus is bit-reproducible and two
  * runs of any query over it must agree.
  *
  * Scale model (what "10× volume" means here):
  *  - fact tables (`orders`/`lineitem`/`events`) and entity tables
  *    (`customer`/`supplier`/`part`/`documents`/`embeddings`) get
  *    `factor` replicas with every int64 entity key shifted by
  *    `i * 1_000_000` (all source keys are < 1e6, checked below), so
  *    joins stay key-consistent per replica and key cardinality
  *    scales with volume — distinct-user sketches, dedup groups and
  *    sampling strata all see a genuinely larger domain;
  *  - the fixed dims (`region`/`nation`, 5/25 rows) copy once —
  *    broadcast-sized at any SF, exactly like TPC-H;
  *  - document TEXT is perturbed per replica (replica 0 verbatim) by
  *    appending a short replica tag, with `n_chars` updated to match:
  *    identical copies would exact-dup-collapse back to source volume
  *    and the near-dup trunk (the engine's scale-critical path) would
  *    measure NOTHING at the larger SF. The tag makes replicas of one
  *    doc near-dups of each other — a crawl-with-boilerplate-deltas
  *    corpus — so the LSH band join, verify explode and cluster CC
  *    all carry `factor`× real work. By default EVERY replica joins
  *    the clique, so pair output grows as C(factor, 2) per source doc
  *    — deliberate adversarial stress at ≤30×, but past that it
  *    measures the generator's quadratic contract, not the engine. An
  *    optional `cliqueCap` bounds it: replicas `i < cliqueCap` keep
  *    the tag scheme (cliques of exactly `cliqueCap`), replicas
  *    `i >= cliqueCap` become SINGLETONS — every token gap is salted
  *    with a (doc, replica)-unique token, so no 3-shingle of the
  *    source (or of any other doc) survives and the doc near-dups
  *    nothing.
  *    That is the statistically-bounded cluster width a real crawl
  *    has, and it makes the pair family's output LINEAR in factor —
  *    the regime where the pair-linear scaling claim is testable;
  *  - embeddings get component 0 shifted by `i * 0.001f` (replica 0
  *    verbatim): distinct vectors, stable norms, so brute-force kNN,
  *    SRP buckets and IVF training see `factor`× distinct points
  *    rather than degenerate exact ties.
  *
  * Timestamps are left as-is: more events/orders in the same period
  * is the realistic densification, and windowed-agg key counts then
  * scale via the user/order dimension, not the calendar.
  *
  * Usage: ScaleGen <srcSfDir> <outDir> <factor> [cliqueCap]
  */
object ScaleGen {
  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleGen <srcSfDir> <outDir> <factor> [cliqueCap]")
    val src = args(0); val out = args(1)
    val factor = args(2).toInt
    val cliqueCap = if (args.length == 4) args(3).toInt else 0
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(cliqueCap >= 0, s"cliqueCap must be >= 0, got $cliqueCap")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    run(spark, src, out, factor, cliqueCap)
    spark.stop()
  }

  private[graft] def run(spark: SparkSession, src: String, out: String, factor: Int,
      cliqueCap: Int = 0): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // Guard the stride invariant against a future testdata regen: a
    // key at/above the stride would alias across replicas and silently
    // break FK consistency.
    val keyed = Seq(
      "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"), "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    for ((t, ks) <- keyed; k <- ks) {
      val mx = read(t).agg(max(col(k))).head.getLong(0)
      require(mx < Stride, s"$t.$k max $mx >= stride $Stride; raise Stride")
    }

    def replicated(name: String, shiftKeys: Seq[String])(
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(name)
      (0 until factor).map { i =>
        val shifted = shiftKeys.foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * Stride))
        }
        perReplica(shifted, i)
      }.reduce(_ union _)
    }

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicated("customer", Seq("c_custkey"))())
    write("supplier", replicated("supplier", Seq("s_suppkey"))())
    write("part", replicated("part", Seq("p_partkey"))())
    write("orders", replicated("orders", Seq("o_orderkey", "o_custkey"))())
    write("lineitem", replicated("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))())
    write("events", replicated("events", Seq("event_id", "user_id"))())
    write("documents", replicated("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else if (cliqueCap <= 0 || i < cliqueCap) {
        // short enough to leave quality/language stats essentially
        // unchanged, long enough to alter shingles near the tail
        val tag = s" #r$i"
        d.withColumn("text", concat(col("text"), lit(tag)))
          .withColumn("n_chars", col("n_chars") + lit(tag.length.toLong))
      } else {
        // singleton replica: salt EVERY token gap with a token unique
        // to THIS (doc, replica) — the shifted doc_id is globally
        // unique, so every 3-shingle of the salted text contains a
        // token no other document anywhere has, making its shingle
        // set fully disjoint from its source family AND from every
        // other salted doc (a per-replica-only salt would leak
        // (salt, tok, salt) shingles shared by any two docs with a
        // common token — spurious candidate mass). The near-dup trunk
        // sees fresh corpus, not clique growth. Deterministic: pure
        // function of (source row, i).
        d.withColumn("text", regexp_replace(col("text"), lit(" "),
            concat(lit(s" q${i}d"), col("doc_id"), lit("z "))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    })
    write("embeddings", replicated("embeddings", Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          when(j === 0, (x + lit(i * 0.001f)).cast("float")).otherwise(x)))
    })
  }
}

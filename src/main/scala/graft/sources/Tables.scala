package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated deterministic testdata tables
  * (TESTDATA.md): a TPC-H-ish star schema plus `events` (the stream
  * table standing in for the reference's Kafka `insect-events` topic,
  * cf. /root/reference/model/producer.py:52), `documents` and
  * `embeddings` (LLM-pipeline tables).
  *
  * At scale these reads are plain columnar parquet scans: Catalyst
  * pushes filters and prunes columns into the scan, so callers should
  * express predicates/projections on the returned DataFrame rather
  * than materializing intermediate state (the reference instead keeps
  * seven in-memory hash indexes, consumer.py:23-29 — unnecessary on
  * Spark where the scan itself is the index at 100 TB).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's reader
    * rejects by default (PARQUET_TYPE_ILLEGAL), so it is read as a
    * nanos LONG via the legacy conf and converted with integer `div`
    * (no double roundtrip; ns epoch values exceed 2^53) — and plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    * TIMESTAMP_NTZ. Normalize BOTH to session-zone TimestampType at
    * microsecond precision so every downstream operator (windows,
    * unix_timestamp, watermarks) sees one type. All graft sessions
    * pin spark.sql.session.timeZone=UTC, so the NTZ cast is
    * value-preserving (wall-clock == epoch micros).
    *
    * The nanosAsLong conf is normally set once at session
    * construction (Verify/Bench builders, test harness); the set here
    * is a defensive idempotent fallback for driver-owned sessions
    * that haven't, and only affects parquet nanos columns (no other
    * testdata table has any). A save/restore around this call would
    * be unsound, not just ugly: the returned scan is LAZY, so the
    * conf must still hold whenever a downstream action finally
    * executes it — which is why the fallback is a sticky idempotent
    * set rather than a scoped one. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TimestampType cast below is value-preserving ONLY under
    // a UTC session zone; every in-repo session pins it, but a
    // driver-owned session that hasn't would silently shift every ts
    // by its zone offset. Same sticky-idempotent-set reasoning as
    // nanosAsLong above: the scan is lazy, so a scoped save/restore
    // would be unsound — the conf must still hold at action time.
    if (s.conf.get("spark.sql.session.timeZone") != "UTC") {
      // Loud, not silent: a driver-owned non-UTC session is having a
      // global conf rewritten under it — the alternative (a shifted
      // ts column) is worse, but the owner must be able to see why
      // their unrelated queries changed zone.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft: overriding spark.sql.session.timeZone={} -> UTC for the " +
          "events scan's NTZ cast (sticky; the lazy scan needs it at action time)",
        s.conf.get("spark.sql.session.timeZone"))
      s.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as $other; expected nanos LONG, TIMESTAMP_NTZ or TIMESTAMP")
    }
  }
  /** Spread a narrow scan across the cluster before per-row CPU work
    * (JSON parsing, hashing, shingling): a small table arrives as one
    * parquet split — parquet can't split inside a row group — and
    * without this every per-row expression downstream runs as ONE
    * task no matter how many cores the session has. At real scale the
    * scan is already wider than the session's parallelism and this is
    * the identity; the round-robin shuffle only ever moves a table
    * small enough to have arrived in fewer splits than cores.
    *
    * PRECONDITION: pass an exchange-free plan (a raw scan plus
    * narrow projections/filters). `.rdd.getNumPartitions` plans but
    * runs no job ONLY for such plans — with AQE enabled, `df.rdd` on
    * a plan containing exchanges materializes its query stages
    * (real jobs) right here at construction time. Every current
    * caller passes a raw table scan plus at most a narrow
    * filter/projection (e.g. LinkGraph.pagesOf, Llm.langId).
    *
    * Round-robin output inherits the input split boundaries and the
    * host's core count, so callers whose results must not depend on
    * the layout (bit-reproducible codebooks) use `pinnedLayout`. */
  def widened(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Layout-INDEPENDENT pinned widen: hash-partition on `key` into
    * exactly `width` partitions and sort each partition by `key`, so
    * both the row→partition assignment and the within-partition fold
    * order are functions of the data alone — never of file split
    * sizing, input partition count, or host core count. Use it where
    * a float partial-sum must be bit-reproducible across hosts AND
    * input layouts, e.g. Lloyd codebook training. Costs a hash
    * exchange plus an in-partition sort — fine for sampled/training-
    * sized inputs; don't put it on a corpus-sized scan that doesn't
    * need bit-stability. `key` must be unique (a row id) for the
    * within-partition order to be total. */
  def pinnedLayout(df: DataFrame, width: Int, key: String): DataFrame =
    df.repartition(width, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key)

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fingerprint of one table's backing files (names, sizes, mtimes
    * via the same Hadoop FS the read uses) — the cache key for
    * per-dir persisted snapshots (the `llm_ann_probe` pattern), so
    * data REPLACED under the same path invalidates a snapshot instead
    * of serving stale results. */
  def inputFingerprint(s: SparkSession, d: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts =
      try fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").sorted
      catch {
        // an UNLISTABLE input yields a never-repeating fingerprint:
        // a transient FS failure must force a rebuild, never serve a
        // snapshot of data the cache can no longer vouch for. Growth
        // under a PERSISTENTLY unlistable FS is bounded by Snapshots'
        // superseded-entry eviction: each rebuilt generation evicts
        // the previous one for the same group, so at most one
        // snapshot per group ever lives at once.
        case _: java.io.IOException =>
          Array(s"unlistable:$d:${System.nanoTime()}")
      }
    java.lang.Long.toHexString(
      parts.foldLeft(17L)((h, str) => h * 31 + str.hashCode))
  }
}

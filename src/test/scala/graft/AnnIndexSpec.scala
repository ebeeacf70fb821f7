package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Llm

/** The IVFADC index's build/probe contract (the production "train
  * once, encode once, probe many" shape): `buildAnnIndex` returns
  * three plain DataFrames, so persisting the index is a parquet
  * write; a probe against the RELOADED tables must equal both the
  * in-memory probe and the registry query (`llm_ann_ivfpq`), which
  * composes the same halves. Complements IvfIndexSpec (which pins
  * the partition-pruned read of a cluster-bucketed codes table —
  * the on-disk layout `AnnIndex.codes` is written in at scale). */
class AnnIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  test("AnnIndex parquet round-trip probes identically to the in-memory index and the registry query") {
    import spark.implicits._
    val dir = TestSpark.sf
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", expr("sqrt(aggregate(v, cast(0.0 AS double), (a, x) -> a + x * x))"))
    val probes = all.filter(col("vec_id") < 10).select(col("vec_id"), col("v"), col("nrm"))

    val built = Llm.buildAnnIndex(spark, all.select(col("vec_id"), col("v")))
    val inMem = canon(Llm.probeAnnIndex(spark, built, probes, all))

    val registry = canon(SparkEntry.queries("llm_ann_ivfpq")(spark, dir))
    assert(inMem == registry,
      "build+probe composition must equal the registry query")

    val tmp = java.nio.file.Files.createTempDirectory("graft_ann_index").toString
    try {
      built.centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
      built.books.write.mode("overwrite").parquet(s"$tmp/books")
      built.codes.write.mode("overwrite").parquet(s"$tmp/codes")
      val reloaded = Llm.AnnIndex(
        spark.read.parquet(s"$tmp/centroids"),
        spark.read.parquet(s"$tmp/books"),
        spark.read.parquet(s"$tmp/codes"))
      val viaDisk = canon(Llm.probeAnnIndex(spark, reloaded, probes, all))
      assert(viaDisk == inMem,
        "a parquet-reloaded index must probe identically to the in-memory one")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("appendAnnIndex: encode-only add against the frozen model is bit-identical to the full build") {
    import spark.implicits._
    val dir = TestSpark.sf
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", expr("sqrt(aggregate(v, cast(0.0 AS double), (a, x) -> a + x * x))"))
    val probes = all.filter(col("vec_id") < 10).select(col("vec_id"), col("v"), col("nrm"))
    val full = Llm.buildAnnIndex(spark, all.select(col("vec_id"), col("v")))

    // simulate a crawl append: strip the codes of the "new" half,
    // keep the trained model, then add() the half back encode-only
    val split = 250L
    val stripped = Llm.AnnIndex(full.centroids, full.books,
      full.codes.filter(col("vec_id") < split))
    val appended = Llm.appendAnnIndex(spark, stripped,
      all.filter(col("vec_id") >= split).select(col("vec_id"), col("v")))

    // same model + same encode arithmetic → codes bit-identical to
    // what the full build emitted for those vectors
    assert(canon(appended.codes) == canon(full.codes),
      "appended codes must equal the full build's codes bit-for-bit")
    // and therefore the appended index probes identically
    val viaAppend = canon(Llm.probeAnnIndex(spark, appended, probes, all))
    val viaFull = canon(Llm.probeAnnIndex(spark, full, probes, all))
    assert(viaAppend == viaFull,
      "an appended index must probe identically to a fully-built one")
    // the append pass itself touches only the new batch: its plan
    // must not retrain (no Lloyd job) — structurally guaranteed
    // (appendAnnIndex never iterates), so just pin the count shape
    assert(appended.codes.count() == full.codes.count())
  }

  test("llm_ann_probe (persisted-snapshot probe) equals the retraining registry query") {
    val dir = TestSpark.sf
    val probe1 = canon(SparkEntry.queries("llm_ann_probe")(spark, dir))
    val ivfpq = canon(SparkEntry.queries("llm_ann_ivfpq")(spark, dir))
    assert(probe1.nonEmpty, "probe leg returned no rows")
    assert(probe1 == ivfpq,
      "probe-only leg must equal llm_ann_ivfpq (both halves are deterministic)")
    // second invocation rides the cached snapshot — still identical
    val probe2 = canon(SparkEntry.queries("llm_ann_probe")(spark, dir))
    assert(probe2 == probe1, "snapshot reuse must not change results")
  }

  /** SHA-256 of a frame's canonical rows (`canon`: raw double bits,
    * hex bytes), one row per line. */
  private def digest(df: org.apache.spark.sql.DataFrame): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon(df).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Every output of the vector-quantization family at sf0.001, by name:
    * the six kNN/ANN registry queries, the three tables `buildAnnIndex`
    * returns and the batch `Streaming.annSuspects` frame. */
  private def annDigests(): Map[String, String] = {
    import spark.implicits._
    val dir = TestSpark.sf
    val queries = Seq("llm_knn_exact", "llm_knn_quantized", "llm_ann_lsh",
      "llm_ann_ivf", "llm_ann_pq", "llm_ann_ivfpq")
      .map(q => q -> digest(SparkEntry.queries(q)(spark, dir)))
    val all = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val built = Llm.buildAnnIndex(spark, all)
    val qvecs = all.filter(col("vec_id") < 10).as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        (id, java.sql.Timestamp.valueOf(s"2024-01-01 10:00:${10 + id}"), v) }.toSeq
    val suspects = graft.streaming.Streaming.annSuspects(
      qvecs.toDF("vec_id", "ts", "v"), built, minSim = 0.2)
    (queries ++ Seq(
      "centroids" -> digest(built.centroids),
      "books" -> digest(built.books),
      "codes" -> digest(built.codes),
      "ann_suspects" -> digest(suspects))).toMap
  }

  /** Recorded before the quantizer's pieces were folded into shared
    * helpers. The kernels-off reference branches compose the same
    * double arithmetic, so both sessions must produce these bits. */
  private val recorded = Map(
    "llm_knn_exact" ->
      "e93426e7ad761edd9e0eafbaebdf856916f8d5f74e26f97a47c41372f82a2a35",
    "llm_knn_quantized" ->
      "e93426e7ad761edd9e0eafbaebdf856916f8d5f74e26f97a47c41372f82a2a35",
    "llm_ann_lsh" ->
      "6800935fc8c25737e79747b771efd33327793ee0b4c3c7c2cc42fb2c47b70008",
    "llm_ann_ivf" ->
      "d19c642bce14859fb33d1a941008b86c5029a4f2cd62dba947da9f3ef693780c",
    "llm_ann_pq" ->
      "5da620305638fa34b61517b49e3ca693bfd1b02649a713484aea5256e826bf6c",
    "llm_ann_ivfpq" ->
      "a5730387199cc549b1646ca5a31f7ef72b7b251d76adfa832cf9e904d5c5bb16",
    "centroids" ->
      "701f518c8ff16809a58ea153468cfca6161f2c4a766be571dcd6ebe5cff47c17",
    "books" ->
      "2c3ba7b5ac3c5a516c5b367f82118ad104613df77b45d6235552f3a380e86c35",
    "codes" ->
      "4da819532b8376e1a57941f6597c50c76a46c5aaf4df14a111904f748fbbef12",
    "ann_suspects" ->
      "b50e65444a356659361bab180e519663a85cadbb826d64e773590ff713db70b8")

  private def assertDigests(got: Map[String, String]): Unit = {
    val diff = recorded.keys.toSeq.sorted.filter(k => got(k) != recorded(k))
    assert(diff.isEmpty, "outputs changed bits: " +
      diff.map(k => s"$k ${got(k)}").mkString("; "))
  }

  test("ANN family outputs are bit-identical to their recorded digests (kernels on)") {
    assertDigests(annDigests())
  }

  test("ANN family outputs are bit-identical to their recorded digests (kernels off)") {
    assertDigests(TestSpark.withConf("spark.graft.kernels.enabled" -> "false")(annDigests()))
  }
}

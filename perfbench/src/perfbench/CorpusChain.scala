package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Llm
import graft.plans.{BpeKernel, LangIdKernel, MinHashSig, NearestCentroid, RunStatsKernel}

/** The corpus chain, run in eco_serve's traced runs: the curation
  * steps as a batch job over a seeded corpus with planted exact and
  * near duplicate clusters, mixed languages and boilerplate, plus
  * clustered embeddings. */
final class CorpusChain(spark: SparkSession, probe: Probe, tracer: Tracer, args: Main.Args)
    extends BatchLoop(spark, probe, tracer, args) {
  val BaseDocs = 600
  val Vectors = 1200
  val ChunkTokens = 128
  val Overlap = 16
  val dir = s"${args.work}/data/corpus-${args.seed}"

  def ops: Seq[(String, () => DataFrame)] = Seq(
    "llm_dedup_clusters" -> (() => Llm.dedupClusters(spark, dir)),
    "llm_lang_id" -> (() => Llm.langId(spark, dir)),
    "llm_quality" -> (() => Llm.quality(spark, dir)),
    "llm_curate" -> (() => Llm.curate(spark, dir)),
    "llm_token_count" -> (() => Llm.tokenCount(spark, dir)),
    "llm_chunk" -> (() => Llm.chunkDocs(spark, dir, ChunkTokens, Overlap)),
    "llm_ann_ivf" -> (() => Llm.annIvf(spark, dir)))

  override def kernelOf: Map[String, String] = Map(
    "llm_dedup_clusters" -> "graft_minhash_sig", "llm_lang_id" -> "graft_lang_id",
    "llm_curate" -> "graft_gram_stats", "llm_ann_ivf" -> "graft_nearest_centroid")

  private lazy val docs = Gen.corpus(args.seed, BaseDocs)
  private lazy val vecs = Gen.embeddings(args.seed, Vectors)

  def prepare(): Unit = {
    Main.writeParquet(Gen.docsDF(spark, docs.toSeq), s"$dir/documents.parquet")
    Main.writeParquet(Gen.embeddingsDF(spark, vecs.toSeq), s"$dir/embeddings.parquet")
  }

  /** Cluster, curated and chunk counts of the first run against a
    * plain-Scala recount of the same definitions over the generated
    * documents. */
  override def checkFirstRun(out: Map[String, Array[Row]]): Unit = {
    val r = Recount.corpus(docs, ChunkTokens, Overlap)
    val clusters = out("llm_dedup_clusters").map(_.getAs[Long]("cluster_id")).distinct.length
    check(clusters == r.clusters, s"clusters ${clusters} != recount ${r.clusters}")
    check(out("llm_curate").length == r.curated, s"curated ${out("llm_curate").length} != recount ${r.curated}")
    check(out("llm_chunk").length == r.chunks, s"chunks ${out("llm_chunk").length} != recount ${r.chunks}")
    recount = r
  }
  private var recount: Recount.CorpusCounts = _

  override def measure(report: mutable.Map[String, Any]): Unit = {
    super.measure(report)
    report("params") = Map("docs" -> docs.length, "base_docs" -> BaseDocs, "vectors" -> Vectors,
      "langs" -> Gen.Langs.toSeq, "chunk_tokens" -> ChunkTokens, "overlap" -> Overlap,
      "clusters" -> recount.clusters, "curated" -> recount.curated, "chunks" -> recount.chunks,
      "steps" -> ops.map(_._1))
    report("docs") = docs.length
    if (args.trace) report("kernels") = kernels()
  }

  /** ns per row of the text and vector kernels, called directly on the
    * generated documents and vectors (median of 5). */
  private def kernels(): Map[String, Double] = {
    val texts = docs.map(d => UTF8String.fromString(d.text))
    val toks = docs.map(d => new GenericArrayData(
      d.text.toLowerCase.trim.split("\\s+").map(UTF8String.fromString(_): Any)))
    def perRow(name: String, n: Int)(f: Int => Any): Double = Stat.median(5) {
      tracer.span(s"kernel.$name", s"plans.$name") {
        val t = System.nanoTime()
        var i = 0
        while (i < n) { f(i); i += 1 }
        (System.nanoTime() - t).toDouble / n
      }
    }
    val cents = Literal.create(new GenericArrayData(
      vecs.take(32).map(v => new GenericArrayData(v._2.map(_.toDouble: Any)): Any)),
      ArrayType(ArrayType(DoubleType, false), false))
    val vs = vecs.map(v => Literal.create(new GenericArrayData(v._2.map(_.toDouble: Any)), ArrayType(DoubleType, false)))
    val nc = vs.map(v => NearestCentroid(v, cents))
    Map(
      "minhash" -> perRow("minhash", toks.length)(i => MinHashSig.compute(toks(i))),
      "runstats" -> perRow("runstats", toks.length)(i => RunStatsKernel.gramStats(toks(i), 3)),
      "langid" -> perRow("langid", texts.length)(i => LangIdKernel.classify(texts(i))),
      "bpe" -> perRow("bpe", texts.length)(i => BpeKernel.tokens(texts(i))),
      "nearest_centroid" -> perRow("nearest_centroid", nc.length)(i => nc(i).eval(InternalRow.empty)))
  }
}

/** Independent recounts of the corpus chain's output sizes, written
  * from the operators' stated definitions rather than their code. */
object Recount {
  final case class CorpusCounts(clusters: Int, curated: Int, chunks: Int)

  def toks(text: String): Array[String] = text.toLowerCase.trim.split("\\s+")
  def shingles(t: Array[String]): Set[String] =
    if (t.length < 3) Set.empty else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet

  def round6(x: Double): Double =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  def corpus(docs: Seq[Gen.Doc], chunkTokens: Int, overlap: Int): CorpusCounts = {
    // exact groups: same text after whitespace folding and lower-casing
    val groups = docs.groupBy(d => d.text.replaceAll("\\s+", " ").trim.toLowerCase)
    val reps = groups.values.map(_.minBy(_.docId)).toArray.sortBy(_.docId)
    // near edges: exact 3-shingle Jaccard >= 0.8 between group representatives
    val sh = reps.map(d => shingles(toks(d.text)))
    val post = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    for ((s, i) <- sh.zipWithIndex; g <- s) post.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i
    val parent = Array.tabulate(reps.length)(identity)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    val pairs = post.values.flatMap(is => for (a <- is; b <- is if a < b) yield (a, b)).toSet
    for ((a, b) <- pairs) {
      val common = sh(a).intersect(sh(b)).size
      if (common.toDouble / (sh(a).size + sh(b).size - common) >= 0.8) parent(find(a)) = find(b)
    }
    val clusterOfRep = reps.indices.map(i => reps(i).docId -> find(i)).toMap
    val clusterMin = mutable.Map.empty[Int, Long]
    for (d <- docs) {
      val c = clusterOfRep(groups(d.text.replaceAll("\\s+", " ").trim.toLowerCase).minBy(_.docId).docId)
      clusterMin(c) = math.min(clusterMin.getOrElse(c, Long.MaxValue), d.docId)
    }
    val keep = clusterMin.values.toSet
    val curated = docs.count { d =>
      val t = toks(d.text)
      val quality = round6(t.distinct.length.toDouble / t.length * math.min(1.0, t.length / 100.0))
      val dupFrac = if (t.length < 3) 0.0 else {
        val grams = (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
        (grams.length - grams.distinct.length).toDouble / grams.length
      }
      keep(d.docId) && quality >= 0.15 && dupFrac <= 0.05
    }
    val stride = chunkTokens - overlap
    val chunks = docs.map { d =>
      val n = d.text.trim.split("\\s+").length
      if (n <= chunkTokens) 1 else math.ceil((n - chunkTokens).toDouble / stride).toInt + 1
    }.sum
    CorpusCounts(clusterMin.size, curated, chunks)
  }
}

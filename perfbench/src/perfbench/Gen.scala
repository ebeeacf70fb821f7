package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the engine sees is built here
  * from the `--seed` argument alone; nothing reads the wall clock, so
  * one seed always yields byte-identical tables and wire events. */
object Gen {
  /** Five event kinds (the repository's test data has the same five),
    * drawn with a fixed skew toward clicks and views. */
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  private val TypeCdf: Array[Double] = cdf(Array(0.40, 0.30, 0.12, 0.10, 0.08))

  /** 2024-01-01T02:00:00Z: the end of the seeded history window. */
  val T0Ms: Long = 1704074400000L

  private def cdf(w: Array[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Zipf(s) over 1..n as a cumulative table (user activity skew). */
  def zipfCdf(n: Int, s: Double): Array[Double] = cdf(Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s)))

  final case class Ev(eventId: Long, tsMs: Long, userId: Long, eventType: String, value: Double, k: Int)

  /** One event drawn from the shared distributions. */
  def event(rng: java.util.SplittableRandom, users: Array[Double], id: Long, tsMs: Long): Ev =
    Ev(id, tsMs, pick(users, rng.nextDouble()).toLong + 1L,
      EventTypes(pick(TypeCdf, rng.nextDouble())),
      math.round(rng.nextDouble() * 2000.0) / 100.0, rng.nextInt(100))

  /** `n` events spread over the `spanMs` before `endMs`, in event-time
    * order with ~3% drawn up to 10 minutes out of order. */
  def events(seed: Long, n: Int, nUsers: Int, spanMs: Long, endMs: Long): Array[Ev] = {
    val rng = new java.util.SplittableRandom(seed)
    val users = zipfCdf(nUsers, 1.1)
    Array.tabulate(n) { i =>
      val base = endMs - spanMs + (i.toDouble * spanMs / n).toLong
      val ts = if (rng.nextDouble() < 0.03) base - rng.nextLong(600000L) else base
      event(rng, users, i, ts)
    }
  }

  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  def eventsDF(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(evs.map(e =>
      Row(e.eventId, new Timestamp(e.tsMs), e.userId, e.eventType, e.value, s"""{"k": ${e.k}}""")): _*),
      eventSchema)

  // ---- corpus --------------------------------------------------------

  /** Per-language pseudo-vocabularies: words are syllable strings drawn
    * from a language-specific syllable set, so languages differ in
    * character statistics the way real text does. */
  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> "th,er,on,an,re,he,in,ed,nd,ha,at,en,es,of,or,nt,ea,ti,to,it".split(','),
    "es" -> "de,la,que,el,en,lo,ci,on,es,ra,do,ta,co,ue,os,ar,te,ad,ia,al".split(','),
    "fr" -> "le,es,de,en,ou,ai,re,nt,on,qu,ur,la,eu,te,et,ie,se,an,ne,oi".split(','),
    "de" -> "en,er,ch,de,ei,ie,in,te,ge,un,nd,sc,st,ic,be,au,ne,he,an,re".split(','))
  val Langs: Array[String] = Array("en", "es", "fr", "de")
  private val LangCdf = cdf(Array(0.55, 0.15, 0.15, 0.15))

  private def vocab(seed: Long, lang: String, n: Int): Array[String] = {
    val rng = new java.util.SplittableRandom(seed ^ lang.hashCode.toLong)
    val syl = Syllables(lang)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Array.fill(2 + rng.nextInt(3))(syl(rng.nextInt(syl.length))).mkString
    seen.toArray
  }

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A corpus of unique documents plus planted duplicate clusters:
    *  - ~12% of base docs get 1-3 exact copies (re-cased or with doubled
    *    spaces, which normalization folds away);
    *  - ~12% get 1-3 near copies with one or two word substitutions;
    *  - ~5% of base docs are boilerplate (a few words repeated), which
    *    curation drops for low quality and duplicated trigrams.
    * Copies are shuffled into the id space so clusters are not
    * contiguous. */
  def corpus(seed: Long, nBase: Int): Array[Doc] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    val vocabs = Langs.map(l => l -> vocab(seed, l, 3000)).toMap
    val texts = ArrayBuffer.empty[(String, String)]
    def words(lang: String, n: Int): Array[String] = {
      val v = vocabs(lang)
      Array.fill(n)(v(rng.nextInt(v.length)))
    }
    for (_ <- 0 until nBase) {
      val lang = Langs(pick(LangCdf, rng.nextDouble()))
      val boiler = rng.nextDouble() < 0.05
      val toks =
        if (boiler) { val few = words(lang, 4); Array.fill(40 + rng.nextInt(60))(few(rng.nextInt(few.length))) }
        else words(lang, 30 + rng.nextInt(300))
      val text = toks.mkString(" ")
      texts += ((text, lang))
      val u = rng.nextDouble()
      val copies = 1 + rng.nextInt(3)
      if (!boiler && u < 0.12)
        for (c <- 0 until copies)
          texts += ((if (c % 2 == 0) text.toUpperCase else toks.mkString("  "), lang))
      else if (!boiler && u < 0.24)
        for (_ <- 0 until copies) {
          val t = toks.clone()
          for (_ <- 0 until 1 + rng.nextInt(2)) {
            val p = rng.nextInt(t.length)
            t(p) = words(lang, 1)(0)
          }
          texts += ((t.mkString(" "), lang))
        }
    }
    // deterministic Fisher-Yates so duplicate copies land far apart
    val arr = texts.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.zipWithIndex.map { case ((text, lang), i) => Doc(i.toLong, text, lang, s"src${i % 20}") }
  }

  val docSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def docsDF(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
      Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)): _*), docSchema)

  /** Gaussian clusters around `k` random unit centers, dim 64. */
  def embeddings(seed: Long, n: Int, k: Int = 24, dim: Int = 64): Array[(Long, Array[Float], Int)] = {
    val rng = new java.util.Random(seed * 131 + 3)
    val centers = Array.fill(k) {
      val c = Array.fill(dim)(rng.nextGaussian())
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / nrm)
    }
    Array.tabulate(n) { i =>
      val lbl = rng.nextInt(k)
      (i.toLong, Array.tabulate(dim)(d => (centers(lbl)(d) + 0.08 * rng.nextGaussian()).toFloat), lbl)
    }
  }

  val embSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def embeddingsDF(spark: SparkSession, es: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(es.map { case (id, v, l) =>
      Row(id, v.toSeq, l) }: _*), embSchema)
}

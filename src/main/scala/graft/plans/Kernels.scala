package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.kernelbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every native kernel by SQL name, and the one way its column is
  * built. A kernel that is a static Scala call plans as Spark's
  * built-in `StaticInvoke`: null in, null out, and the call is
  * emitted inline inside the enclosing WholeStageCodegen span. Each
  * such method is named after its SQL function, so executed plans
  * read `static_invoke(graft.plans.LangIdKernel.graft_lang_id(text))`.
  * The six custom expressions inline primitive loops (cosine,
  * dequant-dot, ADC, SRP) or hold a per-task reference object built
  * from a literal argument (nearest centroid, trained BPE).
  *
  * Columns come from `Kernels(name, args*)`, so every session runs
  * the kernels; `GraftExtensions` only adds these names to SQL. */
object Kernels {

  private final case class Fn(arity: Int, build: Seq[Expression] => Expression)

  private val Toks = ArrayType(StringType)
  private val StrArray = ArrayType(StringType, containsNull = false)
  private val LongArray = ArrayType(LongType, containsNull = false)
  private val Postings = ArrayType(StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", IntegerType))))

  /** `obj.name(args)`; `orNull` when the result can be NULL for
    * non-null input (the method returns null). */
  private def static(obj: AnyRef, name: String, dt: DataType, in: DataType*)(
      orNull: Boolean = false, check: Seq[Expression] => Unit = _ => ()): (String, Fn) =
    name -> Fn(in.length, { args =>
      check(args)
      StaticInvoke(obj.getClass, dt, name, args, in, propagateNull = true, returnNullable = orNull)
    })

  /** The window/width argument must be a literal int >= 1: it is a
    * query-time constant of the kernel, not a per-row value. */
  private def literalWidth(name: String, what: String)(args: Seq[Expression]): Unit =
    args(1) match {
      case Literal(n: Int, IntegerType) => require(n >= 1, s"$name requires $what >= 1")
      case other => throw new IllegalArgumentException(
        s"$name requires a literal int $what, got $other")
    }

  /** The last argument (a robots agent, which selects the rule group;
    * a JSON field name) must be a literal string: a query-time constant. */
  private def literalString(name: String, what: String)(args: Seq[Expression]): Unit =
    args.last match {
      case Literal(_: UTF8String, _) =>
      case other => throw new IllegalArgumentException(
        s"$name requires a literal string $what, got $other")
    }

  private val functions: Map[String, Fn] = Map(
    static(RunStatsKernel, "graft_char_run_stats", RunStatsKernel.statsType, StringType)(),
    static(RunStatsKernel, "graft_term_counts", RunStatsKernel.termCountsType, Toks)(),
    static(RunStatsKernel, "graft_fingerprint", RunStatsKernel.fingerprintType, StringType)(),
    static(RunStatsKernel, "graft_winnow", RunStatsKernel.winnowType, StringType)(),
    static(RunStatsKernel, "graft_postings_digest", StringType, Postings)(),
    static(RunStatsKernel, "graft_gram_stats", RunStatsKernel.statsType, Toks, IntegerType)(
      check = literalWidth("graft_gram_stats", "gram width")),
    static(RunStatsKernel, "graft_gram_hashes", LongArray, Toks, IntegerType)(
      check = literalWidth("graft_gram_hashes", "gram width")),
    static(RunStatsKernel, "graft_segments", StrArray, Toks, IntegerType)(
      check = literalWidth("graft_segments", "segment width")),
    static(MinHashSig, "graft_minhash_sig", MinHashSig.sigType, Toks)(),
    static(SimHash60, "graft_simhash", LongType, Toks)(),
    static(BandHashes, "graft_band_hashes", LongArray, ArrayType(LongType))(),
    static(FrontierKernel, "graft_url_canon", StringType, StringType)(orNull = true),
    static(FrontierKernel, "graft_url_resolve", StringType, StringType, StringType)(orNull = true),
    static(FrontierKernel, "graft_sitemaps", StrArray, StringType)(orNull = true),
    static(FrontierKernel, "graft_sitemap_entries", StrArray, StringType)(orNull = true),
    static(FrontierKernel, "graft_crawl_delay", LongType, StringType, StringType)(
      orNull = true, check = literalString("graft_crawl_delay", "agent")),
    static(FrontierKernel, "graft_robots_allowed", BooleanType, StringType, StringType, StringType)(
      check = literalString("graft_robots_allowed", "agent")),
    static(HtmlTextKernel, "graft_html_text", StringType, StringType)(),
    static(HtmlTextKernel, "graft_html_links", StrArray, StringType)(orNull = true),
    static(HtmlTextKernel, "graft_link_anchors", StrArray, StringType)(orNull = true),
    static(LangIdKernel, "graft_lang_id", StringType, StringType)(),
    static(BpeKernel, "graft_bpe_tokens", StrArray, StringType)(orNull = true),
    static(WireKernel, "graft_wire_decode", WireKernel.eventSchema, StringType)(orNull = true),
    static(WireKernel, "graft_json_int", IntegerType, StringType, StringType)(
      orNull = true, check = literalString("graft_json_int", "field")),
    "graft_cosine" -> Fn(2, a => CosineSimilarity(a(0), a(1))),
    "graft_srp_buckets" -> Fn(1, a => SrpBuckets(a(0))),
    "graft_nearest_centroid" -> Fn(2, a => NearestCentroid(a(0), a(1))),
    "graft_dequant_dot" -> Fn(4, a => DequantDot(a(0), a(1), a(2), a(3))),
    "graft_adc" -> Fn(3, a => AdcSum(a(0), a(1), a(2))),
    "graft_bpe_tokens_with" -> Fn(2, a => BpeTokensWith(a(0), a(1))))

  /** The SQL names, sorted. */
  val names: Seq[String] = functions.keys.toSeq.sorted

  /** The kernel expression `name(args)`; fails on an unknown name, a
    * wrong argument count or a non-literal constant argument. */
  def build(name: String, args: Seq[Expression]): Expression = {
    val f = functions.getOrElse(name,
      throw new IllegalArgumentException(s"unknown kernel $name"))
    require(args.length == f.arity,
      s"$name takes exactly ${f.arity} argument${if (f.arity == 1) "" else "s"}")
    f.build(args)
  }

  /** The kernel column `name(args)`, e.g. `Kernels("graft_lang_id", col("text"))`. */
  def apply(name: String, args: Column*): Column =
    ColumnBridge.column(build(name, args.map(ColumnBridge.expression)))
}

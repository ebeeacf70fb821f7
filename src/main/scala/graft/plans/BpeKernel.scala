package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The BPE kernels (operators/Bpe.scala). `graft_bpe_tokens(text)`:
  * seed-model byte-pair-encoding subword tokens (leading-space
  * spelling, so `array_join(toks, '')` decodes) — subword
  * tokenization of a corpus is one map-only codegen'd scan, per-row
  * cost bounded by `Bpe.MaxWordLen` segmenting and the per-thread
  * word LRU. The seed merge table is a static lazy val trained from
  * the embedded seed corpus at class load — identical on every
  * executor, no broadcast, no model file (the LangId/SrpBuckets
  * pattern). */
object BpeKernel {
  def graft_bpe_tokens(s: UTF8String): ArrayData = tokens(s)

  def tokens(s: UTF8String): ArrayData =
    new GenericArrayData(
      graft.operators.Bpe.encodeSeed(s.toString)
        .map(t => UTF8String.fromString(t).asInstanceOf[Any]))

  /** Trained-model per-row entry point: same shape as `tokens`, the
    * rank table coming from the expression's materialized-once
    * reference object instead of the static seed. */
  def tokensWith(m: graft.operators.BpeModel, s: UTF8String): ArrayData =
    new GenericArrayData(
      m.encodeCached(s.toString)
        .map(t => UTF8String.fromString(t).asInstanceOf[Any]))
}

/** Native Catalyst expression `graft_bpe_tokens_with(text, merges)`:
  * byte-pair-encoding subword tokens under a TRAINED merge table,
  * where `merges` is a FOLDABLE array<array<string>> (the merge list
  * in rank order, each row [first, second] — exactly what
  * `Bpe.trainFromCorpus` returns, driver-small by its `maxWords`
  * contract). The table travels as a constant-folded literal and is
  * materialized ONCE into a rank map + per-thread word LRU (the seed
  * kernel's evaluation shape), never re-parsed per row — so encoding
  * a 100 TB corpus under a just-trained vocabulary is one map-only
  * codegen'd scan. BpeSpec pins it against the uncached
  * `Bpe.encode`. */
case class BpeTokensWith(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_tokens_with"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(ArrayType(StringType, _), _)) =>
      if (right.foldable) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable merge-table argument (a literal merge list)")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<array<string>>), got " +
        s"${l.catalogString} and ${r.catalogString}")
  }

  /** The model, built once from the foldable argument (on the driver
    * at codegen time; lazily on an executor in interpreted eval — a
    * Literal either way after constant folding). A NULL merge table
    * propagates as a null result; a malformed row is a caller bug
    * and fails fast. */
  private lazy val model: graft.operators.BpeModel = right.eval() match {
    case null => null
    case ad: ArrayData =>
      val merges = Seq.tabulate(ad.numElements()) { i =>
        val p = ad.getArray(i)
        require(p != null && p.numElements() == 2,
          s"$prettyName merge rows must be [first, second] pairs")
        (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
      }
      new graft.operators.BpeModel(merges)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null || model == null) null
    else BpeKernel.tokensWith(model, t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // constant-folded null merge table: the whole expression is null
    if (model == null) return ExprCode.forNullValue(dataType)
    nullSafeCodeGen(ctx, ev, (s, _) => {
      val m = ctx.addReferenceObj("bpeModel", model,
        classOf[graft.operators.BpeModel].getName)
      s"${ev.value} = graft.plans.BpeKernel.tokensWith($m, $s);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.Kernels

/** SQL names for the engine's kernels, installed with
  * `spark.sql.extensions=graft.GraftExtensions` (SparkSessionExtensions
  * is the public plug-in point — no Catalyst internals are patched).
  * Every name in `Kernels.names` (`graft_lang_id`, `graft_minhash_sig`,
  * `graft_cosine`, ...) becomes callable from `spark.sql`, built by
  * `Kernels.build` with the same argument checks as the column API.
  * The engine's own operators do not need it: they build kernel
  * columns directly, so sessions without it run the same plans. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for (name <- Kernels.names)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(Kernels.getClass.getName.stripSuffix("$"), name),
        (args: Seq[Expression]) => Kernels.build(name, args)))
}

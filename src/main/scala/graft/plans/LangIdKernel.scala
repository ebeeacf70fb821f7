package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The `graft_lang_id(text)` kernel: per-document language by
  * character-n-gram rank profiles (Cavnar–Trenkle 1994,
  * operators/LangId.scala) — language ID of a corpus is one map-only
  * codegen'd scan, per-row cost hard-bounded by the scorer's
  * `MaxChars` read cap. The profiles it scores against are a static
  * lazy val derived from the embedded seed corpus at class load —
  * identical on every executor, no broadcast, no model file (the
  * SrpBuckets plane-weights pattern). */
object LangIdKernel {
  def graft_lang_id(s: UTF8String): UTF8String = classify(s)

  def classify(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.operators.LangId.classify(s.toString))
}

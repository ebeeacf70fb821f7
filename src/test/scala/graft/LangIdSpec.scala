package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LangId

/** Pins for the Cavnar–Trenkle language identifier: the 15/15
  * held-out accuracy floor that makes the `llm_lang_id` oracle
  * closed-form, profile determinism, the mergeable-aggregate trainer
  * matching `buildProfile`, the column's null semantics, and the
  * hard per-row cost bound on hostile input. */
class LangIdSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("held-out accuracy floor: all 15 (lang × variant) snippets classify correctly") {
    // this is the pin the registry leg's oracle RESTS on: the leg
    // scores exactly these snippets (plus an ignorable digit suffix),
    // so 15/15 here means pred_lang == snippet language there
    for ((lang, snippets) <- LangId.heldOut.toSeq.sortBy(_._1);
         (s, v) <- snippets.zipWithIndex) {
      val got = LangId.classify(s)
      assert(got == lang, s"held-out $lang variant $v classified as $got")
      // the leg appends ' <doc_id>' — digits are word boundaries in
      // the gram alphabet, so the verdict must not move
      assert(LangId.classify(s + " 1234567") == lang,
        s"digit suffix moved the verdict for $lang variant $v")
    }
  }

  test("seed texts classify as their own language (training-set sanity)") {
    for ((lang, texts) <- LangId.seeds.toSeq.sortBy(_._1); t <- texts)
      assert(LangId.classify(t) == lang, s"seed text of $lang misclassified")
  }

  test("edges: null, letterless and whitespace text are 'und', never a throw") {
    assert(LangId.classify(null) == "und")
    assert(LangId.classify("") == "und")
    assert(LangId.classify("12345 !!! ??? 678") == "und")
    assert(LangId.classify("   \t\n  ") == "und")
  }

  test("profiles are deterministic and the distributed trainer matches the in-memory builder") {
    // same counts -> same profile, twice (total-order tie-breaks)
    val p1 = LangId.buildProfile(LangId.seeds("fr"))
    val p2 = LangId.buildProfile(LangId.seeds("fr"))
    assert(p1.sameElements(p2))
    // the mergeable-aggregate form (explode -> partial-agg count ->
    // rank window) over the SAME seed rows must produce the SAME
    // ranked profile for every language — training on a real corpus
    // is the same arithmetic at scale
    import spark.implicits._
    val seedDf = LangId.seeds.toSeq
      .flatMap { case (l, ts) => ts.map(l -> _) }
      .toDF("lang", "text")
    val trained = LangId.trainProfiles(seedDf)
    for ((lang, texts) <- LangId.seeds) {
      val local = LangId.buildProfile(texts)
      assert(trained(lang).sameElements(local),
        s"distributed profile for $lang diverges from the in-memory builder")
    }
  }

  test("langCol: null text is SQL NULL, held-out labels stay in the five-language set") {
    import spark.implicits._
    val df = (LangId.heldOut.toSeq.sortBy(_._1)
      .flatMap { case (l, ss) => ss.map(l -> _) }
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
      :+ ((99L, "none", null.asInstanceOf[String])))
      .toDF("id", "lang", "text")
    val pred = df.select(col("id"), LangId.langCol(col("text")).as("pred"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(pred(99L) == null,
      "null text must be SQL NULL, not 'und' — 'und' is for letterless NON-null text")
    assert((pred - 99L).values.toSet.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("streamlined classifier equals the grams+profileOf reference composition on random text") {
    // classify inlines the gram walk and top-K ranking for the hot
    // path; this pins it bit-equal to the readable reference
    // (grams -> count -> profileOf -> rank-displacement) on random
    // multi-script text including the und edges
    def reference(s: String): String = {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for (g <- LangId.grams(s)) counts.update(g, counts.getOrElse(g, 0L) + 1L)
      if (counts.isEmpty) return "und"
      val doc = LangId.profileOf(counts.toMap)
      var bestLang = "und"
      var bestDist = Long.MaxValue
      for ((lang, prof) <- LangId.profiles) {
        var dist = 0L
        var r = 0
        while (r < doc.length) {
          dist += math.abs(prof.getOrElse(doc(r), LangId.ProfileK) - r).toLong
          r += 1
        }
        if (dist < bestDist) { bestDist = dist; bestLang = lang }
      }
      bestLang
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefg hij él 中文 ß 123 .,\t\n"
    for (_ <- 0 until 400) {
      val s = Seq.fill(rnd.nextInt(400))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(LangId.classify(s) == reference(s), s"diverged on: $s")
    }
    for ((_, ss) <- LangId.heldOut; s <- ss)
      assert(LangId.classify(s) == reference(s))
  }

  test("per-row cost is HARD-BOUNDED: a hostile 50 MB document costs the same as 4 KB") {
    // classification reads at most MaxChars chars — a gigabyte-scale
    // document must not cost gigabyte-scale time in a 100 TB scan
    val page = LangId.heldOut("de").head
    val bomb = (page + " ") * (50 * 1024 * 1024 / (page.length + 1))
    LangId.classify(bomb) // warm
    // min-of-3 against host descheduling (the UrlsSpec bestMs precedent)
    var got: String = null
    val ms = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      got = LangId.classify(bomb)
      (System.nanoTime() - t0) / 1e6
    }.min
    assert(got == "de")
    assert(ms < 200.0, s"50 MB doc took $ms ms — the MaxChars read cap is gone")
    // single-gram soup (one letter repeated) stays cheap and defined
    assert(LangId.classify("a" * 10000000) != null)
  }
}

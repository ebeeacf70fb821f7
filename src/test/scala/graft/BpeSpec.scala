package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** BPE subword tokenizer pins.
  *
  * The oracle legs (`llm_bpe_tokenize`, `llm_chunk_bpe`) restate the
  * seed model's tokenization of synthesized text as a closed form of
  * doc_id — which is only sound if the seed model tokenizes the
  * oracle's four word shapes EXACTLY as the closed form assumes.
  * Those four pins live here (the `llm_lang_id` playbook: the unit
  * test carries the linguistic claim, the oracle carries the
  * distributed-execution claim). Plus: trainer determinism and
  * distributed/driver equality, decode∘encode round-trips, the
  * hostile-input cost bound, and cache-path equality.
  */
class BpeSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  // ---- the oracle's linguistic ground truth -----------------------

  test("seed model tokenizations the oracle closed forms rely on") {
    assert(Bpe.encodeSeed("the").toSeq == Seq("the"))
    assert(Bpe.encodeSeed("data zq").toSeq == Seq("data", " z", "q"))
    assert(Bpe.encodeSeed("thedata").toSeq == Seq("the", "data"))
    assert(Bpe.encodeSeed("the data model train zq").toSeq ==
      Seq("the", " data", " model", " train", " z", "q"))
    // every repeated seed word converged to a single token (the
    // MinPairCount floor + merge budget reached the fixed point)
    for (w <- Seq("data", "model", "train", "corpus", "token", "text", "batch"))
      assert(Bpe.encodeSeed(w).toSeq == Seq(w), s"seed word '$w' did not fully merge")
    // unseen characters stay characters — z and q are absent from
    // the seed corpus by construction
    assert(Bpe.encodeSeed("zq").toSeq == Seq("z", "q"))
  }

  test("training is deterministic and stops at the MinPairCount floor") {
    val counts = Seq(("the", 5L), ("data", 3L), ("lone", 1L))
    val a = Bpe.train(counts, 64)
    val b = Bpe.train(counts.reverse, 64)
    assert(a == b, "merge list must be a pure function of the counts, not their order")
    // 'lone' appears once: none of its private pairs ((l,o),(o,n),
    // (n,e)) may ever merge; 'the'/'data' fully merge
    val ranks = Bpe.ranksOf(a)
    assert(Bpe.encode("the data", ranks).toSeq == Seq("the", " data"))
    assert(Bpe.encode("lone", ranks).length > 1, "a count-1 word must not memorize")
    assert(a.length < 64, "training must stop at the floor, not exhaust the budget")
  }

  test("distributed trainer equals the in-memory trainer on the same corpus") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      "alpha beta alpha gamma", "beta alpha beta", "gamma alpha beta beta", "  ", null)
    val df = texts.toDF("text")
    val viaSpark = Bpe.trainFromCorpus(df, "text", numMerges = 32)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    for (t <- texts if t != null; w <- t.trim.split("\\s+") if w.nonEmpty)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
    // the driver trainer sees the SAME (count desc, word) order the
    // distributed top-k emits; train() itself is order-insensitive
    val viaDriver = Bpe.train(counts.toSeq, 32)
    assert(viaSpark == viaDriver,
      "one distributed word-count pass must reproduce the in-memory trainer")
    assert(viaSpark.nonEmpty)
  }

  test("decode after encode is whitespace normalization, on arbitrary text") {
    val ranks = Bpe.seedRanks
    val rnd = new scala.util.Random(20261)
    val alphabet = "abcdefghijklmnop qrstuvwxyz  THE? 12.3\té\n中"
    val samples = Seq(
      "the data model", "  leading and   trailing  ", "", " ", "\t\n",
      "unseen-words stay decodable!", "中文 mixed text") ++
      (1 to 30).map(_ => (1 to rnd.nextInt(80)).map(_ =>
        alphabet.charAt(rnd.nextInt(alphabet.length))).mkString)
    for (s <- samples) {
      val want = s.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(Bpe.decode(Bpe.encode(s, ranks).toSeq) == want,
        s"round-trip broke on ${s.take(40).replace("\n", "\\n")}")
      assert(Bpe.decode(Bpe.encodeSeed(s).toSeq) == want, "cached path diverged")
    }
    assert(Bpe.encode(null, ranks).isEmpty)
  }

  test("hostile unbroken input: linear cost via MaxWordLen segmenting") {
    val word = "ab" * 300000 // one 600k-char "word"
    val t0 = System.nanoTime()
    val toks = Bpe.encodeSeed(word)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(Bpe.decode(toks.toSeq) == word)
    // generous wall bound — the point is it's not the quadratic pair
    // scan (which would take minutes here)
    assert(ms < 10000, s"600k-char word took ${ms}ms")
    assert(toks.length >= word.length / Bpe.MaxWordLen,
      "segmenting must bound the per-call merge window")
  }

  test("encodeWord reproduces the trainer's final segmentation on trained words") {
    val counts = Seq(("merge", 4L), ("merges", 2L), ("graft", 3L))
    val merges = Bpe.train(counts, 64)
    val ranks = Bpe.ranksOf(merges)
    for ((w, _) <- counts)
      assert(Bpe.encode(w, ranks).toSeq == Seq(w),
        s"trained word '$w' must encode to its converged single token")
  }

  // ---- the registry legs ------------------------------------------

  test("llm_bpe_tokenize: distributed kernel output equals the closed form per row") {
    val rows = graft.SparkEntry.queries("llm_bpe_tokenize")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(rows.nonEmpty)
    for ((docId, bpeCase, nTokens, tokens, decoded) <- rows) {
      val k = (docId % 5 + 1).toInt
      val expected: Seq[String] = (docId % 4) match {
        case 0 => (0 until k).map(i => if (i == 0) "the" else " the")
        case 1 => (0 until k).flatMap(i => Seq(if (i == 0) "data" else " data", " z", "q"))
        case 2 => (0 until k).flatMap(i => Seq(if (i == 0) "the" else " the", "data"))
        case _ => Seq("the", " data", " model", " train") ++
          (0 until k).flatMap(_ => Seq(" z", "q"))
      }
      assert(bpeCase == docId % 4)
      assert(nTokens == expected.length, s"doc $docId token count")
      assert(tokens == expected.mkString("|"), s"doc $docId token spelling")
      assert(decoded == expected.mkString(""), s"doc $docId decode")
    }
  }

  test("chunkByBpe over REAL corpus text: window arithmetic and slice decode per chunk") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, TestSpark.sf)
      .select("doc_id", "text").filter("text is not null and doc_id < 40")
    val got = Bpe.chunkByBpe(docs, chunkTokens = 16, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty && got.keySet == texts.keySet)
    for ((docId, chunks) <- got) {
      val toks = Bpe.encodeSeed(texts(docId)).toSeq
      val n = toks.length
      val nChunks = if (n <= 16) 1 else math.ceil((n - 16) / 12.0).toInt + 1
      assert(chunks.length == nChunks, s"doc $docId chunk count")
      for ((_, idx, nTok, text) <- chunks) {
        val slice = toks.slice(idx * 12, idx * 12 + 16)
        assert(nTok == math.min(16, n - idx * 12))
        assert(text == slice.mkString("").dropWhile(_ == ' '), s"doc $docId chunk $idx")
      }
      // coverage: concatenating the non-overlap strides reconstructs
      // the whole normalized document
      val strideDecode = chunks.sortBy(_._2).map { case (_, idx, _, _) =>
        toks.slice(idx * 12, if (idx == chunks.length - 1) n else (idx + 1) * 12)
      }.flatten.mkString("")
      // the final chunk overlaps its predecessor; dropping the overlap
      // via stride slices must reproduce decode(all tokens)
      assert(strideDecode == toks.mkString(""), s"doc $docId stride coverage")
    }
  }

  test("trained-model encode kernel equals Bpe.encode on real corpus text") {
    val s = spark
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(s, TestSpark.sf)
      .select("doc_id", "text").filter("text is not null")
    // a REAL trained table (not the seed): merges learned from the
    // corpus itself, the production shape tokensCol exists for
    val merges = Bpe.trainFromCorpus(docs, "text", numMerges = 256)
    assert(merges.nonEmpty)
    val encoded = docs.select(col("doc_id"), Bpe.tokensCol(merges)(col("text")).as("toks"))
    val kernel = encoded.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(kernel.nonEmpty)
    val ranks = Bpe.ranksOf(merges)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kernel.keySet == texts.keySet)
    for ((id, toks) <- kernel)
      assert(toks == Bpe.encode(texts(id), ranks).toSeq,
        s"doc $id: distributed encode != Bpe.encode")
    // plan pin: the production encode is the native expression, no
    // ScalaUDF dispatch
    val kernelPlan = encoded.queryExecution.executedPlan.toString
    assert(kernelPlan.contains("graft_bpe_tokens_with"),
      "trained-model encode must plan the native kernel expression")
    assert(!kernelPlan.contains("UDF"),
      "trained-model encode kernel path must not plan a ScalaUDF")
  }

  test("llm_chunk_bpe: window arithmetic and slice decode hold per chunk") {
    val byDoc = graft.SparkEntry.queries("llm_chunk_bpe")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    for ((docId, chunks) <- byDoc) {
      val k = (docId % 5 + 1).toInt
      val toks: Seq[String] = (docId % 4) match {
        case 0 => (0 until k).map(i => if (i == 0) "the" else " the")
        case 1 => (0 until k).flatMap(i => Seq(if (i == 0) "data" else " data", " z", "q"))
        case 2 => (0 until k).flatMap(i => Seq(if (i == 0) "the" else " the", "data"))
        case _ => Seq("the", " data", " model", " train") ++
          (0 until k).flatMap(_ => Seq(" z", "q"))
      }
      val n = toks.length
      val nChunks = if (n <= 4) 1 else math.ceil((n - 4) / 3.0).toInt + 1
      assert(chunks.length == nChunks, s"doc $docId chunk count")
      for ((_, idx, nChunkToks, text) <- chunks) {
        val slice = toks.slice(idx * 3, idx * 3 + 4)
        assert(nChunkToks == math.min(4, n - idx * 3), s"doc $docId chunk $idx size")
        assert(text == slice.mkString("").dropWhile(_ == ' '), s"doc $docId chunk $idx text")
      }
    }
  }
}

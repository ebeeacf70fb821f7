package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Llm, Multimodal}
import graft.plans.{Dgim, Markov, SrpBuckets}

/** ScalaCheck property tests (SURVEY §5.2) for the pure algorithmic
  * cores — no Spark session needed, so these explore hundreds of
  * random inputs in milliseconds. Driven through raw ScalaCheck
  * (Prop + Test.check); the scalatest bridge artifact is not in the
  * offline cache. */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("frontier kernels equal their Scala functions on arbitrary junk (incl. the NULL path)") {
    // KernelParitySpec pins whole-query parity on the 4 synthesized
    // URL shapes; this drives the kernel objects directly with
    // arbitrary strings — non-URLs must surface as null (canon) and
    // hostile/garbage policies must still verdict identically.
    import org.apache.spark.unsafe.types.UTF8String
    val junkGen = for {
      n <- Gen.choose(0, 60)
      s <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar,
        Gen.oneOf(':', '/', '?', '#', '%', '.', '@', '*', '$', ' ', '~', 'é')))
    } yield s.mkString
    check(Prop.forAll(junkGen) { s =>
      val k = graft.plans.FrontierKernel.graft_url_canon(UTF8String.fromString(s))
      val f = graft.sources.Urls.normalizeUrl(s)
      (k == null && f.isEmpty) || (k != null && f.contains(k.toString))
    }, n = 500)
    val policyGen = for {
      lines <- Gen.listOf(Gen.oneOf(
        Gen.const("User-agent: *"), Gen.const("User-agent: graftbot"),
        junkGen.map("Disallow: /" + _), junkGen.map("Allow: /" + _),
        Gen.choose(-3.0, 12.0).map(d => s"Crawl-delay: $d"),
        junkGen.map("Crawl-delay: " + _), // junk delays: ignored, never fatal
        junkGen)) // junk lines exercise parser tolerance
    } yield lines.mkString("\n")
    check(Prop.forAll(policyGen, junkGen.map("/" + _)) { (policy, path) =>
      val k = graft.plans.FrontierKernel.graft_robots_allowed(
        UTF8String.fromString(policy), UTF8String.fromString(path), UTF8String.fromString("graftbot/1.0"))
      val f = graft.sources.Robots.isAllowed(
        graft.sources.Robots.rulesFor(graft.sources.Robots.parse(policy), "graftbot/1.0"), path)
      k == f
    }, n = 300)
    check(Prop.forAll(policyGen) { policy =>
      val k = graft.plans.FrontierKernel.graft_crawl_delay(
        UTF8String.fromString(policy), UTF8String.fromString("graftbot/1.0"))
      val f = graft.sources.Robots.crawlDelayMs(
        graft.sources.Robots.parse(policy), "graftbot/1.0")
      (k == null && f.isEmpty) || (k != null && f.contains(k.longValue))
    }, n = 300)
  }

  test("DGIM estimate within 50% of exact for arbitrary bit streams") {
    val streamGen = Gen.listOfN(2000, Gen.oneOf(0, 1))
    check(Prop.forAll(streamGen) { bits =>
      val window = 256L
      val d = new Dgim(window)
      var t = 0L
      val ones = scala.collection.mutable.Queue.empty[Long]
      bits.foreach { b =>
        d.addBit(t, b)
        if (b == 1) ones.enqueue(t)
        t += 1
      }
      val now = t - 1
      while (ones.nonEmpty && now - ones.head > window) ones.dequeue()
      val exact = ones.size
      val est = d.estimate(now)
      val bounded = if (exact > 0) math.abs(est - exact) <= math.max(1.0, 0.5 * exact)
                    else est == 0
      bounded && d.bucketCount <= 2 * 12 + 2
    }, n = 50)
  }

  test("Markov classification partitions states; self-loop implies recurrent") {
    val caseGen = for {
      n <- Gen.choose(1, 6)
      seed <- Gen.long
    } yield (n, seed)
    check(Prop.forAll(caseGen) { case (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val p = Array.fill(n, n)(if (rnd.nextDouble() < 0.4) rnd.nextDouble() else 0.0)
      p.foreach { row =>
        val s = row.sum
        if (s > 0) (0 until n).foreach(j => row(j) /= s)
      }
      val states = (0 until n).map(i => s"s$i")
      val cls = Markov.classify(states, p)
      val idx = states.zipWithIndex.toMap
      cls.length == n && cls.forall { c =>
        val coherent =
          if (c.is_recurrent)
            c.dtmc_class == "recurrent-aperiodic" || c.dtmc_class == "recurrent-periodic"
          else c.dtmc_class == "transient"
        val selfLoopRecurrent = p(idx(c.state))(idx(c.state)) <= 0 || c.is_recurrent
        coherent && c.period >= 1 && selfLoopRecurrent
      }
    })
  }

  test("gcd divides both arguments and is commutative") {
    val g = Gen.choose(1L, 1000000L)
    check(Prop.forAll(g, g) { (a, b) =>
      val d = Markov.gcd(a, b)
      d > 0 && a % d == 0 && b % d == 0 && d == Markov.gcd(b, a)
    })
  }

  test("resizeRaster: exact geometry, identity at same size, value closure") {
    val caseGen = for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 24)
      ow <- Gen.choose(1, 24); oh <- Gen.choose(1, 24)
      px <- Gen.listOfN(w * h, Gen.choose(-128, 127).map(_.toByte))
    } yield (w, h, ow, oh, px.toArray)
    check(Prop.forAll(caseGen) { case (w, h, ow, oh, px) =>
      val out = Multimodal.resizeRaster(px, w, h, ow, oh)
      val identity = Multimodal.resizeRaster(px, w, h, w, h).sameElements(px)
      // every output pixel is an input pixel (nearest-neighbor = no
      // invented values), and the geometry is exact
      out.length == ow * oh && identity && out.forall(px.contains)
    }, n = 50)
  }

  test("SRP buckets: native eval, UDF fallback and spec formula agree; stable, bounded, scale-invariant") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vecGen = Gen.listOfN(64, Gen.choose(-1000, 1000).map(_ / 100.0))
    // the spec formula, written independently of both shipped kernels
    def spec(x: Seq[Double]): Seq[Int] = {
      val w = SrpBuckets.planeWeights
      (0 until SrpBuckets.Tables).map { t =>
        (0 until SrpBuckets.Planes).foldLeft(0) { (bits, p) =>
          val base = (t * SrpBuckets.Planes + p) * SrpBuckets.Dims
          val dot = x.indices.map(d => x(d) * w(base + d)).sum
          if (dot > 0) bits | (1 << p) else bits
        }
      }
    }
    // the native expression's interpreted eval path (the codegen path
    // composes the same arithmetic; PlanSpec pins that it is the one
    // in the ANN plans)
    def native(x: Seq[Double]): Seq[Int] =
      SrpBuckets(Literal.create(x, ArrayType(DoubleType, containsNull = false)))
        .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
    // the Scala-UDF fallback's kernel (the formulation a session
    // without the extension runs) — only one of the two kernels runs
    // per session, so drift would be invisible without this pin
    def fallback(x: Seq[Double]): Seq[Int] = Llm.srpBucketsScala(x).toSeq
    // scale by powers of two only: that multiplication is exact in
    // floating point, so sign(dot) is preserved even for near-zero
    // dots (arbitrary factors can flip a 1e-16 dot via rounding)
    check(Prop.forAll(vecGen, Gen.oneOf(2, 4, 8, 16, 32)) { (v, k) =>
      val b = spec(v)
      // all three formulations agree; deterministic; 6-bit bucket
      // range; positive scaling never moves a vector between buckets
      // (cosine-LSH invariant) in any formulation
      native(v) == b && fallback(v) == b &&
        b == spec(v) &&
        b.forall(x => x >= 0 && x < 64) &&
        b == spec(v.map(_ * k)) && native(v.map(_ * k)) == b
    }, n = 50)
  }

  test("char run stats kernel == independent spec of the HOF fold (incl. unicode/astral)") {
    import graft.plans.RunStatsKernel
    import org.apache.spark.unsafe.types.UTF8String
    // the spec mirrors Llm.charEntropyHof independently: Java-regex
    // \s removal, '.' code-point extraction (never matches U+0085 /
    // U+2028 / U+2029), sort in CODE POINT order (= UTF-8 binary, =
    // Spark UTF8String order — NOT java.lang.String's UTF-16 order,
    // which misplaces astral chars), then the run fold with the
    // exact double-add sequence the interpreted lambda performs
    def spec(s: String): (Long, Long, Long, Double) = {
      val cps = s.replaceAll("\\s", "").codePoints().toArray
        .filter(cp => cp != 0x85 && cp != 0x2028 && cp != 0x2029)
        .sorted
      var n = 0L; var runs = 0L; var maxRun = 0L; var sum = 0.0
      var i = 0
      while (i < cps.length) {
        var j = i
        while (j < cps.length && cps(j) == cps(i)) j += 1
        val k = (j - i).toLong
        n += k; runs += 1; maxRun = math.max(maxRun, k)
        sum += k.toDouble * (math.log(k.toDouble) / math.log(2.0))
        i = j
      }
      (n, runs, maxRun, sum)
    }
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", ""),
      2 -> Gen.oneOf("é", "ß", "中", "", " ", " ", "￮"),
      1 -> Gen.oneOf("😀", "𐀀")) // astral (surrogate pairs)
    val textGen = Gen.listOf(charGen).map(_.mkString)
    check(Prop.forAll(textGen) { s =>
      val row = RunStatsKernel.graft_char_run_stats(UTF8String.fromString(s))
      val (n, runs, maxRun, sum) = spec(s)
      row.getLong(0) == n && row.getLong(1) == runs &&
        row.getLong(2) == maxRun && row.getDouble(3) == sum
    })
  }

  test("term counts kernel == frequency map, ascending binary term order, sizes sum to n") {
    import graft.plans.RunStatsKernel
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "b", "ab", "the", "xyz"),
      1 -> Gen.oneOf("é", "中文", "😀", "")))
    check(Prop.forAll(tokGen) { toks =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val out = RunStatsKernel.graft_term_counts(arr)
      val got = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2).asInstanceOf[InternalRow]
        (r.getUTF8String(0).toString, r.getLong(1))
      }
      val want = toks.groupBy(identity).map { case (t, v) => (t, v.length.toLong) }
      val ordered = got.map(t => UTF8String.fromString(t._1))
        .sliding(2).forall(w => w.length < 2 || w(0).compareTo(w(1)) < 0)
      got.toMap == want && ordered && got.map(_._2).sum == toks.length.toLong
    })
  }

  test("postings digest kernel == sorted-join-md5 spec on random posting lists") {
    import graft.plans.RunStatsKernel
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def spec(ps: List[(Long, Int)]): String = {
      val canon = ps.sorted.map { case (d, p) => s"$d:$p" }.mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val pGen = Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0, 30)))
    check(Prop.forAll(pGen) { ps =>
      val arr = new GenericArrayData(ps.map { case (d, p) =>
        new GenericInternalRow(Array[Any](d, p))
      }.toArray[Any])
      RunStatsKernel.graft_postings_digest(arr).toString == spec(ps)
    })
  }

  test("gram stats kernel == independent sliding-window spec") {
    import graft.plans.RunStatsKernel
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // spec: grams = space-joined sliding windows, stats over their
    // frequency multiset; binary (code-point) order for the fold
    def spec(toks: List[String], gn: Int): (Long, Long, Long) = {
      val grams =
        if (toks.length < gn) Nil else toks.sliding(gn).map(_.mkString(" ")).toList
      val freq = grams.groupBy(identity).map { case (_, v) => v.length.toLong }
      (grams.length.toLong, freq.size.toLong, if (freq.isEmpty) 0L else freq.max)
    }
    val tokGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "b", "ab", "the", "xyz"),
      1 -> Gen.oneOf("é", "中文", "😀")))
    check(Prop.forAll(tokGen, Gen.choose(1, 4)) { (toks, gn) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val row = RunStatsKernel.gramStats(arr, gn)
      val (n, runs, maxRun) = spec(toks, gn)
      row.getLong(0) == n && row.getLong(1) == runs && row.getLong(2) == maxRun
    })
  }

  // --- round-9 kernels vs independent Scala models -----------------
  // LlmSpec pins these byte-equal to their SQL folds on the corpus;
  // here the same arithmetic is checked against pure-Scala models
  // over random inputs (unicode, empty strings, arbitrary lengths)
  // with no Spark session in the loop.

  private def arr(toks: List[String]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])

  private val tokGen: Gen[List[String]] = Gen.listOf(Gen.oneOf(
    "a", "bc", "word", "\u00e9\u00e8", "\u4e2d\u6587", "\ud83d\ude00", "", "x y", "longer-token-value"))

  test("gram-hash kernel matches the join-then-xxhash64 model on random token arrays") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    check(Prop.forAll(tokGen, Gen.choose(1, 5)) { (toks, g) =>
      val out = graft.plans.RunStatsKernel.graft_gram_hashes(arr(toks), g)
      val m = math.max(0, toks.length - g + 1)
      out.numElements() == m && (0 until m).forall { i =>
        out.getLong(i) == XXH64.hashUTF8String(
          UTF8String.fromString(toks.slice(i, i + g).mkString(" ")), 42L)
      }
    })
  }

  test("segment kernel partitions the token array exactly, any width") {
    check(Prop.forAll(tokGen.suchThat(_.nonEmpty), Gen.choose(1, 7)) { (toks, w) =>
      val out = graft.plans.RunStatsKernel.graft_segments(arr(toks), w)
      val nSeg = (toks.length - 1) / w + 1
      out.numElements() == nSeg && (0 until nSeg).forall { s =>
        out.getUTF8String(s).toString == toks.slice(s * w, s * w + w).mkString(" ")
      }
    })
  }

  test("range-join bin width bounds the exploded bin table for ANY interval set") {
    // the claim chooseBinWidth's clamp makes (Joins.scala): for any
    // non-degenerate interval table, the bin-exploded build side has
    // at most 4096 + 2·|bands| rows, no matter how skewed the widths
    // — each interval costs floor((hi-eps)/w) - floor(lo/w) + 1 bins
    // (the exact explodedBins arithmetic), and w >= totalWidth/4096
    val bandGen = for {
      n <- Gen.choose(1, 50)
      bands <- Gen.listOfN(n, for {
        lo <- Gen.choose(-1e6, 1e6)
        width <- Gen.oneOf(Gen.choose(0.001, 1.0), Gen.choose(1.0, 10000.0))
      } yield (lo, lo + width))
    } yield bands.zipWithIndex.map { case ((lo, hi), i) => (s"b$i", lo, hi) }
    check(Prop.forAll(bandGen) { bands =>
      val w = graft.operators.Joins.chooseBinWidth(bands)
      val exploded = bands.map { case (_, lo, hi) =>
        (math.floor((hi - 1e-9) / w) - math.floor(lo / w)).toLong + 1L
      }.sum
      w > 0 && exploded <= 4096L + 2L * bands.size && exploded >= bands.size
    })
  }

  test("band-hash kernel matches the seed-chained model for any signature length") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    check(Prop.forAll(Gen.listOf(Gen.long)) { sig =>
      val out = graft.plans.BandHashes.graft_band_hashes(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(sig.toArray))
      out.numElements() == 32 && (0 until 32).forall { b =>
        var h = XXH64.hashInt(b, 42L)
        sig.slice(b * 4, b * 4 + 4).foreach(v => h = XXH64.hashLong(v, h))
        out.getLong(b) == h
      }
    })
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The text-statistics kernels (`graft_char_run_stats`,
  * `graft_gram_stats`, `graft_term_counts`, `graft_fingerprint`,
  * `graft_winnow`, `graft_postings_digest`, `graft_gram_hashes`,
  * `graft_segments`; built in Kernels). Each replaces an interpreted
  * higher-order-function or explode/regroup formulation with one
  * pass per row inside WholeStageCodegen.
  *
  * "Runs" of a SORTED multiset are exactly its per-value
  * frequencies, so the two run-stats kernels count frequencies and
  * fold the summary in ascending binary key order — the same terms,
  * in the same order, as the interpreted higher-order-function
  * formulations they replace (Llm.charEntropy / Llm.repetitionOn
  * fold `array_sort`ed arrays element-by-element), which is what
  * makes the double-precision `ent_sum` bit-identical to the HOF
  * path and to the DuckDB oracle's ORDER BY-inside-aggregate.
  *
  * Output struct (both run-stats kernels):
  *   n       — element count (post skip-set for the char variant)
  *   n_runs  — distinct values (== size(array_distinct(...)))
  *   max_run — largest frequency (== longest equal run when sorted)
  *   ent_sum — Σ k·log2(k) over frequencies k, accumulated in
  *             ascending key order; char entropy = log2(n) − ent_sum/n
  *
  * `java.lang.Math.log` (not StrictMath) deliberately: Spark's Log2
  * evaluates interpreted inside HOF lambdas via `math.log`, and the
  * drift-pin test (PropertySpec) demands bit equality with that path.
  */
object RunStatsKernel {
  val statsType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_runs", LongType, nullable = false),
    StructField("max_run", LongType, nullable = false),
    StructField("ent_sum", DoubleType, nullable = false)))

  private val Ln2 = java.lang.Math.log(2.0)

  // shared separator: these kernels run once per row inside
  // WholeStageCodegen; re-encoding the one-space string per call is
  // pure allocation churn
  private[plans] val Space = UTF8String.fromString(" ")

  // Explicit binary comparator for UTF8String-keyed sorted maps
  // (r22): Spark 4.1's UTF8String.compareTo guards every call with
  // SparkEnvUtils.isTesting — an UNCACHED System.getenv("SPARK_TESTING")
  // per comparison, with byte-array hashing inside the env map — and
  // then delegates to binaryCompare anyway. A TreeMap's natural
  // ordering pays that getenv O(log n) times per insert/lookup; this
  // comparator orders identically (binaryCompare IS compareTo's
  // production path) at zero env-probe cost. Stack-sampled on
  // llm_curate before the fix: the getenv chain was ~15% of the
  // gram-stats task samples.
  private[plans] val BinaryOrder: java.util.Comparator[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)

  /** Character run stats of a string, mirroring the HOF pipeline
    * `regexp_extract_all(regexp_replace(s, '\\s', ''), '.', 0)`
    * exactly: Java-regex `\s` chars are removed, and the three
    * non-`\s` line terminators that `.` never matches (U+0085,
    * U+2028, U+2029) are likewise skipped. Iteration is by code
    * point (Java regex `.` matches one code point), and ascending
    * code-point order equals the UTF-8 binary order `array_sort`
    * gives single-code-point strings. */
  def graft_char_run_stats(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    val len = str.length
    var n = 0L
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      if (!skip(cp)) {
        n += 1L
        val c = counts.get(cp)
        if (c == null) counts.put(cp, Array(1L)) else c(0) += 1L
      }
    }
    finish(n, counts.values.iterator)
  }

  // java.util.regex: \s = [ \t\n\x0B\f\r]; '.' (DOTALL off) also
  // excludes the line terminators U+0085 / U+2028 / U+2029.
  private def skip(cp: Int): Boolean = cp match {
    case ' ' | '\t' | '\n' | 0x0B | '\f' | '\r' => true
    case 0x85 | 0x2028 | 0x2029 => true
    case _ => false
  }

  /** Word n-gram run stats over a token array: each gram is the
    * space-joined window of `gramN` consecutive tokens — byte-equal
    * to the HOF `concat(element_at(toks, i), ' ', ...)` construction
    * (tokens come from `split` on `\s+`, so they contain no spaces
    * and no nulls, and joined-string equality is window equality). */
  def graft_gram_stats(toks: ArrayData, gramN: Int): InternalRow = gramStats(toks, gramN)

  def gramStats(toks: ArrayData, gramN: Int): InternalRow = {
    val m = toks.numElements() - gramN + 1
    val counts = new java.util.TreeMap[UTF8String, Array[Long]](BinaryOrder)
    val sep = Space
    // scratch window reused across grams (concatWs copies the bytes
    // out, so nothing retains the slots) — graft_gram_hashes already hoists
    // its twin; this loop allocated one array per gram
    val parts = new Array[UTF8String](gramN)
    var n = 0L
    var i = 0
    while (i < m) {
      var j = 0
      while (j < gramN) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val g = UTF8String.concatWs(sep, parts: _*)
      n += 1L
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      i += 1
    }
    finish(n, counts.values.iterator)
  }

  val termCountsType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  /** Per-row term frequency map as an array of (term, cnt) structs in
    * ascending binary term order — the map side of a distributed
    * term count. Exploding this instead of the raw token array
    * shrinks the downstream frame to DISTINCT terms per doc and, for
    * per-document statistics (tf), removes the (doc_id, term)
    * shuffle entirely: the count that groupBy would compute after an
    * exchange happens here, inside the scan projection. */
  def graft_term_counts(toks: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val counts = new java.util.TreeMap[UTF8String, Array[Long]](BinaryOrder)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val c = counts.get(t)
      // clone() on first occurrence: the input string can alias a
      // reused scan/column-vector buffer, and the key is RETAINED —
      // both as the TreeMap key and inside the returned row. Copying
      // here (once per distinct term, trivial next to the TreeMap
      // insert) makes the output row own its bytes instead of relying
      // on the caller materializing to UnsafeRow before the next row.
      if (c == null) counts.put(t.clone(), Array(1L)) else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 64-bit hashes of every word n-gram, one pass — the hashed-gram
    * side of the contamination overlap join. Bit-equal to the SQL
    * `transform(sequence(1, size(toks)-(n-1)), i ->
    * xxhash64(concat_ws(' ', slice(toks, i, n))))`: single-arg
    * xxhash64 is XXH64 over the string bytes at seed 42, and the gram
    * bytes come from the same `UTF8String.concatWs` the SQL
    * `concat_ws` evaluates. Callers gate on size >= n (contamination
    * filters first), so the SQL's descending-sequence quirk at
    * size < n never arises. */
  def graft_gram_hashes(toks: ArrayData, gramN: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = toks.numElements() - gramN + 1
    val sp = Space
    val out = new Array[Long](math.max(m, 0))
    val parts = new Array[UTF8String](gramN)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < gramN) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = XXH64.hashUTF8String(UTF8String.concatWs(sp, parts: _*), 42L)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fixed-width token segments (the C4-style span dedup unit), one
    * pass — replaces the interpreted `transform(sequence(0,
    * floor((size(t)-1)/w)), i -> array_join(slice(t, i*w+1, w), ' '))`.
    * `array_join(..., ' ')` over no-null tokens is `concat_ws`, so
    * the segment strings are byte-equal. For the SQL's size-0 edge
    * (`sequence(0, -1)` descends through two out-of-range slices)
    * this returns the same two empty segments — though `split` never
    * produces an empty array, so the path is theoretical. */
  def graft_segments(toks: ArrayData, width: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = toks.numElements()
    val sp = Space
    if (n == 0) {
      val e = UTF8String.EMPTY_UTF8
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](e, e))
    }
    val nSeg = (n - 1) / width + 1
    val out = new Array[Any](nSeg)
    var s = 0
    while (s < nSeg) {
      val from = s * width
      val len = math.min(width, n - from)
      val parts = new Array[UTF8String](len)
      var j = 0
      while (j < len) { parts(j) = toks.getUTF8String(from + j); j += 1 }
      out(s) = UTF8String.concatWs(sp, parts: _*)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Canonical postings digest: sort (doc_id, pos) pairs, join as
    * "doc:pos,doc:pos,...", md5 — one pass, no intermediate string
    * array (the HOF formulation ran an interpreted `transform` per
    * posting and materialized the sorted struct array, the joined
    * array and the final string separately). Byte-equal to
    * md5(array_join(transform(array_sort(ps), ...), ',')). */
  def graft_postings_digest(ps: ArrayData): UTF8String = {
    val n = ps.numElements()
    val docs = new Array[Long](n)
    val poss = new Array[Int](n)
    val idx = new Array[Integer](n)
    var i = 0
    while (i < n) {
      val r = ps.getStruct(i, 2)
      docs(i) = r.getLong(0)
      poss(i) = r.getInt(1)
      idx(i) = i
      i += 1
    }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = java.lang.Long.compare(docs(a), docs(b))
      if (c != 0) c else java.lang.Integer.compare(poss(a), poss(b))
    })
    val sb = new java.lang.StringBuilder(n * 8)
    i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      sb.append(docs(idx(i))).append(':').append(poss(idx(i)))
      i += 1
    }
    // thread-local MD5 (r22): getInstance("MD5") ran a provider
    // lookup + engine allocation PER TERM ROW — the same per-call
    // churn the winnow/fingerprint kernels already hoist
    val md = fpMd5.get()
    md.reset()
    val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new Array[Byte](32)
    val alphabet = "0123456789abcdef"
    i = 0
    while (i < 16) {
      hex(i * 2) = alphabet.charAt((digest(i) >> 4) & 0xF).toByte
      hex(i * 2 + 1) = alphabet.charAt(digest(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  val fingerprintType: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_selected", LongType, nullable = false),
    StructField("min_fp", LongType, nullable = false),
    StructField("fp_xor", LongType, nullable = false)))

  private val fpMd5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Rolling character-8-gram fingerprint stats of a normalized
    * string in one pass: every 8-CODE-POINT window (Spark
    * `substring` counts code points) is md5'd over its UTF-8 bytes,
    * the first 14 hex chars (= digest bytes 0..6) form the 56-bit
    * gram hash, and the "0 mod 16" selected hashes fold into
    * count/min/xor exactly like the SQL aggregate (empty selection →
    * -1/-1). Replaces the 300× gram-row explode + conv hex parse +
    * groupBy — the gram table never materializes. */
  def graft_fingerprint(t: UTF8String): InternalRow = {
    val bytes = t.getBytes
    // code-point start offsets (UTF-8 continuation bytes are 10xxxxxx)
    var cp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) cp += 1
      i += 1
    }
    val offs = new Array[Int](cp + 1)
    var j = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(j) = i; j += 1 }
      i += 1
    }
    offs(cp) = bytes.length
    val md = fpMd5.get()
    val digBuf = new Array[Byte](16) // reused: md.digest() allocated 16 B per gram (r22)
    var nSel = 0L
    var minFp = Long.MaxValue
    var xorFp = 0L
    var w = 0
    while (w + 8 <= cp) {
      md.reset()
      md.update(bytes, offs(w), offs(w + 8) - offs(w))
      md.digest(digBuf, 0, 16)
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digBuf(b) & 0xFFL); b += 1 }
      if (h % 16L == 0L) {
        nSel += 1L
        if (h < minFp) minFp = h
        xorFp ^= h
      }
      w += 1
    }
    val nGrams = math.max(cp - 7, 0).toLong
    new GenericInternalRow(Array[Any](nGrams, nSel,
      if (nSel == 0L) -1L else minFp, if (nSel == 0L) -1L else xorFp))
  }

  val winnowType: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("sel", ArrayType(LongType, containsNull = false), nullable = false)))

  // winnow geometry (Schleimer-Wilkerson-Aiken 2003, "Winnowing:
  // Local Algorithms for Document Fingerprinting", SIGMOD):
  // k = 8 chars (the existing gram hash), window w = 16 gram
  // positions => any exact shared substring of >= w + k - 1 = 23
  // normalized chars is GUARANTEED to contribute a shared selected
  // fingerprint. Selection key packs a 36-bit selection hash with
  // the bit-complemented 24-bit position so that min(key) picks the
  // minimal hash with the RIGHTMOST position as tie-break — one
  // BIGINT total order both engines (and the SQL fallback) share.
  val WinnowW = 16
  val WinnowSelMod = 1L << 36
  val WinnowPosMod = 1L << 24

  /** Winnowed fingerprint set of a normalized string in one pass:
    * every 8-code-point gram is md5-hashed exactly like
    * `graft_fingerprint` (first 7 digest bytes = the 56-bit gram
    * hash), each gram gets the packed selection key above, each
    * window of 16 consecutive gram positions selects its min-key
    * gram, and the distinct FULL 56-bit hashes of the selected
    * positions come back sorted ascending. Docs shorter than
    * w + k - 1 = 23 normalized code points have no full window and
    * return an empty selection. Positions are capped at 2^24 - 1
    * grams (~16.7 M chars) — the packing's domain; training-corpus
    * documents sit orders of magnitude below it. */
  def graft_winnow(t: UTF8String): InternalRow = {
    val bytes = t.getBytes
    var cp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) cp += 1
      i += 1
    }
    val offs = new Array[Int](cp + 1)
    var j = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(j) = i; j += 1 }
      i += 1
    }
    offs(cp) = bytes.length
    val nGrams = math.min(math.max(cp - 7, 0).toLong, WinnowPosMod - 1L).toInt
    if (nGrams < WinnowW)
      return new GenericInternalRow(Array[Any](nGrams.toLong,
        new GenericArrayData(Array.emptyLongArray)))
    val md = fpMd5.get()
    val digBuf = new Array[Byte](16) // reused: md.digest() allocated 16 B per gram
    val hArr = new Array[Long](nGrams)
    val keys = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      md.reset()
      md.update(bytes, offs(g), offs(g + 8) - offs(g))
      md.digest(digBuf, 0, 16)
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digBuf(b) & 0xFFL); b += 1 }
      hArr(g) = h
      // pos is 1-based (matches the SQL sequence(1, n) formulation)
      keys(g) = (h % WinnowSelMod) * WinnowPosMod + (WinnowPosMod - 1L - (g + 1L))
      g += 1
    }
    // Sliding-window minimum via a monotonic deque — O(n) where the
    // former per-window rescan was O(n·W), with no boxed-Long sets
    // (r22; the HashSet/TreeSet hashing was visible in dup_coverage
    // stack samples). Selection is IDENTICAL to the brute scan: keys
    // are pairwise distinct (the packed position term), so each
    // window's minimum is unique, and a key's reign as the minimum
    // spans one CONTIGUOUS run of windows (whatever displaces it
    // entered later, so it also leaves later) — therefore
    // dedup-against-the-previous-selection collects exactly the
    // distinct window minima the old set did.
    val selPos = new Array[Int](nGrams)
    var nSel = 0
    val deque = new Array[Int](nGrams)
    var dqHead = 0
    var dqTail = 0 // live indices in [dqHead, dqTail), keys ascending
    var lastSel = -1
    var idx = 0
    while (idx < nGrams) {
      while (dqTail > dqHead && keys(deque(dqTail - 1)) > keys(idx)) dqTail -= 1
      deque(dqTail) = idx
      dqTail += 1
      if (deque(dqHead) <= idx - WinnowW) dqHead += 1
      if (idx >= WinnowW - 1) {
        val mpos = deque(dqHead)
        if (mpos != lastSel) { selPos(nSel) = mpos; nSel += 1; lastSel = mpos }
      }
      idx += 1
    }
    // distinct selected hashes, ascending — primitive sort + in-place
    // dedupe (the old TreeSet ordering, without the boxing)
    val hs = new Array[Long](nSel)
    var o = 0
    while (o < nSel) { hs(o) = hArr(selPos(o)); o += 1 }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length) {
      if (w == 0 || hs(w - 1) != hs(r)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    val out = if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
    new GenericInternalRow(Array[Any](nGrams.toLong, new GenericArrayData(out)))
  }

  private def finish(n: Long, it: java.util.Iterator[Array[Long]]): InternalRow = {
    var runs = 0L
    var maxRun = 0L
    var s = 0.0
    while (it.hasNext) {
      val k = it.next()(0)
      runs += 1L
      if (k > maxRun) maxRun = k
      val kd = k.toDouble
      s += kd * (java.lang.Math.log(kd) / Ln2)
    }
    new GenericInternalRow(Array[Any](n, runs, maxRun, s))
  }
}

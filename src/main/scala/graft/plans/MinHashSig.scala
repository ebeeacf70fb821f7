package graft.plans

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The `graft_simhash(toks)` kernel: the 60-bit
  * SimHash of a token array in one pass — word bigrams (with
  * multiplicity: votes count every occurrence), md5-derived 60-bit
  * hash per bigram, ±1 bit votes, sign-threshold signature. Replaces
  * the bigram explode + 60-column sum aggregation (same
  * explode-shuffle-regroup shape as the MinHash build: every bigram
  * of a key comes from one representative row). Bit parity with the
  * SQL formulation `conv(substring(md5(g), 1, 15), 16, 10)`: the
  * first 15 hex chars of the digest are bytes 0..6 plus the high
  * nibble of byte 7, folded most-significant-first. */
object SimHash60 {
  private val Bits = 60
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def graft_simhash(toks: ArrayData): Long = {
    val nTok = toks.numElements()
    val sp = RunStatsKernel.Space
    val votes = new Array[Int](Bits)
    val md = md5.get()
    val digBuf = new Array[Byte](16) // reused: md.digest() allocated 16 B per bigram (r22)
    var i = 0
    while (i <= nTok - 2) {
      val g = UTF8String.concatWs(sp, toks.getUTF8String(i), toks.getUTF8String(i + 1))
      md.reset()
      md.update(g.getBytes)
      md.digest(digBuf, 0, 16)
      // first 15 hex chars == bytes 0..6 then the high nibble of 7
      var hv = 0L
      var b = 0
      while (b < 7) { hv = (hv << 8) | (digBuf(b) & 0xFFL); b += 1 }
      hv = (hv << 4) | ((digBuf(7) >> 4) & 0xFL)
      var j = 0
      while (j < Bits) {
        votes(j) += (if (((hv >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** The `graft_band_hashes(sig)` kernel: the 32
  * LSH band hashes of a 128-slot MinHash signature in one primitive
  * loop — band b hashes signature slots [4b, 4b+4). Replaces the
  * interpreted `transform(sequence(0, 31),
  * b -> xxhash64(b, slice(sig, b*4 + 1, 4)))` in the band join
  * (higher-order-function lambdas evaluate interpretively, and
  * `Slice.nullSafeEval` was a top frame in round-9 warm profiles of
  * llm_curate). Bit parity with the SQL fold by construction:
  * multi-arg `xxhash64` seed-chains its arguments — seed 42, then
  * `hashInt(b)`, then one `hashLong` per array element in order —
  * which is exactly the loop below; LlmSpec pins equality on real
  * corpus signatures. */
object BandHashes {
  val Bands = 32
  val RowsPerBand = 4

  def graft_band_hashes(sig: ArrayData): GenericArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var h = XXH64.hashInt(b, 42L)
      // mirror the SQL fold on ANY input (the function is registered
      // for user SQL too, not just the 128-slot pipeline): slice
      // past the array end is a short/empty slice, and array hashing
      // skips null elements (hash of null leaves the seed unchanged)
      var k = b * RowsPerBand
      val end = math.min(k + RowsPerBand, n)
      while (k < end) {
        if (!sig.isNullAt(k)) h = XXH64.hashLong(sig.getLong(k), h)
        k += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** The `graft_minhash_sig(toks)` kernel: the
  * 128-slot MinHash signature (plus distinct-shingle count) of a
  * token array, in ONE pass per row — distinct word-3-gram shingles,
  * two xxhash64 evaluations per shingle, Kirsch-Mitzenmacher
  * expansion `(h1 + i*h2) & (2^31-1)`, elementwise min.
  *
  * Replaces the explode → shuffle → `groupByKey.mapGroups` signature
  * build in the near-dup pipeline: every shingle of a key comes from
  * ONE representative row (exact-dup groups collapse first), so
  * regrouping the exploded shingles was a full-working-set shuffle
  * plus typed-encoder serde that reassembled what the scan already
  * had in hand. Its SQL reference is `Llm.minhashSig`'s kernels-off
  * expression — bit parity is guaranteed by construction:
  *   h1 = pmod(xxhash64(1, shingle), 2^31)
  *      = XXH64.hashUTF8String(shingle, XXH64.hashInt(1, 42)) & mask
  * (pmod by a power of two IS the two's-complement mask), and the
  * shingle bytes come from the same UTF8String.concatWs the SQL
  * `concat_ws` evaluates. LlmSpec pins kernel-vs-SQL equality on
  * the real corpus and edge fixtures.
  */
object MinHashSig {
  val Slots = 128
  private val Mask = (1L << 31) - 1
  private val Seed1 = XXH64.hashInt(1, 42L) // xxhash64(lit(1), _)'s running seed
  private val Seed2 = XXH64.hashInt(2, 42L)

  val sigType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))

  def graft_minhash_sig(toks: ArrayData): GenericInternalRow = compute(toks)

  def compute(toks: ArrayData): GenericInternalRow = {
    val nTok = toks.numElements()
    val sp = RunStatsKernel.Space
    val seen = new java.util.HashSet[UTF8String]()
    val buf = Array.fill(Slots)(Long.MaxValue)
    var n = 0L
    var i = 0
    while (i <= nTok - 3) {
      val g = UTF8String.concatWs(sp,
        toks.getUTF8String(i), toks.getUTF8String(i + 1), toks.getUTF8String(i + 2))
      if (seen.add(g)) {
        n += 1L
        val h1 = XXH64.hashUTF8String(g, Seed1) & Mask
        val h2 = XXH64.hashUTF8String(g, Seed2) & Mask
        // deliberately the multiply form, NOT the strength-reduced
        // v += h2 walk (measured in r22): the multiply keeps every
        // iteration independent — the OoO core pipelines them —
        // while the iterative add is one serial 128-deep dependency
        // chain; the A/B showed the "reduction" roughly doubling the
        // kernel's warm CPU share on llm_dedup_near
        var j = 0
        while (j < Slots) {
          val v = (h1 + j * h2) & Mask
          if (v < buf(j)) buf(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, new GenericArrayData(buf)))
  }
}

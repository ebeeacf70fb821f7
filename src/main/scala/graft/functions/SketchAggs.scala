package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.util.sketch.BloomFilter

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** Mergeable sketch aggregators (SURVEY.md §2.10). Each is
  * associative + commutative, so Spark runs them as partial+final
  * hash aggregations: each task folds its rows into a local sketch
  * and only the fixed-size sketch buffers cross the shuffle — at
  * 100 TB the network cost is O(groups × sketch size), independent
  * of row count, exactly the property the reference's client-side
  * sketch builds (consultas.py:115-220) lack (they ship raw rows).
  */
object SketchAggs {

  // thread-local SHA-256 (r22): FaithfulHllAgg.reduce ran
  // MessageDigest.getInstance("SHA-256") PER ROW — a provider lookup
  // plus engine allocation per aggregated key. Object-level (static
  // per JVM), so it never rides the Aggregator's serialized closure.
  private val sha256 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("SHA-256"))

  /** A8: distributed Bloom-filter build, replacing the reference's
    * single-process fill loop (bloomfilter.py:22-25). Wraps Spark's
    * `org.apache.spark.util.sketch.BloomFilter`, which uses the same
    * optimal sizing formulas as bloomfilter.py:13-17
    * (m = -n·ln p/ln²2, k = (m/n)·ln 2). The buffer is the live
    * filter, java-serialized between partial and final agg:
    * `BloomFilterImpl.writeObject` delegates to its own `writeTo`
    * wire format, so the buffer bytes ARE the sketch's portable form.
    * (Kryo's FieldSerializer would instead reflect into the backing
    * `ByteBuffer`, which JDK 17 forbids unless the JVM was launched
    * with `--add-opens java.base/java.nio` — true under spark-submit
    * but not under an embedded/plain-JVM driver.) The output is the
    * same serialized form, small enough to broadcast to probe-side
    * tasks.
    *
    * `expectedItems` is the per-group design capacity: at scale,
    * derive it from an `approx_count_distinct` pre-pass or a fixed
    * envelope — an undersized filter degrades FPR but never breaks
    * the no-false-negative guarantee.
    */
  class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    def reduce(b: BloomFilter, key: String): BloomFilter = { b.putString(key); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
    def finish(b: BloomFilter): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def deserializeBloom(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  /** Faithful HyperLogLog replicating hyperloglog.py:4-38 bit-for-bit
    * as a mergeable Aggregator: sha256 of the key, register index =
    * top `b` bits of the 256-bit digest, rank = leading zeros of the
    * remaining 256-b bits + 1, registers merged by elementwise max,
    * estimate with the 0.7213/(1+1.079/m) alpha and the
    * small/large-range corrections (rounded half-even like Python's
    * round). b=12 → m=4096 registers → rsd ≈ 1.625 %, the reference's
    * configuration. Unlike the reference (client-side over shipped
    * raw rows, consultas.py:155-166) the registers merge across
    * partial aggregates, so only 4 KB per group crosses the shuffle. */
  class FaithfulHllAgg(b: Int = 12) extends Aggregator[String, Array[Int], Long] {
    private val m = 1 << b

    def zero: Array[Int] = new Array[Int](m)

    def reduce(reg: Array[Int], key: String): Array[Int] = {
      val md = sha256.get()
      md.reset()
      val d = md.digest(key.getBytes("UTF-8"))
      // index = top b bits (b <= 16 supported here)
      val idx = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) >>> (16 - b)
      // rank = leading zeros of bits [b, 256) + 1
      var rank = 1
      var bitPos = b
      var seen = false
      while (!seen && bitPos < 256) {
        val byte = d(bitPos >> 3) & 0xff
        val bit = (byte >> (7 - (bitPos & 7))) & 1
        if (bit == 1) seen = true else { rank += 1; bitPos += 1 }
      }
      if (reg(idx) < rank) reg(idx) = rank
      reg
    }

    def merge(a: Array[Int], b2: Array[Int]): Array[Int] = {
      var i = 0
      while (i < m) { if (b2(i) > a(i)) a(i) = b2(i); i += 1 }
      a
    }

    def finish(reg: Array[Int]): Long = {
      val alpha = 0.7213 / (1 + 1.079 / m)
      var z = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        z += math.pow(2.0, -reg(i))
        if (reg(i) == 0) zeros += 1
        i += 1
      }
      var e = alpha * m.toDouble * m.toDouble / z
      if (e <= 2.5 * m) {
        if (zeros > 0) e = m * math.log(m.toDouble / zeros)
      } else if (e > (1.0 / 30.0) * math.pow(2, 32)) {
        e = -math.pow(2, 32) * math.log(1 - e / math.pow(2, 32))
      }
      math.rint(e).toLong // half-even, matching Python round()
    }

    def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** MinHash from two base hashes (Kirsch-Mitzenmacher): the input
    * row carries only (h1, h2); the 128 derived values h1 + i*h2 are
    * expanded inside `reduce` as a primitive JVM loop. Versus feeding
    * a precomputed 128-element array column, this avoids allocating
    * an ArrayData per input row — at 100 TB that allocation is pure
    * GC pressure on the hot aggregation path.
    *
    * The mixing MUST wrap mod 2^64 (which JVM arithmetic does
    * natively — one reason the expansion lives here and not in a SQL
    * expression, where ANSI mode forbids overflow): an early variant
    * masked h2 to 32 bits to dodge ANSI, which made i*h2 negligible
    * against h1's spread, collapsed every slot's argmin onto the same
    * min-h1 element, and silently destroyed signature independence —
    * caught as LSH misses on subset-pairs at sf0.1. */
  class MinHash2Agg(numHashes: Int) extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(buf: Array[Long], h: (Long, Long)): Array[Long] = {
      val (h1, h2) = h
      var i = 0
      while (i < numHashes) {
        val v = (h1 + i * h2) & Long.MaxValue // wraps, then masked positive
        if (v < buf(i)) buf(i) = v
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }
}

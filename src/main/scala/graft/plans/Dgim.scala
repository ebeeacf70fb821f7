package graft.plans

import scala.collection.mutable

/** True DGIM (Datar-Gionis-Indyk-Motwani) windowed bit counting.
  *
  * The reference's dgim.py is NOT real DGIM — it stores every 1-bit
  * as its own (timestamp, 1) bucket with no exponential merging
  * (dgim.py:12-16), so its memory is O(ones-in-window) and its
  * "estimate" is the exact count minus half the oldest bit
  * (SURVEY §2.4 A9). This is the genuine algorithm the reference
  * names: at most `maxPerSize` (=2) buckets per power-of-two size,
  * oldest pair merged on overflow — O(log² W) memory regardless of
  * stream length, estimate error ≤ 50 % of the true count (the
  * classic DGIM bound), which is what "approximate bit-stream
  * counting" has to mean at 100 TB.
  *
  * Single-stream, order-dependent by nature: feed bits in event-time
  * order per key (sortWithinPartitions upstream).
  */
class Dgim(windowSize: Long, maxPerSize: Int = 2) {

  /** (newestTimestamp, size); index 0 = newest bucket. */
  private val buckets = mutable.ArrayDeque.empty[(Long, Long)]

  def addBit(ts: Long, bit: Int): Unit = {
    expire(ts)
    if (bit == 1) {
      buckets.prepend((ts, 1L))
      var size = 1L
      var merging = true
      while (merging) {
        // one allocation-free index scan for this size's run: track
        // the two OLDEST (largest-index) buckets of the size and the
        // run length. (This is the sketch's per-1-bit hot loop — the
        // previous iterator+Seq formulation allocated per bit, which
        // the stitched batch replay and the streaming state path both
        // pay per event.)
        var count = 0
        var oldest = -1
        var second = -1
        var i = 0
        val len = buckets.length
        while (i < len) {
          if (buckets(i)._2 == size) { count += 1; second = oldest; oldest = i }
          i += 1
        }
        if (count > maxPerSize) {
          // merge the two OLDEST buckets of this size; the merged
          // bucket keeps the newer of the two timestamps
          val merged = (buckets(second)._1, size * 2)
          buckets.remove(oldest)
          buckets.remove(second)
          buckets.insert(second, merged)
          size *= 2
        } else merging = false
      }
    }
  }

  /** Replays one folded record: `ones` 1-bits at `ts`, or one 0-bit
    * when `ones` is 0. This is bit-identical to replaying, in order,
    * the rows at `ts` that the record counts: a 0-bit only expires
    * buckets, and expiring twice at the same second is expiring once.
    * So a caller may combine its rows per (key, second) before the
    * shuffle (Sketches.dgimTrue, Streaming.dgimCounts). */
  def addCount(ts: Long, ones: Long): Unit =
    if (ones == 0) addBit(ts, 0)
    else {
      var k = 0L
      while (k < ones) { addBit(ts, 1); k += 1 }
    }

  private def expire(now: Long): Unit =
    while (buckets.nonEmpty && now - buckets.last._1 > windowSize)
      buckets.removeLast()

  /** DGIM estimate at time `now`: full size of every bucket except
    * the oldest, which contributes half. */
  def estimate(now: Long): Long = {
    expire(now)
    if (buckets.isEmpty) 0L
    // all but the oldest in full, plus half the oldest (floor —
    // matching the reference's int(estimate) truncation, dgim.py:35)
    else buckets.iterator.map(_._2).sum - buckets.last._2 + buckets.last._2 / 2
  }

  /** Memory guarantee hook for tests: bucket count is O(log² W). */
  def bucketCount: Int = buckets.length

  /** Sketch state as plain bytes — newestTimestamp and size as two
    * big-endian longs per bucket, newest first — so a streaming job can
    * park it in a state store between micro-batches
    * (Streaming.dgimCounts) and restore with `loadBuckets`. O(log² W)
    * values however long the stream. A binary state column
    * deserializes with a plain copy; an array state (`Seq[(Long,
    * Long)]`, even `Array[Long]`) plans `MapObjects`, whose fresh
    * lambda variable compiles a new deserializer in every micro-batch. */
  def exportBuckets: Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(buckets.length * 16)
    buckets.foreach { case (ts, size) => out.putLong(ts).putLong(size) }
    out.array()
  }

  def loadBuckets(bs: Array[Byte]): Unit = {
    buckets.clear()
    val in = java.nio.ByteBuffer.wrap(bs)
    while (in.remaining() >= 16) buckets.append((in.getLong(), in.getLong()))
  }
}

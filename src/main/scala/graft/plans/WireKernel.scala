package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The wire-event decode kernel: one byte-level pass over a JSON
  * event row, accepting only input whose `from_json(value,
  * eventSchema)` decode is provably the same struct, and NULL for
  * everything else, so `coalesce(graft_wire_decode(v), <from_json's
  * evaluator>(v))` (`Streaming.wireEvent`) equals `from_json` alone
  * while Jackson runs only for the rows the kernel rejects (corrupt,
  * null or unusual input).
  *
  * Accepted: an object holding exactly the five schema keys, in any
  * order, each once and non-null, with optional JSON whitespace
  * around its tokens (Python's `json.dumps` writes `": "` and
  * `", "`), and nothing after the closing brace. Then per field:
  *  - `event_id`, `user_id`: a JSON integer of at most 18 digits;
  *  - `value`: a JSON number. An integer of at most 18 digits is the
  *    `double` of its long, as Jackson reads integer tokens (so `-0`
  *    is `0.0`); any other number is the correctly rounded double of
  *    its text, which is what Jackson's `Double.parseDouble` returns
  *    (up to 15 significant digits with a power of ten up to 22 is one
  *    IEEE multiply or divide of exact operands, the JDK's own fast
  *    path; the rest go through `parseDouble` on the same text).
  *    Quoted numbers and `NaN` are rejected;
  *  - `event_type`: a string of bytes 0x20-0x7f without `\` escapes;
  *  - `ts`: `yyyy-MM-ddTHH:mm:ss[.f{1,6}]` with `Z` or `±HH:MM`, a
  *    valid proleptic Gregorian date and time, read as Spark's default
  *    JSON timestamp parser reads it. Strings without an offset, dates,
  *    epoch numbers and offsets with seconds are rejected, so the
  *    result never depends on the session time zone.
  * The scan stops at the first byte that does not fit.
  *
  * `graft_json_int(json, field)` reuses the scan for one integer field
  * of a flat object: `coalesce(graft_json_int(p, 'k'),
  * get_json_object(p, '$.k').cast("int"))` (`Ecosystem.importance`)
  * equals the fallback alone. It answers only for an object of at
  * most `MaxIntRow` bytes (under every Jackson read limit) whose
  * members are escape-free ASCII keys with escape-free ASCII string,
  * number, `true`, `false` or `null` values, in which `field` occurs
  * once as a JSON integer within int range, with only JSON whitespace
  * around the tokens and after the closing brace. Everything else
  * (nesting, escapes, duplicate fields, floats, quoted or
  * out-of-range values, malformed input) is NULL, so Jackson, the cast
  * and its ANSI errors see exactly the rows they saw before. */
object WireKernel {

  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")

  /** The event struct of `s` in schema order, or null. */
  def graft_wire_decode(s: UTF8String): InternalRow = new Scan(s).event()

  /** The int value of `field` in the flat JSON object `s`, or null. */
  def graft_json_int(s: UTF8String, field: UTF8String): java.lang.Integer =
    if (s.numBytes > MaxIntRow) null else new Scan(s).intField(field)

  /** Longest `graft_json_int` input: below Jackson's default name
    * (50,000), string (20,000,000) and number (1,000) length limits. */
  private final val MaxIntRow = 49999

  private val Keys: Array[UTF8String] = eventSchema.fieldNames.map(UTF8String.fromString)

  /** Failure sentinel of the integer and timestamp readers: accepted
    * integers stay below 10^18 and accepted timestamps within years
    * 0-9999, so no accepted value is `Long.MinValue`. */
  private final val Bad = Long.MinValue

  private val Pow10: Array[Double] = Array.tabulate(23)(k => math.pow(10, k))

  private final class Scan(s: UTF8String) {
    private val n = s.numBytes
    private var i = 0

    /** The unsigned byte at `j`, or -1 past the end. */
    private def at(j: Int): Int = if (j < n) s.getByte(j) & 0xff else -1

    /** Bytes `[from, to)` as a view over the input buffer. */
    private def slice(from: Int, to: Int): UTF8String =
      UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, to - from)

    private def eat(c: Char): Boolean =
      if (at(i) == c) { i += 1; true } else false

    private def ws(): Unit =
      while (i < n && { val c = at(i); c == ' ' || c == '\n' || c == '\r' || c == '\t' }) i += 1

    private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

    /** Exactly `k` digits as an int, or -1. */
    private def digits(k: Int): Int = {
      var v = 0
      var j = 0
      while (j < k) {
        val c = at(i)
        if (!isDigit(c)) return -1
        v = v * 10 + (c - '0'); i += 1; j += 1
      }
      v
    }

    def event(): InternalRow = {
      if (!eat('{')) return null
      var seen = 0
      var eventId, ts, userId = 0L
      var eventType: UTF8String = null
      var value = 0.0
      var k = 0
      while (k < Keys.length) {
        ws()
        if (k > 0) { if (!eat(',')) return null; ws() }
        val f = key(Keys)
        if (f < 0 || (seen & (1 << f)) != 0) return null
        seen |= 1 << f
        ws()
        if (!eat(':')) return null
        ws()
        f match {
          case 0 => eventId = long(); if (eventId == Bad) return null
          case 1 => ts = timestamp(); if (ts == Bad) return null
          case 2 => userId = long(); if (userId == Bad) return null
          case 3 => eventType = string(); if (eventType == null) return null
          case _ => value = double(); if (value.isNaN) return null
        }
        k += 1
      }
      ws()
      if (!eat('}') || i != n) return null
      new GenericInternalRow(Array[Any](eventId, ts, userId, eventType, value))
    }

    /** The end of the escape-free printable ASCII string opening at
      * `i` (its closing quote), or -1. */
    private def stringEnd(): Int = {
      if (!eat('"')) return -1
      var j = i
      while (true) {
        val c = at(j)
        if (c == '"') return j
        if (c < 0x20 || c >= 0x80 || c == '\\') return -1
        j += 1
      }
      -1
    }

    /** The int value of the one `field` member, or null (see
      * `graft_json_int`). */
    def intField(field: UTF8String): java.lang.Integer = {
      val names = Array(field)
      ws()
      if (!eat('{')) return null
      var v = Bad
      ws()
      if (!eat('}')) {
        var more = true
        while (more) {
          ws()
          val f = key(names)
          if (f == -2) return null
          ws()
          if (!eat(':')) return null
          ws()
          if (f == 0) {
            if (v != Bad) return null
            v = long()
            if (v < Int.MinValue || v > Int.MaxValue) return null
          } else if (!scalar()) return null
          ws()
          more = eat(',')
        }
        if (!eat('}')) return null
      }
      ws()
      if (i != n || v == Bad) null else Int.box(v.toInt)
    }

    /** Steps over an escape-free ASCII string, a JSON number, `true`,
      * `false` or `null`; false at anything else. */
    private def scalar(): Boolean = at(i) match {
      case '"' => val end = stringEnd(); i = end + 1; end >= 0
      case 't' => word("true")
      case 'f' => word("false")
      case 'n' => word("null")
      case _ => !double().isNaN
    }

    private def word(w: String): Boolean = {
      var j = 0
      while (j < w.length && at(i + j) == w.charAt(j)) j += 1
      if (j == w.length) { i += j; true } else false
    }

    /** The index in `names` of the escape-free ASCII key at `i` (moving
      * past it), -1 for another such key, or -2 when none opens at `i`. */
    private def key(names: Array[UTF8String]): Int = {
      val end = stringEnd()
      if (end < 0) return -2
      val len = end - i
      var f = 0
      while (f < names.length && !(names(f).numBytes == len && ByteArrayMethods.arrayEquals(
          s.getBaseObject, s.getBaseOffset + i, names(f).getBaseObject, names(f).getBaseOffset, len)))
        f += 1
      i = end + 1
      if (f == names.length) -1 else f
    }

    private def string(): UTF8String = {
      val end = stringEnd()
      if (end < 0) return null
      // a copy: the input buffer may be reused for the next row
      val str = slice(i, end).copy()
      i = end + 1
      str
    }

    /** The unsigned JSON integer part at `i` (`0` or no leading
      * zero) as a long, or `Bad` when it is missing or longer than 18
      * digits. */
    private def unsigned(): Long = {
      val start = i
      var v = 0L
      while (isDigit(at(i))) {
        if (i - start == 18) return Bad
        v = v * 10 + (at(i) - '0'); i += 1
      }
      if (i == start || (i - start > 1 && at(start) == '0')) Bad else v
    }

    /** A JSON integer of at most 18 digits; a fraction or exponent
      * makes the token a float, which the caller's next check rejects. */
    private def long(): Long = {
      val neg = eat('-')
      val v = unsigned()
      if (v == Bad) Bad else if (neg) -v else v
    }

    /** A JSON number as Jackson's `getDoubleValue` reads it, or NaN. */
    private def double(): Double = {
      val start = i
      val neg = eat('-')
      val intStart = i
      val whole = unsigned()
      if (whole == Bad) return Double.NaN
      // an integer token: Jackson's double of its int or long
      if (at(i) != '.' && at(i) != 'e' && at(i) != 'E')
        return (if (neg) -whole else whole).toDouble
      // significant digits (kept while at most 15) and the decimal scale
      var m = whole
      var nDigits = if (whole == 0) 0 else i - intStart
      var scale = 0
      if (eat('.')) {
        val fracStart = i
        while (isDigit(at(i))) {
          if (nDigits <= 15) {
            m = m * 10 + (at(i) - '0'); scale -= 1
            if (m != 0) nDigits += 1
          }
          i += 1
        }
        if (i == fracStart) return Double.NaN
      }
      if (at(i) == 'e' || at(i) == 'E') {
        i += 1
        val eNeg = if (eat('-')) true else { eat('+'); false }
        val expStart = i
        var e = 0
        while (isDigit(at(i))) {
          if (e < 10000) e = e * 10 + (at(i) - '0')
          i += 1
        }
        if (i == expStart) return Double.NaN
        scale += (if (eNeg) -e else e)
      }
      if (i - start > 64) return Double.NaN
      if (nDigits <= 15 && scale >= -22 && scale <= 22) {
        val v = if (scale < 0) m / Pow10(-scale) else m * Pow10(scale)
        if (neg) -v else v
      } else java.lang.Double.parseDouble(slice(start, i).toString)
    }

    /** `"yyyy-MM-ddTHH:mm:ss[.f{1,6}](Z|±HH:MM)"` as epoch micros, or
      * `Bad`. */
    private def timestamp(): Long = {
      if (!eat('"')) return Bad
      val y = digits(4)
      if (y < 0 || !eat('-')) return Bad
      val mo = digits(2)
      if (mo < 1 || mo > 12 || !eat('-')) return Bad
      val d = digits(2)
      if (d < 1 || d > daysIn(y, mo) || !eat('T')) return Bad
      val h = digits(2)
      if (h < 0 || h > 23 || !eat(':')) return Bad
      val mi = digits(2)
      if (mi < 0 || mi > 59 || !eat(':')) return Bad
      val sec = digits(2)
      if (sec < 0 || sec > 59) return Bad
      var micros = 0L
      if (eat('.')) {
        var nf = 0
        while (isDigit(at(i)) && nf < 6) { micros = micros * 10 + (at(i) - '0'); i += 1; nf += 1 }
        if (nf == 0 || isDigit(at(i))) return Bad
        while (nf < 6) { micros *= 10; nf += 1 }
      }
      var offsetSec = 0
      if (!eat('Z')) {
        val sign = if (eat('+')) 1 else if (eat('-')) -1 else return Bad
        val oh = digits(2)
        if (oh < 0 || !eat(':')) return Bad
        val om = digits(2)
        if (om < 0 || om > 59 || oh * 60 + om > 18 * 60) return Bad
        offsetSec = sign * (oh * 3600 + om * 60)
      }
      if (!eat('"')) return Bad
      val secs = epochDay(y, mo, d) * 86400L + h * 3600 + mi * 60 + sec - offsetSec
      secs * 1000000L + micros
    }
  }

  private def isLeap(y: Int): Boolean = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def daysIn(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to the proleptic Gregorian date (years
    * 0-9999; the civil-from-days inverse of H. Hinnant's algorithm). */
  private def epochDay(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }
}

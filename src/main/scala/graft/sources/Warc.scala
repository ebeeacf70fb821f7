package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) ingestion — the container format a
  * real 100 TB web-crawl training corpus actually arrives in
  * (Common Crawl ships WARC; the reference's ecosystem ingests JSON
  * events, and SURVEY §2.1's source surface gains the crawl-native
  * sibling here).
  *
  * A WARC file is a concatenation of records, each:
  *
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: response\r\n
  * WARC-Record-ID: <urn:uuid:...>\r\n
  * WARC-Target-URI: https://...\r\n
  * Content-Length: N\r\n
  * \r\n
  * <N payload bytes>\r\n\r\n
  * }}}
  *
  * The parser is strict, allocation-bounded header arithmetic:
  * version line `WARC/0.x..1.x`, case-insensitive header names,
  * `Content-Length`-driven payload skip (the payload is OPAQUE —
  * never scanned for terminators, which is what makes the walk O(1)
  * per header byte at any payload size), and the mandatory
  * `\r\n\r\n` record terminator. A malformed record (bad version
  * line, unparseable or overrunning length, missing terminator) ends
  * the walk; everything parsed before it is kept — the standard
  * salvage semantics for a truncated crawl segment.
  *
  * Spark shape: whole files ride the built-in `binaryFile` source
  * (one row per .warc file, payload in `content`), records explode
  * in a `flatMap` — so a directory of crawl segments parallelizes by
  * FILE, the unit WARC was designed to split on (Common Crawl
  * segments are ~1 GB; at 100 TB that is ~100k well-sized input
  * splits with zero cross-file coordination). Headers become a
  * `map<string,string>` column; payloads stay `binary` and flow
  * straight into the documents/media pipelines (`Multimodal.decode`,
  * text quality, dedup).
  */
object Warc {

  /** Gzip COMPRESSION for the synthesis side of the oracle legs
    * (`warcHttp`, `wrapCrawlResponse`) — one `Deflater`/`CRC32` pair
    * per executor thread, reset per member, instead of a fresh
    * `GZIPOutputStream` (and its native zstream allocation) per row:
    * the `compressRatio` pattern (operators/Llm.scala) applied to the
    * gzip writer. Output is byte-identical to `GZIPOutputStream` at
    * the default level — same RFC 1952 header (CM=8, zero flags,
    * MTIME=0, XFL=0, OS=0xff unknown), same raw-deflate stream, same CRC32 +
    * ISIZE little-endian trailer — so `gunzipAll`/`gzipMembers` and
    * every external gunzip read it unchanged (WarcSpec pins the
    * byte equality). Thread-locals are bounded by the executor's
    * thread count; the Deflater's native memory is reclaimed by its
    * cleaner when a pool thread retires. */
  private object GzipOut {
    private val state = new ThreadLocal[
        (java.util.zip.Deflater, java.util.zip.CRC32, Array[Byte])] {
      override def initialValue() =
        (new java.util.zip.Deflater(
           java.util.zip.Deflater.DEFAULT_COMPRESSION, /* nowrap = */ true),
         new java.util.zip.CRC32, new Array[Byte](65536))
    }
    private def le32(out: java.io.ByteArrayOutputStream, x: Long): Unit = {
      out.write((x & 0xff).toInt); out.write(((x >> 8) & 0xff).toInt)
      out.write(((x >> 16) & 0xff).toInt); out.write(((x >> 24) & 0xff).toInt)
    }
    def member(raw: Array[Byte]): Array[Byte] = {
      val (defl, crc, buf) = state.get()
      defl.reset(); crc.reset()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte), 0, 10)
      defl.setInput(raw); defl.finish()
      while (!defl.finished()) {
        val n = defl.deflate(buf)
        out.write(buf, 0, n)
      }
      crc.update(raw)
      le32(out, crc.getValue)
      le32(out, raw.length.toLong & 0xffffffffL)
      out.toByteArray
    }
  }

  /** Test-visible door to the reused-compressor gzip writer (WarcSpec
    * pins its output byte-equal to `GZIPOutputStream`). */
  private[graft] def gzipMemberOf(raw: Array[Byte]): Array[Byte] =
    GzipOut.member(raw)

  /** One parsed record: version, headers (original-case values,
    * lower-cased names), and the opaque payload bytes. */
  final case class WarcRecord(version: String,
                              headers: Map[String, String],
                              payload: Array[Byte])

  private val Crlf = "\r\n"

  /** Parse every well-formed record from the head of `b`; stops at
    * the first malformed one (salvage semantics). */
  def parseRecords(b: Array[Byte]): Seq[WarcRecord] = parseRecordsWithTail(b)._1

  /** `parseRecords` plus the offset the walk stopped at — `consumed
    * < b.length` means a malformed tail was left behind, and the
    * container source turns that into a VISIBLE drop row instead of
    * silence. */
  private[graft] def parseRecordsWithTail(b: Array[Byte]): (Seq[WarcRecord], Int) = {
    val out = Vector.newBuilder[WarcRecord]
    var i = 0
    var ok = true
    while (ok && i < b.length) {
      parseRecord(b, i) match {
        case Some((rec, next)) => out += rec; i = next
        case None => ok = false
      }
    }
    (out.result(), i)
  }

  /** One record at offset `o`: Some((record, nextOffset)) or None. */
  private def parseRecord(b: Array[Byte], o: Int): Option[(WarcRecord, Int)] = {
    // version line: "WARC/<d>.<d>\r\n"
    val vEnd = lineEnd(b, o)
    if (vEnd < 0) return None
    val version = new String(b, o, vEnd - o, "US-ASCII")
    if (!version.startsWith("WARC/") || version.length < 8 ||
        !version.drop(5).matches("[01]\\.[0-9]+")) return None
    // header block: lines until the empty line
    var i = vEnd + 2
    val headers = Map.newBuilder[String, String]
    var contentLength = -1L
    var more = true
    while (more) {
      val e = lineEnd(b, i)
      if (e < 0) return None
      if (e == i) { more = false; i += 2 } // empty line: end of headers
      else {
        val line = new String(b, i, e - i, "UTF-8")
        val colon = line.indexOf(':')
        if (colon <= 0) return None
        val name = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        headers += name -> value
        if (name == "content-length") {
          if (!value.matches("[0-9]{1,18}")) return None
          contentLength = value.toLong
        }
        i = e + 2
      }
    }
    if (contentLength < 0) return None // mandatory per ISO 28500
    if (i.toLong + contentLength + 4 > b.length) return None // payload + \r\n\r\n
    val payload = java.util.Arrays.copyOfRange(b, i, i + contentLength.toInt)
    val t = i + contentLength.toInt
    if (b(t) != '\r' || b(t + 1) != '\n' || b(t + 2) != '\r' || b(t + 3) != '\n')
      return None
    Some((WarcRecord(version, headers.result(), payload), t + 4))
  }

  /** Offset of the next \r\n at/after `o` within the HEADER region,
    * or -1. Bounded: header lines have no business being longer than
    * 64 KiB — a missing terminator must not scan a multi-GB payload. */
  private def lineEnd(b: Array[Byte], o: Int): Int = {
    var i = o
    val cap = math.min(b.length - 1, o + 65536)
    while (i < cap) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Bounded SINGLE-SHOT gunzip (whole stream, all members, one
    * output array under one cap). NOT the container source's inflate
    * anymore — `records`/`recordStream` walk members one at a time
    * via `gzipMembers` so real-sized segments can't vanish behind a
    * whole-segment cap; this helper remains for small in-record
    * payloads (HTTP Content-Encoding, the oracle legs) where the
    * whole-thing-or-nothing contract is the right one. `cap` is the
    * decompression-bomb guard: a hostile kilobyte must not allocate
    * gigabytes. Returns None on corrupt gzip or a cap overrun. */
  private[graft] def gunzipAll(b: Array[Byte], cap: Int = 1 << 28): Option[Array[Byte]] = {
    if (b.length < 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) return None
    // initial-capacity hint in LONG arithmetic: b.length * 4 overflows
    // Int past 512 MB (possible when the caller raises cap), and a
    // negative capacity would THROW out of the never-throws salvage
    // contract instead of producing a visible drop
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length.toLong * 4, cap.toLong).toInt)
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size() + n > cap) return None // bomb guard
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch {
      case _: java.io.IOException => None // corrupt member / truncated stream
    }
  }

  /** Walk the gzip MEMBERS of a `.warc.gz` segment one at a time —
    * the scale-safe inflate. Common Crawl writes one record per
    * member precisely so a multi-GB segment never has to exist
    * inflated in one piece; this iterator honors that design: each
    * member inflates independently under its OWN bomb cap (a real
    * ~1 GB segment whose TOTAL inflated size is 3-5 GB streams
    * through member-sized buffers), and a corrupt member yields a
    * `Left(reason)` then RESYNCS at the next member magic, so damage
    * drops one record, not the segment. Uses `Inflater` directly
    * (raw deflate after a hand-walked RFC 1952 header) because
    * `GZIPInputStream` hides member boundaries — and the boundary IS
    * the unit of both capping and salvage here. CRC32 and ISIZE
    * trailers are verified: silent corruption becomes a visible
    * drop, not garbage records. */
  private[graft] def gzipMembers(b: Array[Byte],
      capPerMember: Int = 1 << 28): Iterator[Either[String, Array[Byte]]] =
    new Iterator[Either[String, Array[Byte]]] {
      private var off = 0
      def hasNext: Boolean = off < b.length
      def next(): Either[String, Array[Byte]] =
        inflateMember(b, off, capPerMember) match {
          case Right((plain, nextOff)) =>
            off = nextOff
            Right(plain)
          case Left(err) =>
            // salvage: resync at the next member header after the
            // failure point; no further magic → the walk ends
            val resume = nextMemberMagic(b, off + 1)
            off = if (resume < 0) b.length else resume
            Left(err)
        }
    }

  /** Offset of the next gzip member header (`1f 8b 08`) at/after
    * `o`, or -1. */
  private def nextMemberMagic(b: Array[Byte], o: Int): Int = {
    var i = math.max(o, 0)
    while (i + 2 < b.length) {
      if ((b(i) & 0xff) == 0x1f && (b(i + 1) & 0xff) == 0x8b && b(i + 2) == 8)
        return i
      i += 1
    }
    -1
  }

  /** One gzip member at `off`: Right((inflated, nextOffset)) or
    * Left(reason). RFC 1952 header walk (FEXTRA/FNAME/FCOMMENT/FHCRC
    * optional fields), raw-deflate inflate under `cap`, CRC32+ISIZE
    * trailer verification. */
  private def inflateMember(b: Array[Byte], off: Int,
      cap: Int): Either[String, (Array[Byte], Int)] = {
    if (off + 10 > b.length) return Left("gzip_truncated_header")
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b)
      return Left("gzip_bad_magic")
    if (b(off + 2) != 8) return Left("gzip_unknown_method")
    val flg = b(off + 3) & 0xff
    var p = off + 10
    if ((flg & 0x04) != 0) { // FEXTRA
      if (p + 2 > b.length) return Left("gzip_truncated_header")
      val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > b.length) return Left("gzip_truncated_header")
    }
    if ((flg & 0x08) != 0) { // FNAME: zero-terminated
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return Left("gzip_truncated_header")
      p += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) return Left("gzip_truncated_header")
      p += 1
    }
    if ((flg & 0x02) != 0) { // FHCRC
      p += 2
      if (p > b.length) return Left("gzip_truncated_header")
    }
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, p, b.length - p)
      val out = new java.io.ByteArrayOutputStream(8192)
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException =>
            return Left("gzip_corrupt_deflate") }
        if (n > 0) {
          if (out.size().toLong + n > cap) return Left("member_cap_exceeded")
          out.write(buf, 0, n)
        } else if (!inf.finished()) {
          // needsInput with nothing left, or a stuck dictionary
          // request: the member is truncated
          return Left("gzip_truncated_deflate")
        }
      }
      val plain = out.toByteArray
      val trailerAt = p + inf.getBytesRead.toInt
      if (trailerAt + 8 > b.length) return Left("gzip_truncated_trailer")
      val crc = new java.util.zip.CRC32
      crc.update(plain)
      val wantCrc = le32(b, trailerAt)
      val wantIsize = le32(b, trailerAt + 4)
      if (crc.getValue != wantCrc) return Left("gzip_crc_mismatch")
      if ((plain.length.toLong & 0xffffffffL) != wantIsize)
        return Left("gzip_isize_mismatch")
      Right((plain, trailerAt + 8))
    } finally inf.end()
  }

  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Split a WARC `response` payload into its HTTP header block and
    * body — the step between "crawl record" and "document text"
    * (the payload of a response record is an HTTP message: status
    * line + headers + CRLFCRLF + entity body). Unlike the record
    * walk, this split IS terminator-scanned — HTTP headers are text
    * and carry no length for themselves — but it only ever scans the
    * header region (cap 64 KiB, same bound as the record walk's
    * lines). Returns (lower-cased header map incl. the status line
    * under ":status-line", body bytes); None if the payload does not
    * start with an HTTP status line or never closes its headers. */
  def httpSplit(payload: Array[Byte]): Option[(Map[String, String], Array[Byte])] = {
    val e0 = lineEnd(payload, 0)
    if (e0 < 0) return None
    val status = new String(payload, 0, e0, "UTF-8")
    if (!status.startsWith("HTTP/")) return None
    var i = e0 + 2
    val headers = Map.newBuilder[String, String]
    headers += ":status-line" -> status
    while (true) {
      val e = lineEnd(payload, i)
      if (e < 0) return None
      if (e == i)
        return Some((headers.result(),
          java.util.Arrays.copyOfRange(payload, i + 2, payload.length)))
      val line = new String(payload, i, e - i, "UTF-8")
      val colon = line.indexOf(':')
      if (colon <= 0) return None
      headers += line.substring(0, colon).trim.toLowerCase -> line.substring(colon + 1).trim
      i = e + 2
    }
    None // unreachable
  }

  /** RFC 9112 §7.1 chunked-transfer decoding, bounded: hex size line
    * (chunk extensions after `;` ignored), CRLF, data, CRLF, …,
    * terminated by a zero chunk whose (optional) trailer section is
    * skipped to its blank line. `cap` bounds the reassembled entity
    * (the chunk sizes are attacker-controlled numbers — same bomb
    * rule as the inflates). Left(reason) on bad framing — real crawl
    * payloads are routinely truncated mid-chunk and that must be a
    * visible verdict, not an exception or garbage bytes. */
  private[graft] def decodeChunked(b: Array[Byte],
      cap: Int = 1 << 26): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 8192))
    var i = 0
    while (true) {
      val e = lineEnd(b, i)
      if (e < 0) return Left("chunk_size_line_unterminated")
      val line = new String(b, i, e - i, "US-ASCII")
      val sizeHex = line.indexOf(';') match {
        case -1 => line.trim
        case sc => line.substring(0, sc).trim
      }
      if (sizeHex.isEmpty || sizeHex.length > 8 ||
          !sizeHex.forall(c => Character.digit(c, 16) >= 0))
        return Left("chunk_size_malformed")
      val size = java.lang.Long.parseLong(sizeHex, 16)
      i = e + 2
      if (size == 0) {
        // trailer section: header lines until a blank line (or end —
        // a missing final CRLF is tolerated, the entity is complete)
        var done = false
        while (!done) {
          if (i >= b.length) done = true
          else {
            val t = lineEnd(b, i)
            if (t < 0) return Left("chunk_trailer_unterminated")
            if (t == i) done = true
            i = t + 2
          }
        }
        return Right(out.toByteArray)
      }
      if (out.size() + size > cap) return Left("chunk_cap_exceeded")
      if (i + size + 2 > b.length) return Left("chunk_data_truncated")
      out.write(b, i, size.toInt)
      i += size.toInt
      if (b(i) != '\r' || b(i + 1) != '\n') return Left("chunk_data_unterminated")
      i += 2
    }
    Left("unreachable")
  }

  /** `Content-Encoding` decode: gzip / x-gzip (multi-member tolerated
    * — some servers concatenate), deflate (zlib-wrapped per the RFC,
    * with the raw-deflate fallback for the classic server bug),
    * identity. Unknown codings are a visible verdict — emitting
    * compressed bytes as "text" is how a crawl corpus silently fills
    * with garbage. */
  private[graft] def contentDecode(coding: String, b: Array[Byte],
      cap: Int = 1 << 26): Either[String, Array[Byte]] =
    coding match {
      case "gzip" | "x-gzip" =>
        gunzipAll(b, cap).toRight("content_gzip_corrupt_or_capped")
      case "deflate" =>
        inflateWith(b, nowrap = false, cap)
          .orElse(inflateWith(b, nowrap = true, cap))
          .toRight("content_deflate_corrupt_or_capped")
      case "identity" | "" => Right(b)
      case other => Left(s"content_encoding_unsupported:$other")
    }

  private def inflateWith(b: Array[Byte], nowrap: Boolean,
      cap: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(b)
      // initial-capacity hint in LONG arithmetic: b.length * 4 overflows
    // Int past 512 MB (possible when the caller raises cap), and a
    // negative capacity would THROW out of the never-throws salvage
    // contract instead of producing a visible drop
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length.toLong * 4, cap.toLong).toInt)
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (n > 0) {
          if (out.size() + n > cap) return None
          out.write(buf, 0, n)
        } else if (!inf.finished()) return None // truncated
      }
      Some(out.toByteArray)
    } finally inf.end()
  }

  /** Full HTTP entity decode from a parsed header map: chunked
    * transfer framing first (Transfer-Encoding is applied last on
    * the wire, so it unwraps first), then Content-Encoding. This is
    * the step `httpSplit` stops short of — real crawl response
    * bodies are routinely `Transfer-Encoding: chunked` and/or
    * `Content-Encoding: gzip`, and without this the WARC→text path
    * emits compressed framing bytes as "text". */
  def decodeEntity(headers: Map[String, String], body: Array[Byte],
      cap: Int = 1 << 26): Either[String, Array[Byte]] = {
    val te = headers.getOrElse("transfer-encoding", "").toLowerCase
    val unchunked =
      if (te.contains("chunked")) decodeChunked(body, cap) else Right(body)
    unchunked.flatMap { raw =>
      contentDecode(
        headers.getOrElse("content-encoding", "").trim.toLowerCase, raw, cap)
    }
  }

  /** Charset-aware body → text: BOM first (UTF-8 / UTF-16 LE/BE —
    * a BOM outranks the header, it is the document self-describing),
    * then the `charset=` parameter of the Content-Type header, then
    * a STRICT UTF-8 trial decode, and only then the Latin-1
    * fallback (every byte sequence is valid Latin-1, so it must be
    * last or it shadows everything). Real corpora are a charset zoo
    * and decoding it all as UTF-8 silently mangles the long tail —
    * compose with `Llm.repairMojibake` downstream for the
    * double-encoded cases this sniff cannot see. */
  def bodyToText(headers: Map[String, String], body: Array[Byte]): String = {
    def decode(cs: java.nio.charset.Charset, skip: Int): String =
      new String(body, skip, body.length - skip, cs)
    if (body.length >= 3 && (body(0) & 0xff) == 0xef &&
        (body(1) & 0xff) == 0xbb && (body(2) & 0xff) == 0xbf)
      return decode(java.nio.charset.StandardCharsets.UTF_8, 3)
    if (body.length >= 2 && (body(0) & 0xff) == 0xff && (body(1) & 0xff) == 0xfe)
      return decode(java.nio.charset.StandardCharsets.UTF_16LE, 2)
    if (body.length >= 2 && (body(0) & 0xff) == 0xfe && (body(1) & 0xff) == 0xff)
      return decode(java.nio.charset.StandardCharsets.UTF_16BE, 2)
    val declared = for {
      ct <- headers.get("content-type")
      m <- "(?i)charset=\"?([A-Za-z0-9_][A-Za-z0-9_:.\\-]*)".r
        .findFirstMatchIn(ct)
      cs <- try Some(java.nio.charset.Charset.forName(m.group(1)))
            catch { case _: Exception => None }
    } yield decode(cs, 0)
    declared.getOrElse {
      try {
        java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(body)).toString
      } catch {
        case _: java.nio.charset.CharacterCodingException =>
          decode(java.nio.charset.StandardCharsets.ISO_8859_1, 0)
      }
    }
  }

  /** Directory (or glob) of .warc / .warc.gz files → one row per
    * RECORD: (file, member_idx, record_idx, ok, err, version,
    * headers map, payload). Parallel by file via the built-in
    * binaryFile source — the crawl-segment split WARC is designed
    * for; gzip members inflate ONE AT A TIME under a PER-MEMBER
    * bomb cap (`capPerMember`), so a real ~1 GB Common Crawl segment
    * whose total inflated size is 3-5 GB streams through
    * member-sized buffers instead of vanishing behind a whole-
    * segment cap. Damage is visible, never silent: a corrupt /
    * capped member or an unparseable record tail emits an
    * `ok = false` row carrying the reason in `err` (and the walk
    * resyncs at the next member), so `filter(col("ok"))` is the
    * clean stream and `fileStats` the per-file drop ledger. */
  def records(spark: SparkSession, path: String,
      capPerMember: Int = 1 << 28): DataFrame =
    explodeRecords(spark, spark.read.format("binaryFile").load(path),
      capPerMember)

  /** Per-file ingest ledger over a `records`/`recordStream` frame:
    * how many records parsed clean, how many members/tails dropped,
    * and the distinct drop reasons — the "no silent caps" signal a
    * 100k-segment crawl ingest audits before trusting a corpus. */
  def fileStats(records: DataFrame): DataFrame =
    records.groupBy(col("file")).agg(
      sum(when(col("ok"), 1L).otherwise(0L)).as("n_records_ok"),
      sum(when(col("ok"), 0L).otherwise(1L)).as("n_dropped"),
      sort_array(collect_set(col("err"))).as("drop_reasons"))

  /** Streaming crawl ingest: the SAME explode over
    * `readStream.format("binaryFile")` — new segment files landing
    * in `path` (the way a crawler actually delivers: finished
    * segments moved into the ingest directory) emit their records
    * incrementally, exactly-once per file via the file-source's
    * processed-files log. Map-only, so every batch operator
    * downstream (decode, quality, dedup suspects, ANN suspects)
    * lifts unchanged — the same contract as
    * `Streaming.mediaFeatures`. */
  def recordStream(spark: SparkSession, path: String,
      capPerMember: Int = 1 << 28): DataFrame =
    explodeRecords(spark,
      spark.readStream.format("binaryFile")
        // streaming file sources require the schema up front;
        // binaryFile's is fixed by the format
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .load(path),
      capPerMember)

  /** One emitted row: good records carry `ok = true`, `err = null`;
    * a dropped member / unparseable tail is a row with `ok = false`,
    * the reason in `err`, `record_idx = -1` and an empty payload. */
  private type RecordRow =
    (String, Int, Int, Boolean, String, String, Map[String, String], Array[Byte])

  private def explodeRecords(spark: SparkSession, files: DataFrame,
      capPerMember: Int): DataFrame = {
    import spark.implicits._
    files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) => fileRows(file, bytes, capPerMember) }
      .toDF("file", "member_idx", "record_idx", "ok", "err",
        "version", "headers", "payload")
  }

  /** The per-file record walk the batch and streaming sources share:
    * member-by-member inflate for `.gz`, incremental emission (the
    * iterator never holds more than one inflated member), drop rows
    * for anything that didn't parse. */
  private[graft] def fileRows(file: String, bytes: Array[Byte],
      capPerMember: Int = 1 << 28): Iterator[RecordRow] = {
    def drop(memberIdx: Int, err: String): RecordRow =
      (file, memberIdx, -1, false, err, null,
        Map.empty[String, String], Array.emptyByteArray)
    if (file.endsWith(".gz")) {
      var recIdx = -1
      gzipMembers(bytes, capPerMember).zipWithIndex.flatMap {
        case (Right(plain), memberIdx) =>
          val (recs, consumed) = parseRecordsWithTail(plain)
          val good = recs.iterator.map { r =>
            recIdx += 1
            (file, memberIdx, recIdx, true, null: String,
              r.version, r.headers, r.payload)
          }
          val tail =
            if (consumed < plain.length) Iterator.single(drop(memberIdx, "record_parse_error"))
            else Iterator.empty
          good ++ tail
        case (Left(err), memberIdx) => Iterator.single(drop(memberIdx, err))
      }
    } else {
      val (recs, consumed) = parseRecordsWithTail(bytes)
      val good = recs.iterator.zipWithIndex.map { case (r, idx) =>
        (file, 0, idx, true, null: String, r.version, r.headers, r.payload)
      }
      val tail =
        if (consumed < bytes.length) Iterator.single(drop(0, "record_parse_error"))
        else Iterator.empty
      good ++ tail
    }
  }

  /** The ORACLED leg through the FULL crawl-ingest path
    * (`llm_warc_http`): gzip member → record walk → HTTP split —
    * exactly what a Common Crawl ingest runs per record. Every
    * document becomes a gzipped one-record segment whose response
    * payload is an HTTP message wrapping the document text; the
    * query inflates (bomb-capped), walks the record, splits the HTTP
    * message and emits status line, content type and the recovered
    * body. DuckDB recomputes all of it from `documents` directly —
    * a row matches only if `gunzipAll`, the Content-Length-driven
    * record walk AND `httpSplit` each executed correctly,
    * distributed, per row (the two helpers' first oracle coverage;
    * `llm_warc_extract` covers the uncompressed walk alone). */
  def warcHttp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT widened (r21 A/B): per-row cost here is one identity-encoded
    // member (~0.3 CPU-s at sf0.1) — the round-robin shuffle of the
    // text column costs as much wall as the single-task stage it
    // removes (0.47 s widened vs 0.47-0.55 s serialized, DevTime warm).
    // warcEntity/crawlExtract, whose per-row chain is ~2-4x heavier,
    // DO widen — the doctrine's break-even made concrete.
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (docId, source, text) =>
          val body = text.getBytes("UTF-8")
          val httpMsg = ("HTTP/1.1 200 OK" + Crlf +
            "Content-Type: text/html; charset=UTF-8" + Crlf +
            s"Content-Length: ${body.length}" + Crlf + Crlf).getBytes("UTF-8") ++ body
          val record = ("WARC/1.0" + Crlf +
            "WARC-Type: response" + Crlf +
            s"WARC-Target-URI: https://$source/doc/$docId" + Crlf +
            s"Content-Length: ${httpMsg.length}" + Crlf + Crlf).getBytes("UTF-8") ++
            httpMsg ++ (Crlf + Crlf).getBytes("UTF-8")
          val gzBytes = GzipOut.member(record)
          val extracted = for {
            plain <- gunzipAll(gzBytes)
            rec <- parseRecords(plain).headOption
            (hdrs, got) <- httpSplit(rec.payload)
          } yield (hdrs.getOrElse(":status-line", "!"),
            hdrs.getOrElse("content-type", "!"), new String(got, "UTF-8"))
          extracted match {
            case Some((status, ctype, bodyText)) =>
              (docId, status, ctype, bodyText.getBytes("UTF-8").length.toLong, bodyText)
            case None => (docId, "!", "!", -1L, "!") // any stage failing is visible
          }
        }
      }.toDF("doc_id", "status_line", "content_type", "body_bytes", "body_text")
  }

  /** Synthesis side shared by the entity-path oracle legs
    * (`llm_warc_entity`, `llm_crawl_extract`): wrap `raw` body bytes
    * as a chunked-transfer + gzip-content-encoded HTTP 200 response
    * inside a WARC response record inside one gzip member — the wire
    * shape a Common Crawl segment stores. The body is gzipped FIRST
    * and then chunk-framed (wire order), split into ≥3 chunks so
    * reassembly must cross chunk boundaries. */
  private[graft] def wrapCrawlResponse(uri: String, ctype: String,
      raw: Array[Byte]): Array[Byte] = {
    val enc = GzipOut.member(raw)
    val chunkSz = math.max(1, enc.length / 3)
    val chunked = new java.io.ByteArrayOutputStream()
    var o = 0
    while (o < enc.length) {
      val n = math.min(chunkSz, enc.length - o)
      chunked.write(s"${n.toHexString};ext=ignored$Crlf".getBytes("US-ASCII"))
      chunked.write(enc, o, n)
      chunked.write(Crlf.getBytes("US-ASCII"))
      o += n
    }
    chunked.write(s"0${Crlf}X-Trailer: t$Crlf$Crlf".getBytes("US-ASCII"))
    val entity = chunked.toByteArray
    val httpMsg = ("HTTP/1.1 200 OK" + Crlf +
      s"Content-Type: $ctype" + Crlf +
      "Transfer-Encoding: chunked" + Crlf +
      "Content-Encoding: gzip" + Crlf + Crlf).getBytes("UTF-8") ++ entity
    val record = ("WARC/1.0" + Crlf +
      "WARC-Type: response" + Crlf +
      s"WARC-Target-URI: $uri" + Crlf +
      s"Content-Length: ${httpMsg.length}" + Crlf + Crlf).getBytes("UTF-8") ++
      httpMsg ++ (Crlf + Crlf).getBytes("UTF-8")
    GzipOut.member(record)
  }

  /** Decode side shared by the same legs: the full production chain
    * — gzip member walk → record parse → HTTP split → entity decode
    * (unchunk + content-gunzip) → charset decode — back to
    * (content-type, text). Left(stage) names the failing stage; it
    * never throws. */
  private[graft] def decodeCrawlResponse(seg: Array[Byte]): Either[String, (String, String)] =
    for {
      member <- gzipMembers(seg).collectFirst {
        case Right(m) => m }.toRight("member"): Either[String, Array[Byte]]
      rec <- parseRecords(member).headOption.toRight("record")
      split <- httpSplit(rec.payload).toRight("http")
      (hdrs, body) = split
      plain <- decodeEntity(hdrs, body)
    } yield (hdrs.getOrElse("content-type", "!"), bodyToText(hdrs, plain))

  /** The ORACLED leg through the PRODUCTION-TRUE entity path
    * (`llm_warc_entity`): charset-encode → Content-Encoding gzip →
    * chunked transfer framing → HTTP message → WARC record → gzip
    * member → member walk → `httpSplit` → `decodeEntity` (unchunk +
    * content-gunzip) → `bodyToText` (BOM/charset/UTF-8-sniff) —
    * exactly what a real Common Crawl response record needs that
    * `llm_warc_http`'s identity-encoded body did not exercise. Three
    * charset regimes by `doc_id % 3`: declared UTF-8, declared
    * ISO-8859-1, and UNDECLARED UTF-8 (the strict-sniff path); the
    * body carries a non-ASCII marker (« é ») so a wrong decode is a
    * wrong STRING, not a silent coincidence. The body is split into
    * multiple chunks (framing must reassemble across boundaries).
    * DuckDB restates the recovered text and charset label per case
    * — a row matches only if every stage of the chain executed
    * correctly, distributed, per row. */
  def warcEntity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // widened (r21): the documents table arrives as one parquet split,
    // which serialized the whole wrap + chunked-framing + entity-gunzip
    // chain into a single task (0.76-0.90 s wall ≈ CPU at sf0.1); the
    // round-robin shuffle of the narrow projection is far cheaper than
    // the serialized stage it removes (0.29 s widened, DevTime warm;
    // Tables.widened is the identity at real scale)
    Tables.widened(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text")))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (docId, source, text) =>
          // the ISO-8859-1 regime can only carry U+0000..U+00FF:
          // getBytes(ISO_8859_1) silently maps anything else to '?',
          // which would diverge from the oracle on a non-Latin-1
          // corpus. Project case-1 bodies onto the Latin-1-safe
          // subset EXPLICITLY (chars > U+00FF dropped) — the oracle
          // SQL mirrors the same projection, so the leg is green by
          // construction, not by testdata luck.
          val safeText = if (docId % 3 == 1) text.filter(_ <= 0xFF.toChar) else text
          val bodyText = safeText + " é"
          val (csName, cs) = (docId % 3) match {
            case 0 => ("UTF-8", java.nio.charset.StandardCharsets.UTF_8)
            case 1 => ("ISO-8859-1", java.nio.charset.StandardCharsets.ISO_8859_1)
            case _ => ("", java.nio.charset.StandardCharsets.UTF_8) // undeclared: sniff
          }
          val raw = bodyText.getBytes(cs)
          val ctype = "text/plain" + (if (csName.nonEmpty) s"; charset=$csName" else "")
          val seg = wrapCrawlResponse(s"https://$source/doc/$docId", ctype, raw)
          // decode side: the full production chain
          val extracted = decodeCrawlResponse(seg)
          extracted match {
            case Right((ct, got)) =>
              (docId, (docId % 3).toInt, ct, got)
            case Left(stage) => (docId, -1, s"!$stage", "!")
          }
        }
      }.toDF("doc_id", "charset_case", "content_type", "recovered_text")
  }

  /** The ORACLED registry leg (`llm_warc_extract`): every document
    * becomes a two-record WARC segment — a `request` record with a
    * constant payload and a `response` record whose payload is the
    * document text (UTF-8) and whose `WARC-Target-URI` derives from
    * (source, doc_id) — concatenated and pushed through the REAL
    * record walk. The query re-emits, per document, what a crawl
    * ingest actually extracts: record count, the response's target
    * URI, its Content-Length (= UTF-8 byte length of the text) and
    * the payload round-tripped back to a string. DuckDB recomputes
    * all of it from `documents` directly — a row matches only if
    * header parsing, the length-driven payload skip ACROSS the
    * request record, and the terminator checks all executed
    * correctly, distributed, per row. */
  def warcExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT widened (r21 A/B): the uncompressed record walk is 0.04
    // CPU-s at sf0.1 — far below the widening break-even (see
    // warcHttp's note)
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (docId, source, text) =>
          val payload = text.getBytes("UTF-8")
          val uri = s"https://$source/doc/$docId"
          val req = ("WARC/1.0" + Crlf +
            "WARC-Type: request" + Crlf +
            s"WARC-Target-URI: $uri" + Crlf +
            "Content-Length: 2" + Crlf + Crlf +
            "GE" + Crlf + Crlf).getBytes("UTF-8")
          val respHdr = ("WARC/1.0" + Crlf +
            "WARC-Type: response" + Crlf +
            s"WARC-Target-URI: $uri" + Crlf +
            s"Content-Length: ${payload.length}" + Crlf + Crlf).getBytes("UTF-8")
          val segment = req ++ respHdr ++ payload ++ Crlf.getBytes ++ Crlf.getBytes
          val recs = parseRecords(segment)
          recs.find(_.headers.get("warc-type").contains("response")) match {
            case Some(resp) =>
              (docId, recs.length,
                resp.headers.getOrElse("warc-target-uri", "!"),
                resp.headers.get("content-length").map(_.toLong).getOrElse(-1L),
                new String(resp.payload, "UTF-8"))
            case None => (docId, -1, "!", -1L, "!") // parse failure is visible
          }
        }
      }.toDF("doc_id", "n_records", "target_uri", "content_length", "payload_text")
  }
}

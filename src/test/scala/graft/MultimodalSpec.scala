package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("stub decoder is deterministic with fixed dimension and unit mass") {
    val payload = "the quick brown fox".getBytes("UTF-8")
    val f1 = Multimodal.stubDecode(payload)
    val f2 = Multimodal.stubDecode(payload)
    assert(f1.sameElements(f2))
    assert(f1.length == Multimodal.FeatureDim)
    assert(math.abs(f1.sum - 1.0f) < 1e-4, "histogram features normalize to 1")
    assert(Multimodal.stubDecode(Array.emptyByteArray).forall(_ == 0f))
  }

  test("frame sampling strides correctly") {
    val bytes = (0 until 10).map(_.toByte).toArray
    assert(Multimodal.sampleFrames(bytes, 4).sameElements(Array[Byte](0, 4, 8)))
    assert(Multimodal.sampleFrames(bytes, 1).sameElements(bytes))
    assert(Multimodal.sampleFrames(Array.emptyByteArray, 3).isEmpty)
  }

  test("resize downsamples rasters with exact output geometry") {
    // 4x4 gradient raster -> 2x2 nearest-neighbor
    val px = (0 until 16).map(_.toByte).toArray
    val out = Multimodal.resizeRaster(px, 4, 4, 2, 2)
    assert(out.sameElements(Array[Byte](0, 2, 8, 10)))
    // identity resize
    assert(Multimodal.resizeRaster(px, 4, 4, 4, 4).sameElements(px))
    // output size is outW*outH regardless of input
    assert(Multimodal.resizeRaster(px, 4, 4, 3, 1).length == 3)
    intercept[IllegalArgumentException] {
      Multimodal.resizeRaster(px, 5, 5, 2, 2)
    }
  }

  // --- independent encoders (the decoders under test never see these) ---
  private def p16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def p32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
    b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
  }
  private def pStr(b: Array[Byte], o: Int, s: String): Unit =
    System.arraycopy(s.getBytes("US-ASCII"), 0, b, o, s.length)

  private def ppm(w: Int, h: Int, rgb: Array[Byte], comment: Boolean = false): Array[Byte] = {
    val hdr = if (comment) s"P6\n# generated fixture\n$w $h\n255\n" else s"P6 $w $h 255\n"
    hdr.getBytes("US-ASCII") ++ rgb
  }
  private def pgm(w: Int, h: Int, gray: Array[Byte]): Array[Byte] =
    s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ gray
  private def bmp24(w: Int, h: Int, topDownRGB: Seq[(Int, Int, Int)]): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val b = new Array[Byte](54 + rowBytes * h)
    b(0) = 'B'; b(1) = 'M'; p32(b, 2, b.length); p32(b, 10, 54)
    p32(b, 14, 40); p32(b, 18, w); p32(b, 22, h) // positive height = bottom-up
    p16(b, 26, 1); p16(b, 28, 24); p32(b, 30, 0)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, bl) = topDownRGB(y * w + x)
      val row = 54 + (h - 1 - y) * rowBytes // stored bottom-up, BGR
      b(row + x * 3) = bl.toByte; b(row + x * 3 + 1) = g.toByte; b(row + x * 3 + 2) = r.toByte
    }
    b
  }
  private def wav16(rate: Int, ch: Int, samples: Array[Short],
      junkChunk: Boolean = false): Array[Byte] = {
    val junk = if (junkChunk) 12 else 0
    val dataLen = samples.length * 2
    val b = new Array[Byte](44 + junk + dataLen)
    pStr(b, 0, "RIFF"); p32(b, 4, b.length - 8); pStr(b, 8, "WAVE")
    var o = 12
    if (junkChunk) { pStr(b, o, "LIST"); p32(b, o + 4, 4); pStr(b, o + 8, "INFO"); o += 12 }
    pStr(b, o, "fmt "); p32(b, o + 4, 16); p16(b, o + 8, 1); p16(b, o + 10, ch)
    p32(b, o + 12, rate); p32(b, o + 16, rate * ch * 2); p16(b, o + 20, ch * 2)
    p16(b, o + 22, 16)
    pStr(b, o + 24, "data"); p32(b, o + 28, dataLen)
    samples.zipWithIndex.foreach { case (s, i) =>
      b(o + 32 + 2 * i) = s.toByte; b(o + 33 + 2 * i) = (s >> 8).toByte
    }
    b
  }

  test("PPM/PGM decode: header variants, comments, exact ITU-601 luma") {
    // pure colors pin the luma formula: R=76, G=149, B=29, white=255
    val rgb = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val Some(g) = Multimodal.decodePnm(ppm(2, 2, rgb, comment = true))
    assert((g.w, g.h) == (2, 2))
    assert(g.pixels.map(_ & 0xff).toSeq == Seq(76, 149, 29, 255))
    // PGM passes gray bytes through untouched
    val gray = Array(0, 7, 200, 255).map(_.toByte)
    val Some(g5) = Multimodal.decodePnm(pgm(4, 1, gray))
    assert((g5.w, g5.h) == (4, 1) && g5.pixels.sameElements(gray))
    // corrupt inputs reject, never throw: truncated raster, bad magic,
    // missing dims, oversized maxval
    assert(Multimodal.decodePnm(ppm(100, 100, rgb)).isEmpty)
    assert(Multimodal.decodePnm("P7 2 2 255 xxxx".getBytes).isEmpty)
    assert(Multimodal.decodePnm("P6 hello".getBytes).isEmpty)
    assert(Multimodal.decodePnm(("P5\n2 1\n65535\n" + "ab").getBytes).isEmpty)
  }

  test("BMP decode: bottom-up row flip, BGR order, row padding, strict flavor checks") {
    // 3x2 image, w=3 -> 9 data bytes padded to 12 per row
    val px = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 10, 10), (255, 255, 255), (0, 0, 0))
    val Some(g) = Multimodal.decodeBmp(bmp24(3, 2, px))
    assert((g.w, g.h) == (3, 2))
    // output is top-down: row 0 = first three tuples
    assert(g.pixels.map(_ & 0xff).toSeq == Seq(76, 149, 29, 10, 255, 0))
    // non-24bpp / compressed / truncated flavors reject
    val bad8 = bmp24(3, 2, px); p16(bad8, 28, 8)
    assert(Multimodal.decodeBmp(bad8).isEmpty)
    val badRle = bmp24(3, 2, px); p32(badRle, 30, 1)
    assert(Multimodal.decodeBmp(badRle).isEmpty)
    assert(Multimodal.decodeBmp(bmp24(3, 2, px).take(40)).isEmpty)
  }

  private def bmpN(w: Int, h: Int, bpp: Int, topDownRGB: Seq[(Int, Int, Int)],
      palette: Seq[(Int, Int, Int)] = Nil, indices: Array[Byte] = null,
      clrUsed: Int = 0): Array[Byte] = {
    val bytesPerPx = bpp / 8
    val rowBytes = (w * bytesPerPx + 3) & ~3
    val palBytes = palette.size * 4
    val dataOff = 54 + palBytes
    val b = new Array[Byte](dataOff + rowBytes * h)
    b(0) = 'B'; b(1) = 'M'; p32(b, 2, b.length); p32(b, 10, dataOff)
    p32(b, 14, 40); p32(b, 18, w); p32(b, 22, h)
    p16(b, 26, 1); p16(b, 28, bpp); p32(b, 30, 0); p32(b, 46, clrUsed)
    for (((r, g, bl), k) <- palette.zipWithIndex) {
      b(54 + k * 4) = bl.toByte; b(54 + k * 4 + 1) = g.toByte; b(54 + k * 4 + 2) = r.toByte
      b(54 + k * 4 + 3) = 0x77.toByte // reserved byte: junk, must be ignored
    }
    for (y <- 0 until h; x <- 0 until w) {
      val row = dataOff + (h - 1 - y) * rowBytes // bottom-up
      if (bpp == 8) b(row + x) = indices(y * w + x)
      else {
        val (r, g, bl) = topDownRGB(y * w + x)
        val o = row + x * bytesPerPx
        b(o) = bl.toByte; b(o + 1) = g.toByte; b(o + 2) = r.toByte
        if (bpp == 32) b(o + 3) = 0x5a.toByte // X byte: junk, ignored
      }
    }
    b
  }

  test("BMP decode: 32-bit BGRX and 8-bit palette flavors") {
    val rnd = new scala.util.Random(3232)
    val px = Seq.fill(5 * 3)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val want = px.map { case (r, g, b) => lumaOf(r, g, b) }
    // 32 bpp: same pixels as 24 bpp, X byte ignored
    val Some(g32) = Multimodal.decodeBmp(bmpN(5, 3, 32, px))
    assert(g32.pixels.map(_ & 0xff).toSeq == want, "32bpp BGRX drifted")
    val g24 = Multimodal.decodeBmp(bmp24(5, 3, px)).get
    assert(g32.pixels.sameElements(g24.pixels), "32bpp vs 24bpp parity")
    // 8 bpp indexed: full 256-entry table (biClrUsed = 0)
    val pal = Seq.fill(256)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val idx = Array.fill(7 * 4)(rnd.nextInt(256).toByte)
    val Some(g8) = Multimodal.decodeBmp(bmpN(7, 4, 8, Nil, pal, idx))
    assert(g8.pixels.map(_ & 0xff).toSeq ==
      idx.map(i => { val (r, g, b) = pal(i & 0xff); lumaOf(r, g, b) }).toSeq,
      "8bpp palette mapping drifted")
    // truncated table (biClrUsed = 4): in-range decodes, out-of-range rejects
    val pal4 = pal.take(4)
    val idx4 = Array.fill(6 * 2)(rnd.nextInt(4).toByte)
    assert(Multimodal.decodeBmp(bmpN(6, 2, 8, Nil, pal4, idx4, clrUsed = 4)).nonEmpty)
    val idxBad = idx4.clone(); idxBad(3) = 9.toByte
    assert(Multimodal.decodeBmp(bmpN(6, 2, 8, Nil, pal4, idxBad, clrUsed = 4)).isEmpty,
      "palette index beyond biClrUsed must reject")
    // corrupt hdrSize near Int.MaxValue: `14 + hdrSize` would wrap
    // negative in Int arithmetic, slip past the palette-range guard
    // (negative < dataOff) and AIOOBE at the palette read — must take
    // the None path instead (the never-throw contract)
    val hugeHdr = bmpN(6, 2, 8, Nil, pal4, idx4, clrUsed = 4)
    p32(hugeHdr, 14, 0x7ffffff0)
    assert(Multimodal.decodeBmp(hugeHdr).isEmpty,
      "Int-wrapping hdrSize must reject, not throw")
  }

  private def wavF32(rate: Int, ch: Int, samples: Array[Float]): Array[Byte] = {
    val dataLen = samples.length * 4
    val b = new Array[Byte](44 + dataLen)
    pStr(b, 0, "RIFF"); p32(b, 4, b.length - 8); pStr(b, 8, "WAVE")
    pStr(b, 12, "fmt "); p32(b, 16, 16); p16(b, 20, 3); p16(b, 22, ch)
    p32(b, 24, rate); p32(b, 28, rate * ch * 4); p16(b, 32, ch * 4)
    p16(b, 34, 32)
    pStr(b, 36, "data"); p32(b, 40, dataLen)
    samples.zipWithIndex.foreach { case (f, i) =>
      p32(b, 44 + 4 * i, java.lang.Float.floatToIntBits(f))
    }
    b
  }

  test("WAV decode: IEEE float (format 3) scales and clamps to 16-bit") {
    val fs = Array(0.0f, 0.5f, -0.5f, 1.0f, -1.0f, 1.5f, -2.0f, 1.0f / 32767.0f)
    val Some(a) = Multimodal.decodeWav(wavF32(16000, 1, fs))
    assert(a.sampleRate == 16000 && a.channels == 1)
    assert(a.samples.toSeq == Seq[Short](0, 16384, -16383, 32767, -32767, 32767, -32768, 1),
      s"float scaling drifted: ${a.samples.toSeq}")
    // float fmt with wrong bit width rejects
    val bad = wavF32(16000, 1, fs); p16(bad, 34, 64)
    assert(Multimodal.decodeWav(bad).isEmpty, "float64 unsupported")
  }

  test("WAV decode: 16-bit PCM round-trip, chunk walking, 8-bit recentering") {
    val samples = Array[Short](0, 16384, -32768, 32767, -1, 1)
    val Some(a) = Multimodal.decodeWav(wav16(8000, 1, samples, junkChunk = true))
    assert(a.sampleRate == 8000 && a.channels == 1)
    assert(a.samples.sameElements(samples), "16-bit LE samples must round-trip exactly")
    // 8-bit: unsigned recentered (128 -> 0, 0 -> -32768, 255 -> 32512)
    val b8 = wav16(8000, 1, Array[Short](0))
    p16(b8, 34, 8) // bits-per-sample -> 8; data stays 2 bytes
    val Some(a8) = Multimodal.decodeWav(b8.updated(44, 128.toByte).updated(45, 0.toByte))
    assert(a8.samples.sameElements(Array[Short](0, -32768)))
    // non-PCM format code rejects
    val bad = wav16(8000, 1, samples); p16(bad, 20, 2)
    assert(Multimodal.decodeWav(bad).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  // --- independent PNG encoder (real chunk CRCs, zlib deflate, the
  // FORWARD row filters) so the decoder is tested against RFC 2083
  // itself, not its own arithmetic ---
  private def p32be(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
    b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
  }
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + data.length)
    p32be(out, 0, data.length)
    typ.getBytes("US-ASCII").copyToArray(out, 4)
    data.copyToArray(out, 8)
    val crc = new java.util.zip.CRC32()
    crc.update(out, 4, 4 + data.length)
    p32be(out, 8 + data.length, crc.getValue.toInt)
    out
  }
  private val Adam7 = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
  /** Encode (w × h × ch) raw 8-bit samples; `filters(y % n)` picks
    * each row's forward filter; `idatSplit` > 1 splits the zlib
    * stream across that many IDAT chunks. `depth` 16 widens each
    * sample to (s << 8 | 0x5A) — the junk low byte proves the decoder
    * keeps the high byte; depth 1/2/4 (ch == 1) packs values
    * MSB-first (caller passes values that fit). `adam7` stores the
    * seven interlace passes, each filtered independently. */
  private def png(w: Int, h: Int, ch: Int, raw: Array[Byte],
      filters: Seq[Int] = Seq(0), idatSplit: Int = 1,
      palette: Array[Byte] = null, depth: Int = 8,
      adam7: Boolean = false): Array[Byte] = {
    require(raw.length == w * h * ch)
    require(palette == null || ch == 1, "indexed PNG is one byte per pixel")
    require(depth == 8 || depth == 16 || ((depth == 1 || depth == 2 || depth == 4) && ch == 1))
    val bitsPerPx = ch * depth
    val bpp = math.max(1, bitsPerPx / 8)
    val passes = if (adam7) Adam7 else Seq((0, 0, 1, 1))
    val filtered = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- passes) {
      val wp = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val hp = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (wp > 0 && hp > 0) {
        val rb = (wp * bitsPerPx + 7) / 8
        val rows = Array.ofDim[Byte](hp, rb)
        for (j <- 0 until hp; ii <- 0 until wp; c <- 0 until ch) {
          val s = raw(((y0 + j * dy) * w + (x0 + ii * dx)) * ch + c) & 0xff
          depth match {
            case 16 =>
              rows(j)((ii * ch + c) * 2) = s.toByte
              rows(j)((ii * ch + c) * 2 + 1) = 0x5a.toByte
            case 8 => rows(j)(ii * ch + c) = s.toByte
            case d =>
              val bitPos = ii * d
              rows(j)(bitPos >> 3) =
                (rows(j)(bitPos >> 3) | (s << (8 - d - (bitPos & 7)))).toByte
          }
        }
        for (j <- 0 until hp) {
          val ft = filters(j % filters.length)
          filtered.write(ft)
          for (x <- 0 until rb) {
            val cur = rows(j)(x) & 0xff
            val a = if (x >= bpp) rows(j)(x - bpp) & 0xff else 0
            val up = if (j > 0) rows(j - 1)(x) & 0xff else 0
            val c = if (x >= bpp && j > 0) rows(j - 1)(x - bpp) & 0xff else 0
            val v = ft match {
              case 0 => cur
              case 1 => cur - a
              case 2 => cur - up
              case 3 => cur - ((a + up) >> 1)
              case 4 =>
                val p = a + up - c
                val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
                cur - (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
            }
            filtered.write(v & 0xff)
          }
        }
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered.toByteArray); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val z = zbuf.toByteArray
    val ihdr = new Array[Byte](13)
    p32be(ihdr, 0, w); p32be(ihdr, 4, h)
    ihdr(8) = depth.toByte
    ihdr(9) = (if (palette != null) 3
      else ch match { case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6 }).toByte
    ihdr(12) = (if (adam7) 1 else 0).toByte
    val idats = if (idatSplit <= 1) Seq(z)
      else z.grouped(math.max(1, z.length / idatSplit)).toSeq
    (Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunk("IHDR", ihdr) ++
      (if (palette != null) pngChunk("PLTE", palette) else Array.emptyByteArray) ++
      idats.flatMap(pngChunk("IDAT", _)) ++
      pngChunk("IEND", Array.emptyByteArray))
  }
  private def lumaOf(r: Int, g: Int, b: Int): Int = (r * 299 + g * 587 + b * 114) / 1000

  test("PNG decode: all five filters, every supported color type, split IDAT, exact luma") {
    val rnd = new scala.util.Random(99)
    // RGB 5x7, one row per filter type (h=7 cycles 0..4,0,1) — a
    // decoder with ANY filter wrong cannot reproduce the raw samples
    val w = 5; val h = 7
    val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val wantRgb = (0 until w * h).map(p =>
      lumaOf(rgb(p * 3) & 0xff, rgb(p * 3 + 1) & 0xff, rgb(p * 3 + 2) & 0xff))
    val Some(g1) = Multimodal.decodePng(png(w, h, 3, rgb, filters = Seq(0, 1, 2, 3, 4)))
    assert((g1.w, g1.h) == (w, h))
    assert(g1.pixels.map(_ & 0xff).toSeq == wantRgb, "RGB filtered rows must reconstruct")
    // grayscale passes through bit-exact; IDAT split across 3 chunks
    // must concatenate into one zlib stream
    val gray = Array.fill(6 * 4)(rnd.nextInt(256).toByte)
    val Some(g2) = Multimodal.decodePng(png(6, 4, 1, gray, Seq(4, 3), idatSplit = 3))
    assert(g2.pixels.sameElements(gray), "gray samples must pass through")
    // RGBA: alpha ignored, luma of the RGB part; gray+alpha likewise
    val rgba = Array.fill(3 * 3 * 4)(rnd.nextInt(256).toByte)
    val wantRgba = (0 until 9).map(p =>
      lumaOf(rgba(p * 4) & 0xff, rgba(p * 4 + 1) & 0xff, rgba(p * 4 + 2) & 0xff))
    val Some(g3) = Multimodal.decodePng(png(3, 3, 4, rgba, Seq(1, 4)))
    assert(g3.pixels.map(_ & 0xff).toSeq == wantRgba, "RGBA luma must ignore alpha")
    val ga = Array.fill(4 * 2 * 2)(rnd.nextInt(256).toByte)
    val Some(g4) = Multimodal.decodePng(png(4, 2, 2, ga, Seq(2)))
    assert(g4.pixels.map(_ & 0xff).toSeq == (0 until 8).map(p => ga(p * 2) & 0xff),
      "gray+alpha must take the gray channel")
  }

  test("PNG decode: malformed structures reject, never throw") {
    val ok = png(3, 3, 3, Array.fill(27)(7.toByte))
    assert(Multimodal.decodePng(ok).nonEmpty)
    // truncated stream (IEND and half the IDAT gone)
    assert(Multimodal.decodePng(ok.dropRight(20)).isEmpty)
    // 16-bit depth / interlaced / palette color type all unsupported
    def patched(off: Int, v: Byte) = { val b = ok.clone(); b(off) = v; b }
    assert(Multimodal.decodePng(patched(8 + 8 + 8, 3.toByte)).isEmpty, "bit depth 3 (illegal)")
    assert(Multimodal.decodePng(patched(8 + 8 + 12, 1.toByte)).isEmpty,
      "non-interlaced bytes under an Adam7 flag mis-size the stream: reject")
    assert(Multimodal.decodePng(patched(8 + 8 + 12, 2.toByte)).isEmpty, "interlace method 2")
    assert(Multimodal.decodePng(patched(8 + 8 + 9, 3.toByte)).isEmpty,
      "palette color type without a PLTE chunk must reject")
    // a hostile header claiming a multi-GB raster takes the cap, not
    // an allocation (w = h = 100000 ⇒ 30 GB of filtered rows)
    val bomb = ok.clone(); p32be(bomb, 16, 100000); p32be(bomb, 20, 100000)
    assert(Multimodal.decodePng(bomb).isEmpty)
    // garbage that passes the signature but not the chunk walk
    assert(Multimodal.decodePng(ok.take(8) ++ Array.fill(30)(0xab.toByte)).isEmpty)
  }

  // --- independent GIF encoder: a REAL LZW compressor (hash-map
  // dictionary, variable code width, LSB-first bit packing) so the
  // decoder's dictionary reconstruction — including KwKwK and width
  // growth — is pinned against the algorithm, not itself ---
  private def gifLzw(pixels: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode; val end = clear + 1
    var width = minCode + 1; var next = end + 1
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    val bits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def put(code: Int): Unit = {
      var k = 0; while (k < width) { bits += ((code >> k) & 1) == 1; k += 1 }
    }
    put(clear)
    var prev = pixels(0) & 0xff
    var pi = 1
    while (pi < pixels.length) {
      val k = pixels(pi) & 0xff
      dict.get((prev, k)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          if (next < 4096) {
            dict((prev, k)) = next
            next += 1
            // the encoder bumps ONE code after the decoder's
            // next == 2^width rule: emitted values stay <= next-1,
            // while the reader's KwKwK ceiling is its own next —
            // the famous LZW one-code lag
            if (next == (1 << width) + 1 && width < 12) width += 1
          }
          prev = k
      }
      pi += 1
    }
    put(prev); put(end)
    val out = new Array[Byte]((bits.length + 7) / 8)
    for (j <- bits.indices if bits(j)) out(j >> 3) = (out(j >> 3) | (1 << (j & 7))).toByte
    out
  }
  /** GIF pass order for interlaced images: rows 8k, 8k+4, 4k+2, 2k+1. */
  private def gifPassRows(h: Int): Seq[Int] =
    (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
  private def gif(w: Int, h: Int, px: Array[Byte], minCode: Int, sizeBits: Int,
      pal: Int => (Int, Int, Int), withExt: Boolean = false,
      interlaced: Boolean = false): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    bb.write("GIF89a".getBytes("US-ASCII"))
    bb.write(w & 0xff); bb.write(w >> 8); bb.write(h & 0xff); bb.write(h >> 8)
    bb.write(0x80 | sizeBits); bb.write(0); bb.write(0) // GCT present
    for (c <- 0 until (2 << sizeBits)) {
      val (r, g, bl) = pal(c); bb.write(r); bb.write(g); bb.write(bl)
    }
    if (withExt) { // graphic control extension, must be skipped
      bb.write(0x21); bb.write(0xf9); bb.write(4)
      bb.write(0); bb.write(0); bb.write(0); bb.write(0); bb.write(0)
    }
    bb.write(0x2c)
    bb.write(0); bb.write(0); bb.write(0); bb.write(0) // left, top
    bb.write(w & 0xff); bb.write(w >> 8); bb.write(h & 0xff); bb.write(h >> 8)
    bb.write(if (interlaced) 0x40 else 0) // no LCT; maybe interlaced
    bb.write(minCode)
    val stored =
      if (!interlaced) px
      else gifPassRows(h).flatMap(y => px.slice(y * w, (y + 1) * w)).toArray
    val z = gifLzw(stored, minCode)
    var o = 0
    while (o < z.length) {
      val n = math.min(255, z.length - o)
      bb.write(n); bb.write(z, o, n); o += n
    }
    bb.write(0); bb.write(0x3b)
    bb.toByteArray
  }

  test("GIF decode: real LZW reconstruction — width growth, KwKwK, palette luma") {
    val rnd = new scala.util.Random(7)
    // 256-color palette, random 20x13, extension block skipped
    val pal256 = (i: Int) => (i, (i * 3) % 256, (i * 7) % 256)
    val px1 = Array.fill(20 * 13)(rnd.nextInt(256).toByte)
    val Some(g1) = Multimodal.decodeGif(gif(20, 13, px1, 8, 7, pal256, withExt = true))
    assert((g1.w, g1.h) == (20, 13))
    assert(g1.pixels.map(_ & 0xff).toSeq == px1.map(p => {
      val (r, g, b) = pal256(p & 0xff); lumaOf(r, g, b)
    }).toSeq, "256-color random image must reconstruct through the palette")
    // constant image: the all-same-run stream is KwKwK back to back
    val pal4 = (i: Int) => (i * 80, 255 - i * 80, i * 40)
    val px2 = Array.fill(40 * 5)(3.toByte)
    val Some(g2) = Multimodal.decodeGif(gif(40, 5, px2, 2, 1, pal4))
    assert(g2.pixels.forall(p => (p & 0xff) == lumaOf(240, 15, 120)),
      "constant image (KwKwK chain) must decode to one luma")
    // long 4-symbol stream: the dictionary outgrows 8/16/32... codes,
    // exercising every width increment the 12-bit space allows
    val px3 = Array.tabulate(60 * 40)(i => ((i * i + i / 7) % 4).toByte)
    val Some(g3) = Multimodal.decodeGif(gif(60, 40, px3, 2, 1, pal4))
    assert(g3.pixels.map(_ & 0xff).toSeq == px3.map(p => {
      val (r, g, b) = pal4(p & 0xff); lumaOf(r, g, b)
    }).toSeq, "width-growth stream must reconstruct exactly")
  }

  test("PNG decode: indexed (PLTE) images — palette luma, filters, bad index rejects") {
    val rnd = new scala.util.Random(353)
    val w = 9; val h = 6
    val pal = Array.fill(256 * 3)(rnd.nextInt(256).toByte)
    val idx = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val Some(g) = Multimodal.decodePng(png(w, h, 1, idx, Seq(0, 1, 2, 3, 4), palette = pal))
    val want = idx.map { i =>
      val o = (i & 0xff) * 3
      lumaOf(pal(o) & 0xff, pal(o + 1) & 0xff, pal(o + 2) & 0xff)
    }.toSeq
    assert(g.pixels.map(_ & 0xff).toSeq == want, "indexed image must map through PLTE")
    // small palette + in-range indices works; an out-of-range index is
    // an error per spec, not a silent clamp
    val pal4 = Array.fill(4 * 3)(rnd.nextInt(256).toByte)
    val idx4 = Array.fill(w * h)(rnd.nextInt(4).toByte)
    assert(Multimodal.decodePng(png(w, h, 1, idx4, palette = pal4)).nonEmpty)
    val idxBad = idx4.clone(); idxBad(5) = 200.toByte
    assert(Multimodal.decodePng(png(w, h, 1, idxBad, palette = pal4)).isEmpty,
      "index beyond the palette must reject")
    // malformed PLTE lengths reject
    assert(Multimodal.decodePng(png(w, h, 1, idx4, palette = pal4.take(7))).isEmpty,
      "PLTE length not a multiple of 3 must reject")
  }

  test("PNG decode: Adam7 interlace — seven passes, independent filters, scatter to raster") {
    val rnd = new scala.util.Random(4747)
    // dims chosen to exercise empty passes (w or h < pass origin) and
    // ragged pass widths; every color type; mixed per-row filters
    for ((w, h, ch) <- Seq((17, 11, 3), (8, 8, 1), (3, 3, 4), (1, 1, 1), (20, 2, 2), (5, 9, 3))) {
      val raw = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val Some(g) = Multimodal.decodePng(
        png(w, h, ch, raw, filters = Seq(0, 1, 2, 3, 4), adam7 = true))
      val want = (0 until w * h).map { p =>
        ch match {
          case 1 => raw(p) & 0xff
          case 2 => raw(p * 2) & 0xff
          case _ => lumaOf(raw(p * ch) & 0xff, raw(p * ch + 1) & 0xff, raw(p * ch + 2) & 0xff)
        }
      }
      assert(g.pixels.map(_ & 0xff).toSeq == want, s"Adam7 ${w}x$h ch=$ch drifted")
      // parity with the non-interlaced encoding of the same samples
      val plain = Multimodal.decodePng(png(w, h, ch, raw)).get
      assert(g.pixels.sameElements(plain.pixels), s"Adam7 ${w}x$h ch=$ch parity")
    }
    // interlaced + palette
    val pal = Array.fill(16 * 3)(rnd.nextInt(256).toByte)
    val idx = Array.fill(10 * 7)(rnd.nextInt(16).toByte)
    val Some(gp) = Multimodal.decodePng(png(10, 7, 1, idx, Seq(1, 4), palette = pal, adam7 = true))
    val plainP = Multimodal.decodePng(png(10, 7, 1, idx, palette = pal)).get
    assert(gp.pixels.sameElements(plainP.pixels), "Adam7 palette parity")
  }

  test("PNG decode: 16-bit and 1/2/4-bit depths") {
    val rnd = new scala.util.Random(1616)
    // 16-bit gray and RGB: high byte kept, junk low byte ignored
    for (ch <- Seq(1, 3, 4)) {
      val w = 7; val h = 5
      val raw = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val Some(g16) = Multimodal.decodePng(png(w, h, ch, raw, Seq(0, 2, 4), depth = 16))
      val plain = Multimodal.decodePng(png(w, h, ch, raw)).get
      assert(g16.pixels.sameElements(plain.pixels), s"16-bit ch=$ch must reduce to the high byte")
    }
    // sub-byte grayscale: packed samples scale by 255/(2^d-1)
    for (d <- Seq(1, 2, 4)) {
      val w = 11; val h = 3 // w chosen so rows end mid-byte
      val maxV = (1 << d) - 1
      val vals = Array.fill(w * h)(rnd.nextInt(maxV + 1).toByte)
      val Some(g) = Multimodal.decodePng(png(w, h, 1, vals, Seq(0, 1), depth = d))
      assert(g.pixels.map(_ & 0xff).toSeq == vals.map(v => (v & 0xff) * 255 / maxV).toSeq,
        s"depth-$d gray must scale to 8-bit")
    }
    // sub-byte palette: indices map unscaled
    val pal = Array.fill(4 * 3)(rnd.nextInt(256).toByte)
    val idx = Array.fill(9 * 4)(rnd.nextInt(4).toByte)
    val Some(gp) = Multimodal.decodePng(png(9, 4, 1, idx, Seq(0), palette = pal, depth = 2))
    val want = idx.map { i =>
      val o = (i & 0xff) * 3
      lumaOf(pal(o) & 0xff, pal(o + 1) & 0xff, pal(o + 2) & 0xff)
    }.toSeq
    assert(gp.pixels.map(_ & 0xff).toSeq == want, "2-bit palette indices must map unscaled")
    // 16-bit Adam7 together
    val raw = Array.fill(13 * 6 * 3)(rnd.nextInt(256).toByte)
    val Some(gA) = Multimodal.decodePng(png(13, 6, 3, raw, Seq(3, 4), depth = 16, adam7 = true))
    val plain = Multimodal.decodePng(png(13, 6, 3, raw)).get
    assert(gA.pixels.sameElements(plain.pixels), "16-bit Adam7 parity")
  }

  test("GIF decode: interlaced first frame — pass rows reorder to the raster") {
    val rnd = new scala.util.Random(808)
    val pal256 = (i: Int) => (i, (i * 5) % 256, (255 - i) % 256)
    for ((w, h) <- Seq((17, 11), (8, 1), (5, 4), (30, 23))) {
      val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val Some(g) = Multimodal.decodeGif(gif(w, h, px, 8, 7, pal256, interlaced = true))
      assert((g.w, g.h) == (w, h), s"${w}x$h dims drifted")
      val want = px.map { p =>
        val (r, gg, b) = pal256(p & 0xff); lumaOf(r, gg, b)
      }.toSeq
      assert(g.pixels.map(_ & 0xff).toSeq == want,
        s"${w}x$h interlaced rows must deinterlace to the original raster")
      // and the same pixels as the non-interlaced encoding of the image
      val plain = Multimodal.decodeGif(gif(w, h, px, 8, 7, pal256)).get
      assert(g.pixels.sameElements(plain.pixels), s"${w}x$h interlace parity")
    }
  }

  test("GIF decode: malformed structures reject, never throw") {
    val pal = (i: Int) => (i, i, i)
    val ok = gif(6, 4, Array.fill(24)(1.toByte), 2, 1, pal)
    assert(Multimodal.decodeGif(ok).nonEmpty)
    assert(Multimodal.decodeGif(ok.dropRight(6)).isEmpty, "truncated stream")
    // no color table anywhere
    val noGct = ok.clone(); noGct(10) = (noGct(10) & 0x7f).toByte
    assert(Multimodal.decodeGif(noGct).isEmpty, "missing color table")
    assert(Multimodal.decodeGif("GIF89a".getBytes).isEmpty)
    assert(Multimodal.decodeGif(ok.take(6) ++ Array.fill(40)(0x55.toByte)).isEmpty)
  }

  // --- independent baseline JPEG encoder: forward DCT, configurable
  // zigzag quant table, self-built canonical huffman tables (emitted
  // in DHT, so the decoder's Annex-C table machinery is exercised on
  // non-standard tables), MSB-first bit writer with FF-stuffing,
  // grayscale or 4:4:4 multi-plane ---
  private class JBits {
    val out = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var n = 0
    def put(code: Int, len: Int): Unit = {
      var k = len - 1
      while (k >= 0) {
        cur = (cur << 1) | ((code >> k) & 1); n += 1
        if (n == 8) { out.write(cur); if (cur == 0xff) out.write(0); cur = 0; n = 0 }
        k -= 1
      }
    }
    def finish(): Unit = while (n != 0) put(1, 1)
  }
  /** Canonical table over the used symbols: one 15-bit code, the rest
    * 16-bit (1-bit when only one symbol) — valid, deliberately unlike
    * the spec's Annex-K tables. Returns (symbol → (code, len), DHT
    * table body). */
  private def jHuff(symbols: Seq[Int]): (Map[Int, (Int, Int)], Array[Byte]) = {
    val n = symbols.size
    val counts = new Array[Int](16)
    val enc = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    if (n == 1) { counts(0) = 1; enc(symbols.head) = (0, 1) }
    else {
      counts(14) = 1; counts(15) = n - 1
      enc(symbols.head) = (0, 15)
      for (k <- 1 until n) enc(symbols(k)) = (2 + (k - 1), 16)
    }
    (enc.toMap, counts.map(_.toByte) ++ symbols.map(_.toByte))
  }
  private def jSize(v: Int): Int = { var s = 0; var a = math.abs(v); while (a != 0) { s += 1; a >>= 1 }; s }
  private val jCos = Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16.0))
  /** Quantized zigzag coefficients of one 8x8 block (edge-replicated). */
  private def jBlock(px: Array[Byte], w: Int, h: Int, mx: Int, my: Int,
      q: Array[Int]): Array[Int] = {
    val f = Array.tabulate(8, 8) { (yy, xx) =>
      (px(math.min(h - 1, my * 8 + yy) * w + math.min(w - 1, mx * 8 + xx)) & 0xff) - 128.0
    }
    val coefN = Array.tabulate(8, 8) { (v, u) =>
      var acc = 0.0
      for (yy <- 0 until 8; xx <- 0 until 8) acc += f(yy)(xx) * jCos(xx)(u) * jCos(yy)(v)
      val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
      val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
      0.25 * cu * cv * acc
    }
    Array.tabulate(64) { k =>
      val nz = Multimodal.JpegZigzag(k)
      math.round(coefN(nz / 8)(nz % 8) / q(k)).toInt
    }
  }
  /** Encode planes (1 = gray, 3 = Y/Cb/Cr 4:4:4) at the given zigzag
    * quant table. */
  private def jpeg(w: Int, h: Int, planes: Seq[Array[Byte]], q: Array[Int]): Array[Byte] =
    jpegG(w, h, planes, Seq.fill(planes.size)((1, 1)), q)

  /** General baseline encoder: per-component sampling factors (MCU-
    * interleaved block order, spec A.2.3 — plane c is sized
    * ceil(w·hc/hmax) × ceil(h·vc/vmax)) and an optional restart
    * interval (DRI segment + byte-aligned RSTn every `dri` MCUs with
    * DC predictor resets, spec E.2.4). `ids` are the component ids
    * SOF declares and SOS names (default 1..nc). */
  private def jpegG(w: Int, h: Int, planes: Seq[Array[Byte]],
      samp: Seq[(Int, Int)], q: Array[Int], dri: Int = 0,
      ids: Seq[Int] = null): Array[Byte] = {
    val nc = planes.size
    val idsF = if (ids == null) 1 to nc else ids
    val hmax = samp.map(_._1).max; val vmax = samp.map(_._2).max
    val cw = Array.tabulate(nc)(c => (w * samp(c)._1 + hmax - 1) / hmax)
    val chh = Array.tabulate(nc)(c => (h * samp(c)._2 + vmax - 1) / vmax)
    val mcX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcY = (h + 8 * vmax - 1) / (8 * vmax)
    // all blocks in MCU-interleaved order: (mcu index, component, zigzag)
    val zz = for {
      my <- 0 until mcY; mx <- 0 until mcX; c <- 0 until nc
      byy <- 0 until samp(c)._2; bxx <- 0 until samp(c)._1
    } yield (my * mcX + mx, c,
      jBlock(planes(c), cw(c), chh(c),
        mx * samp(c)._1 + bxx, my * samp(c)._2 + byy, q))
    def acStream(blk: Array[Int])(emit: (Int, Int, Int) => Unit): Unit = {
      var run = 0
      var last = 63
      while (last >= 1 && blk(last) == 0) last -= 1
      for (k <- 1 to last) {
        if (blk(k) == 0) run += 1
        else {
          while (run > 15) { emit(0xf0, 0, 0); run -= 16 }
          val s = jSize(blk(k))
          val extra = if (blk(k) < 0) blk(k) + (1 << s) - 1 else blk(k)
          emit((run << 4) | s, extra, s)
          run = 0
        }
      }
      if (last < 63) emit(0x00, 0, 0)
    }
    val preds = new Array[Int](nc)
    // one walk over the block stream, shared by census and emit —
    // restart boundaries reset the predictors in BOTH passes
    def walk(emitDc: Int => Unit, emitAc: (Int, Int, Int) => Unit,
        onRestart: Int => Unit): Unit = {
      java.util.Arrays.fill(preds, 0)
      var prev = 0
      for ((mcu, c, blk) <- zz) {
        if (mcu != prev) {
          if (dri > 0 && mcu % dri == 0) {
            onRestart(mcu / dri - 1); java.util.Arrays.fill(preds, 0)
          }
          prev = mcu
        }
        val diff = blk(0) - preds(c); preds(c) = blk(0)
        emitDc(diff)
        acStream(blk)(emitAc)
      }
    }
    // pass 1: symbol census (DC sizes per diff, AC run/size bytes)
    val dcSyms = scala.collection.mutable.LinkedHashSet.empty[Int]
    val acSyms = scala.collection.mutable.LinkedHashSet.empty[Int]
    walk(diff => dcSyms += jSize(diff), (sym, _, _) => acSyms += sym, _ => ())
    val (dcEnc, dcSeg) = jHuff(dcSyms.toSeq)
    val (acEnc, acSeg) = jHuff(acSyms.toSeq)
    // pass 2: emit
    val bits = new JBits
    walk(
      diff => {
        val s = jSize(diff)
        val (dc, dl) = dcEnc(s); bits.put(dc, dl)
        if (s > 0) bits.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      },
      (sym, extra, es) => {
        val (ac, al) = acEnc(sym); bits.put(ac, al)
        if (es > 0) bits.put(extra, es)
      },
      n => {
        bits.finish() // pad to byte boundary with 1-bits
        bits.out.write(0xff); bits.out.write(0xd0 + (n & 7))
      })
    bits.finish()
    val bb = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      bb.write(0xff); bb.write(marker)
      bb.write((body.length + 2) >> 8); bb.write((body.length + 2) & 0xff)
      bb.write(body)
    }
    bb.write(0xff); bb.write(0xd8)
    seg(0xdb, Array(0.toByte) ++ q.map(_.toByte))
    seg(0xc0, Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, nc).map(_.toByte)
      ++ (0 until nc).flatMap(c => Seq(idsF(c).toByte,
        ((samp(c)._1 << 4) | samp(c)._2).toByte, 0.toByte)))
    if (dri > 0) seg(0xdd, Array(((dri >> 8) & 0xff).toByte, (dri & 0xff).toByte))
    seg(0xc4, Array(0x00.toByte) ++ dcSeg)
    seg(0xc4, Array(0x10.toByte) ++ acSeg)
    seg(0xda, Array(nc.toByte) ++ idsF.flatMap(id => Seq(id.toByte, 0x00.toByte))
      ++ Array(0.toByte, 63.toByte, 0.toByte))
    bb.write(bits.out.toByteArray)
    bb.write(0xff); bb.write(0xd9)
    bb.toByteArray
  }

  /** Independent PROGRESSIVE JPEG encoder (SOF2): spectral selection
    * + successive approximation. Script: DC first (Al=1, interleaved;
    * ns=1 for grayscale), Y AC first bands 1-5 and 6-63 at Al=1,
    * chroma AC first full-band (exercises the decoder's skip path),
    * Y AC refinement per band at Al=0 (correction bits emitted in
    * exactly the order figure G.7's walk consumes them), DC
    * refinement (one raw bit per block). Each scan carries its own
    * DHT; per-block EOBs (run 1). `ids` as in `jpegG`. */
  private def jpegProg(w: Int, h: Int, planes: Seq[Array[Byte]], q: Array[Int],
      samp: Seq[(Int, Int)] = null, ids: Seq[Int] = null): Array[Byte] = {
    val nc = planes.size
    val idsF = if (ids == null) 1 to nc else ids
    val sampF = if (samp == null) Seq.fill(nc)((1, 1)) else samp
    val hmax = sampF.map(_._1).max; val vmax = sampF.map(_._2).max
    val mcX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcY = (h + 8 * vmax - 1) / (8 * vmax)
    val cw = Array.tabulate(nc)(c => (w * sampF(c)._1 + hmax - 1) / hmax)
    val chh = Array.tabulate(nc)(c => (h * sampF(c)._2 + vmax - 1) / vmax)
    val cbw = Array.tabulate(nc)(c => (cw(c) + 7) / 8)
    val cbh = Array.tabulate(nc)(c => (chh(c) + 7) / 8)
    val cbwPad = Array.tabulate(nc)(c => mcX * sampF(c)._1)
    val cbhPad = Array.tabulate(nc)(c => mcY * sampF(c)._2)
    // quantized zigzag blocks on the PADDED grids (interleaved DC
    // order); AC scans use the unpadded prefix
    val blocks = Array.tabulate(nc)(c =>
      Array.tabulate(cbhPad(c), cbwPad(c))((my, mx) =>
        jBlock(planes(c), cw(c), chh(c), mx, my, q)))

    // a scan = two passes over one symbol/bit stream: census then emit
    trait Sink {
      def sym(s: Int): Unit          // huffman symbol
      def rawBits(v: Int, n: Int): Unit
    }
    class Census extends Sink {
      val syms = scala.collection.mutable.LinkedHashSet.empty[Int]
      def sym(s: Int): Unit = syms += s
      def rawBits(v: Int, n: Int): Unit = ()
    }
    class Emit(enc: Map[Int, (Int, Int)], bits: JBits) extends Sink {
      def sym(s: Int): Unit = { val (c, l) = enc(s); bits.put(c, l) }
      def rawBits(v: Int, n: Int): Unit = if (n > 0) bits.put(v, n)
    }

    def dcFirst(sink: Sink, al: Int): Unit = {
      val preds = new Array[Int](nc)
      def one(c: Int, blk: Array[Int]): Unit = {
        val pt = blk(0) >> al // DC point transform: arithmetic shift
        val diff = pt - preds(c); preds(c) = pt
        val s = jSize(diff)
        sink.sym(s)
        if (s > 0) sink.rawBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      }
      if (nc > 1)
        for (my <- 0 until mcY; mx <- 0 until mcX; c <- 0 until nc;
             by <- 0 until sampF(c)._2; bx <- 0 until sampF(c)._1)
          one(c, blocks(c)(my * sampF(c)._2 + by)(mx * sampF(c)._1 + bx))
      else
        for (by <- 0 until cbh(0); bx <- 0 until cbw(0))
          one(0, blocks(0)(by)(bx))
    }
    def dcRefine(sink: Sink, al: Int): Unit = {
      def one(blk: Array[Int]): Unit = sink.rawBits((blk(0) >> al) & 1, 1)
      if (nc > 1)
        for (my <- 0 until mcY; mx <- 0 until mcX; c <- 0 until nc;
             by <- 0 until sampF(c)._2; bx <- 0 until sampF(c)._1)
          one(blocks(c)(my * sampF(c)._2 + by)(mx * sampF(c)._1 + bx))
      else
        for (by <- 0 until cbh(0); bx <- 0 until cbw(0)) one(blocks(0)(by)(bx))
    }
    def acFirst(sink: Sink, c: Int, ss: Int, se: Int, al: Int): Unit =
      for (by <- 0 until cbh(c); bx <- 0 until cbw(c)) {
        val blk = blocks(c)(by)(bx)
        var r = 0
        var k = ss
        while (k <= se) {
          val v = blk(k)
          val m = math.abs(v) >> al
          if (m == 0) r += 1
          else {
            while (r > 15) { sink.sym(0xf0); r -= 16 }
            val s = jSize(m)
            val x = if (v < 0) -m else m
            sink.sym((r << 4) | s)
            sink.rawBits(if (x < 0) x + (1 << s) - 1 else x, s)
            r = 0
          }
          k += 1
        }
        if (r > 0) sink.sym(0x00) // per-block EOB (run 1, no extra bits)
      }
    def acRefine(sink: Sink, c: Int, ss: Int, se: Int, al: Int): Unit =
      for (by <- 0 until cbh(c); bx <- 0 until cbw(c)) {
        val blk = blocks(c)(by)(bx)
        def temp(k: Int) = math.abs(blk(k)) >> al
        // mirror of the decoder's figure-G.7 walk: emit symbol, then
        // the correction bits in exactly the order its walk reads them
        var k = ss
        var more = true
        while (more && k <= se) {
          // next newly-significant position at >= k
          var pNew = -1
          var j = k
          while (pNew < 0 && j <= se) { if (temp(j) == 1) pNew = j; j += 1 }
          if (pNew < 0) {
            // no more placements: EOB unless the band ended exactly at
            // the previous placement, then tail correction bits
            if (k <= se) {
              sink.sym(0x00)
              var t = k
              while (t <= se) { if (temp(t) > 1) sink.rawBits(temp(t) & 1, 1); t += 1 }
            }
            more = false
          } else {
            var r = 0
            var t = k
            while (t < pNew) { if (temp(t) == 0) r += 1; t += 1 }
            if (r > 15) {
              // ZRL: decoder consumes 16 zeros + bits at nonzeros
              // before the 16th zero (inclusive of consuming it)
              sink.sym(0xf0)
              var zeros = 0
              var u = k
              var stop = -1
              while (stop < 0) {
                if (temp(u) == 0) { zeros += 1; if (zeros == 16) stop = u }
                else sink.rawBits(temp(u) & 1, 1)
                u += 1
              }
              k = stop + 1
            } else {
              sink.sym((r << 4) | 1)
              sink.rawBits(if (blk(pNew) > 0) 1 else 0, 1) // sign of new coef
              var u = k
              while (u < pNew) { if (temp(u) > 1) sink.rawBits(temp(u) & 1, 1); u += 1 }
              k = pNew + 1
            }
          }
        }
      }

    // assemble: census → tables → emit, per scan
    val bb = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, body: Array[Byte]): Unit = {
      bb.write(0xff); bb.write(marker)
      bb.write((body.length + 2) >> 8); bb.write((body.length + 2) & 0xff)
      bb.write(body)
    }
    bb.write(0xff); bb.write(0xd8)
    seg(0xdb, Array(0.toByte) ++ q.map(_.toByte))
    seg(0xc2, Array(8, (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, nc).map(_.toByte)
      ++ (0 until nc).flatMap(c => Seq(idsF(c).toByte,
        ((sampF(c)._1 << 4) | sampF(c)._2).toByte, 0.toByte)))
    def scan(run: Sink => Unit, comps: Seq[Int], ss: Int, se: Int,
        ah: Int, al: Int, tableClass: Int): Unit = {
      val census = new Census
      run(census)
      val useTable = census.syms.nonEmpty
      val enc: Map[Int, (Int, Int)] =
        if (useTable) {
          val (e, body) = jHuff(census.syms.toSeq)
          seg(0xc4, Array(((tableClass << 4) | 0).toByte) ++ body)
          e
        } else Map.empty
      seg(0xda, Array(comps.size.toByte) ++
        comps.flatMap(c => Seq(idsF(c).toByte, 0x00.toByte)) ++
        Array(ss.toByte, se.toByte, (((ah << 4) | al)).toByte))
      val bits = new JBits
      run(new Emit(enc, bits))
      bits.finish()
      bb.write(bits.out.toByteArray)
    }
    scan(dcFirst(_, 1), 0 until nc, 0, 0, 0, 1, 0)
    scan(acFirst(_, 0, 1, 5, 1), Seq(0), 1, 5, 0, 1, 1)
    scan(acFirst(_, 0, 6, 63, 1), Seq(0), 6, 63, 0, 1, 1)
    for (c <- 1 until nc) scan(acFirst(_, c, 1, 63, 0), Seq(c), 1, 63, 0, 0, 1)
    scan(acRefine(_, 0, 1, 5, 0), Seq(0), 1, 5, 1, 0, 1)
    scan(acRefine(_, 0, 6, 63, 0), Seq(0), 6, 63, 1, 0, 1)
    scan(dcRefine(_, 0), 0 until nc, 0, 0, 1, 0, 0)
    bb.write(0xff); bb.write(0xd9)
    bb.toByteArray
  }

  test("JPEG decode: constant raster exact, random rasters within quantization error") {
    val rnd = new scala.util.Random(31)
    val q1 = Array.fill(64)(1)
    // constant image: DC-only stream, exact through DCT+IDCT
    val flat = Array.fill(20 * 12)(130.toByte)
    val Some(g0) = Multimodal.decodeJpeg(jpeg(20, 12, Seq(flat), q1))
    assert((g0.w, g0.h) == (20, 12))
    assert(g0.pixels.sameElements(flat), "constant raster must decode exactly")
    // random raster, q=1: error only from coefficient rounding
    val px = Array.fill(24 * 17)(rnd.nextInt(256).toByte)
    val Some(g1) = Multimodal.decodeJpeg(jpeg(24, 17, Seq(px), q1))
    val maxErr = g1.pixels.zip(px).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 4, s"q=1 round-trip error $maxErr exceeds the rounding bound")
    // coarser table: error scales with q but stays bounded
    val q4 = Array.fill(64)(4)
    val Some(g4) = Multimodal.decodeJpeg(jpeg(24, 17, Seq(px), q4))
    val maxErr4 = g4.pixels.zip(px).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr4 <= 16, s"q=4 round-trip error $maxErr4 out of bound")
  }

  test("JPEG decode: 4:4:4 color stream — chroma entropy-consumed, Y returned") {
    val rnd = new scala.util.Random(77)
    val w = 19; val h = 10
    val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val cb = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
    val cr = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
    val Some(g) = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP, cb, cr), Array.fill(64)(1)))
    val yOnly = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), Array.fill(64)(1))).get
    assert(g.pixels.sameElements(yOnly.pixels),
      "3-component decode must return the same Y raster as the grayscale stream")
  }

  test("JPEG decode: 4:2:0 / 4:2:2 / 4:4:0 subsampled streams — Y bit-exact") {
    // Y full-resolution, chroma stored at half resolution: the decoded
    // luma must equal the GRAYSCALE stream's decode bit-for-bit (same
    // quant table, same Y blocks — subsampling only changes MCU
    // geometry and the chroma entropy data the decoder must consume
    // to keep bit position)
    val rnd = new scala.util.Random(4200)
    for ((sy, name) <- Seq(((2, 2), "4:2:0"), ((2, 1), "4:2:2"), ((1, 2), "4:4:0"))) {
      val w = 21; val h = 13
      val q = Array.fill(64)(2)
      val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val cwc = (w + sy._1 - 1) / sy._1; val chc = (h + sy._2 - 1) / sy._2
      val cb = Array.fill(cwc * chc)((128 + rnd.nextInt(64) - 32).toByte)
      val cr = Array.fill(cwc * chc)((128 + rnd.nextInt(64) - 32).toByte)
      val sub = jpegG(w, h, Seq(yP, cb, cr), Seq(sy, (1, 1), (1, 1)), q)
      val Some(g) = Multimodal.decodeJpeg(sub)
      assert((g.w, g.h) == (w, h), s"$name dims drifted")
      val gray = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
      assert(g.pixels.sameElements(gray.pixels),
        s"$name luma must match the grayscale stream bit-for-bit")
    }
  }

  test("JPEG decode: restart intervals (DRI + RSTn) — bit-exact vs no-DRI stream") {
    val rnd = new scala.util.Random(777)
    val w = 35; val h = 19 // 5x3 = 15 MCUs at 1x1
    val q = Array.fill(64)(1)
    val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
    for (dri <- Seq(1, 2, 7)) {
      val Some(g) = Multimodal.decodeJpeg(jpegG(w, h, Seq(yP), Seq((1, 1)), q, dri = dri))
      val plain = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
      assert(g.pixels.sameElements(plain.pixels), s"dri=$dri raster drifted")
    }
    // 4:2:0 + DRI together: restart counts MCUs, not blocks
    val cb = Array.fill(18 * 10)(128.toByte); val cr = Array.fill(18 * 10)(140.toByte)
    val Some(g420) = Multimodal.decodeJpeg(
      jpegG(w, h, Seq(yP, cb, cr), Seq((2, 2), (1, 1), (1, 1)), q, dri = 3))
    val gray = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
    assert(g420.pixels.sameElements(gray.pixels), "4:2:0 + DRI raster drifted")
    // wrong restart-marker sequence number must reject, not mis-decode
    val withDri = jpegG(w, h, Seq(yP), Seq((1, 1)), q, dri = 2)
    val rstAt = { // first RST0 in the entropy stream (after SOS)
      val sos = withDri.indexOfSlice(Seq(0xff.toByte, 0xda.toByte))
      var p = sos + 2; while (!((withDri(p) & 0xff) == 0xff && (withDri(p + 1) & 0xff) == 0xd0)) p += 1; p
    }
    val bad = withDri.clone(); bad(rstAt + 1) = 0xd5.toByte
    assert(Multimodal.decodeJpeg(bad).isEmpty, "out-of-sequence RST must reject")
  }

  test("JPEG decode: progressive (SOF2) — bit-exact vs the baseline stream") {
    // The multi-scan reconstruction (DC successive approximation,
    // spectral-band AC first scans, AC refinement correction bits,
    // chroma-scan skipping) must rebuild the EXACT quantized
    // coefficients, so the final dequant+IDCT pixels equal the
    // baseline encoding of the same planes bit-for-bit.
    val rnd = new scala.util.Random(2026)
    for ((w, h) <- Seq((16, 16), (21, 13), (8, 8), (3, 3), (24, 17))) {
      val q = Array.fill(64)(1 + rnd.nextInt(3))
      val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
      // grayscale: single-component DC scan path
      val Some(gProg) = Multimodal.decodeJpeg(jpegProg(w, h, Seq(yP), q))
      val gBase = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
      assert(gProg.pixels.sameElements(gBase.pixels), s"gray ${w}x$h progressive drifted")
      // 4:4:4 color: interleaved DC + skipped chroma AC scans
      val cb = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
      val cr = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
      val Some(cProg) = Multimodal.decodeJpeg(jpegProg(w, h, Seq(yP, cb, cr), q))
      assert(cProg.pixels.sameElements(gBase.pixels), s"4:4:4 ${w}x$h progressive drifted")
    }
    // 4:2:0: padded interleaved DC grid vs unpadded AC grid mapping
    val w = 21; val h = 13
    val q = Array.fill(64)(2)
    val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val cwc = 11; val chc = 7
    val cb = Array.fill(cwc * chc)(128.toByte); val cr = Array.fill(cwc * chc)(140.toByte)
    val Some(sProg) = Multimodal.decodeJpeg(
      jpegProg(w, h, Seq(yP, cb, cr), q, samp = Seq((2, 2), (1, 1), (1, 1))))
    val sBase = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
    assert(sProg.pixels.sameElements(sBase.pixels), "4:2:0 progressive drifted")
    // constant image: the all-EOB degenerate stream
    val flat = Array.fill(20 * 12)(130.toByte)
    val Some(gFlat) = Multimodal.decodeJpeg(jpegProg(20, 12, Seq(flat), Array.fill(64)(1)))
    assert(gFlat.pixels.sameElements(flat), "constant progressive must be exact")
    // sparse image at a coarse table: isolated quantized coefs leave
    // >15-zero runs — the ZRL paths in first AND refinement scans
    val sp = Array.fill(32 * 24)(100.toByte)
    sp(5 * 32 + 7) = 220.toByte; sp(20 * 32 + 30) = 0.toByte
    val qs = Array.fill(64)(8)
    val Some(gSp) = Multimodal.decodeJpeg(jpegProg(32, 24, Seq(sp), qs))
    val bSp = Multimodal.decodeJpeg(jpeg(32, 24, Seq(sp), qs)).get
    assert(gSp.pixels.sameElements(bSp.pixels), "sparse progressive (ZRL) drifted")
    // truncated progressive rejects, never throws
    val ok = jpegProg(16, 16, Seq(Array.fill(256)(99.toByte)), Array.fill(64)(1))
    assert(Multimodal.decodeJpeg(ok.dropRight(25)).isEmpty, "truncated progressive")
  }

  test("JPEG decode: fill bytes and standalone markers in the header walk") {
    val ok = jpeg(16, 16, Seq(Array.fill(256)(77.toByte)), Array.fill(64)(1))
    val want = Multimodal.decodeJpeg(ok).get
    // 0xFF fill bytes before a marker (spec B.1.1.2) must be skipped
    val sof = ok.indexOfSlice(Seq(0xff.toByte, 0xc0.toByte))
    val filled = ok.take(sof) ++ Array.fill(3)(0xff.toByte) ++ ok.drop(sof)
    val Some(gFill) = Multimodal.decodeJpeg(filled)
    assert(gFill.pixels.sameElements(want.pixels), "fill bytes must be transparent")
    // a standalone TEM (0x01) marker between segments: length-less
    val tem = ok.take(sof) ++ Array(0xff.toByte, 0x01.toByte) ++ ok.drop(sof)
    val Some(gTem) = Multimodal.decodeJpeg(tem)
    assert(gTem.pixels.sameElements(want.pixels), "TEM must be skipped length-less")
  }

  test("JPEG decode: corrupt DHT symbols beyond spec limits reject, never mis-decode") {
    val ok = jpeg(16, 16, Seq(Array.fill(256)(50.toByte)), Array.fill(64)(1))
    // DC table: patch a value byte to 12 (> spec max 11) — the stream
    // still huffman-decodes, but extend() would shift out of range;
    // the decoder must return None, not a silently wrong raster
    val dht = ok.indexOfSlice(Seq(0xff.toByte, 0xc4.toByte))
    // DHT body: len(2) tc/th(1) counts(16) values(n) — constant image
    // has exactly one DC symbol; patch it above the limit
    val valAt = dht + 4 + 1 + 16
    val badDc = ok.clone(); badDc(valAt) = 12.toByte
    assert(Multimodal.decodeJpeg(badDc).isEmpty, "DC size 12 must reject")
    // AC table: same patch on the first AC value (second DHT segment)
    val dht2 = ok.indexOfSlice(Seq(0xff.toByte, 0xc4.toByte), dht + 2)
    val acVal = dht2 + 4 + 1 + 16
    val badAc = ok.clone(); badAc(acVal) = 0x0b.toByte // run 0, size 11 > 10
    assert(Multimodal.decodeJpeg(badAc).isEmpty, "AC size 11 must reject")
  }

  test("JPEG decode: a DQT or DHT table or a SOF component list that overruns its segment rejects") {
    val ok = jpeg(16, 16, Seq(Array.tabulate(256)(i => (i * 7).toByte)), Array.fill(64)(1))
    val want = Multimodal.decodeJpeg(ok).get
    def at(marker: Int) = ok.indexOfSlice(Seq(0xff.toByte, marker.toByte))
    def len(seg: Int) = ((ok(seg + 2) & 0xff) << 8) | (ok(seg + 3) & 0xff)
    /** `ok` with `extra` appended to the segment at `seg`, its length fixed. */
    def grown(seg: Int, extra: Array[Byte]): Array[Byte] = {
      val n = len(seg) + extra.length
      ok.take(seg + 2) ++ Array((n >> 8).toByte, n.toByte) ++ ok.slice(seg + 4, seg + 2 + len(seg)) ++
        extra ++ ok.drop(seg + 2 + len(seg))
    }
    // a second quant table: whole it decodes, cut short it rejects
    val dqt = at(0xdb)
    val table1 = 0x01.toByte +: Array.fill(64)(3.toByte)
    assert(Multimodal.decodeJpeg(grown(dqt, table1)).get.pixels.sameElements(want.pixels))
    assert(Multimodal.decodeJpeg(grown(dqt, table1.take(10))).isEmpty, "DQT table past its segment")
    // one more 16-bit code in the DC table: its symbol inside the
    // segment decodes, a symbol past the segment's end rejects
    val dht = at(0xc4)
    val oneMore = ok.clone(); oneMore(dht + 4 + 16) = (oneMore(dht + 4 + 16) + 1).toByte
    assert(Multimodal.decodeJpeg(oneMore).isEmpty, "DHT symbols past its segment")
    val withSymbol = grown(dht, Array(0x07.toByte)); withSymbol(dht + 4 + 16) = oneMore(dht + 4 + 16)
    assert(Multimodal.decodeJpeg(withSymbol).get.pixels.sameElements(want.pixels))
    // a SOF that claims three components in a one-component segment
    val three = ok.clone(); three(at(0xc0) + 4 + 5) = 3
    assert(Multimodal.decodeJpeg(three).isEmpty, "SOF components past its segment")
  }

  test("JPEG decode: malformed structures reject, never throw") {
    val ok = jpeg(16, 16, Seq(Array.fill(256)(99.toByte)), Array.fill(64)(1))
    assert(Multimodal.decodeJpeg(ok).nonEmpty)
    assert(Multimodal.decodeJpeg(ok.dropRight(30)).isEmpty, "truncated entropy stream")
    // progressive: flip SOF0's marker byte to SOF2
    val sof = ok.indexOfSlice(Seq(0xff.toByte, 0xc0.toByte))
    val prog = ok.clone(); prog(sof + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpeg(prog).isEmpty, "progressive must take the stub path")
    assert(Multimodal.decodeJpeg(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    assert(Multimodal.decodeJpeg(ok.take(2) ++ Array.fill(60)(0x11.toByte)).isEmpty)
  }

  test("JPEG progressive equals baseline on arbitrary rasters (generative)") {
    // 8 random trials over dims / grayscale-vs-4:4:4 / quant scale:
    // the progressive reconstruction rebuilds the exact quantized
    // coefficients, so its pixels must equal the baseline stream's
    // decode bit-for-bit on ANY input. Seeded so failures replay.
    val rnd = new scala.util.Random(90210)
    for (trial <- 1 to 8) {
      val w = 3 + rnd.nextInt(30); val h = 3 + rnd.nextInt(22)
      val qv = 1 + rnd.nextInt(4)
      val q = Array.fill(64)(qv)
      val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val planes =
        if (rnd.nextBoolean()) Seq(yP)
        else Seq(yP, Array.fill(w * h)((128 + rnd.nextInt(32)).toByte),
          Array.fill(w * h)((128 - rnd.nextInt(32)).toByte))
      val Some(prog) = Multimodal.decodeJpeg(jpegProg(w, h, planes, q))
      val base = Multimodal.decodeJpeg(jpeg(w, h, Seq(yP), q)).get
      assert(prog.pixels.sameElements(base.pixels),
        s"trial $trial (w=$w h=$h q=$qv nc=${planes.size}): progressive != baseline")
    }
  }

  test("JPEG round-trips arbitrary rasters within the quantization bound (generative)") {
    // 10 random trials over dims / grayscale-vs-4:4:4 / quant scale —
    // the fixed cases pin known spots; this sweeps the space. The
    // error bound is the per-coefficient rounding bound: q/2 per
    // coefficient through an orthonormal-scaled basis stays within
    // ~4q per pixel in practice. Seeded so failures replay.
    val rnd = new scala.util.Random(8842)
    for (trial <- 1 to 10) {
      val w = 3 + rnd.nextInt(30); val h = 3 + rnd.nextInt(22)
      val qv = 1 + rnd.nextInt(4)
      val q = Array.fill(64)(qv)
      val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val planes =
        if (rnd.nextBoolean()) Seq(yP)
        else Seq(yP, Array.fill(w * h)(128.toByte), Array.fill(w * h)(128.toByte))
      val Some(g) = Multimodal.decodeJpeg(jpeg(w, h, planes, q))
      assert((g.w, g.h) == (w, h), s"trial $trial dims drifted")
      val maxErr = g.pixels.zip(yP).map { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff)) }.max
      assert(maxErr <= 4 * qv,
        s"trial $trial (w=$w h=$h q=$qv nc=${planes.size}): error $maxErr > ${4 * qv}")
    }
  }

  test("JPEG decode: scan selectors resolve through the SOF component ids") {
    // A scan names its components by the ids the SOF declared, not by
    // position: 0-based ids and Adobe's 'R','G','B' must decode like
    // the usual 1,2,3 on both frame kinds. A selector naming an id the
    // SOF never declared, or one the scan already named, rejects.
    val rnd = new scala.util.Random(5150)
    val w = 21; val h = 13
    val q = Array.fill(64)(2)
    val yP = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val cb = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
    val cr = Array.fill(w * h)((128 + rnd.nextInt(64) - 32).toByte)
    for (prog <- Seq(false, true); planes <- Seq(Seq(yP), Seq(yP, cb, cr))) {
      def enc(ids: Seq[Int]): Array[Byte] =
        if (prog) jpegProg(w, h, planes, q, ids = ids)
        else jpegG(w, h, planes, planes.map(_ => (1, 1)), q, ids = ids)
      val kind = s"${if (prog) "progressive" else "baseline"} nc=${planes.size}"
      val ok = enc(null)
      val want = Multimodal.decodeJpeg(ok).get
      for (ids <- Seq(Seq(0, 1, 2), Seq('R', 'G', 'B').map(_.toInt))) {
        val Some(g) = Multimodal.decodeJpeg(enc(ids.take(planes.size)))
        assert(g.pixels.sameElements(want.pixels), s"$kind ids $ids drifted")
      }
      // first SOS: FF DA, length(2), Ns, then (selector, tables) pairs
      val sos = ok.indexOfSlice(Seq(0xff.toByte, 0xda.toByte))
      val undeclared = ok.clone(); undeclared(sos + 5) = 9.toByte
      assert(Multimodal.decodeJpeg(undeclared).isEmpty, s"$kind undeclared id")
      if (planes.size == 3) {
        val twice = ok.clone(); twice(sos + 7) = 1.toByte
        assert(Multimodal.decodeJpeg(twice).isEmpty, s"$kind repeated id")
      }
    }
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** One line per corrupt variant of `ok`: every truncation, then 3
    * seeded single-byte replacements at every offset, each with its
    * decode result (None, or w×h and the md5 of the pixels). */
  private def jpegCorpus(ok: Array[Byte], rnd: scala.util.Random): Seq[String] = {
    def result(in: Array[Byte]): String = Multimodal.decodeJpeg(in) match {
      case None => "None"
      case Some(g) => s"${g.w}x${g.h} ${md5Hex(g.pixels)}"
    }
    (0 until ok.length).map(k => s"cut $k: ${result(ok.take(k))}") ++
      (for (p <- 0 until ok.length; _ <- 1 to 3) yield {
        val bad = ok.clone(); bad(p) = ((ok(p) & 0xff) + 1 + rnd.nextInt(255)).toByte
        s"set $p=${bad(p) & 0xff}: ${result(bad)}"
      })
  }

  test("JPEG decode: truncated and byte-corrupted streams never throw; results pinned") {
    // Pins the decoder's behaviour on corrupt input, stream by stream:
    // one md5 over the result lines of `jpegCorpus`. Any decoder change
    // that turns one of these inputs into a different result (another
    // raster, None for a raster, a raster for None) moves a digest.
    val rnd = new scala.util.Random(1212)
    def plane(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
    val s420 = Seq((2, 2), (1, 1), (1, 1))
    val streams = Seq(
      "baseline gray" -> jpeg(16, 16, Seq(plane(256)), Array.fill(64)(2)),
      "baseline 4:2:0 DRI=3" -> jpegG(35, 19, Seq(plane(35 * 19), plane(18 * 10), plane(18 * 10)),
        s420, Array.fill(64)(4), dri = 3),
      "progressive 4:4:4" -> jpegProg(16, 16, Seq(plane(256), plane(256), plane(256)),
        Array.fill(64)(2)),
      "progressive 4:2:0" -> jpegProg(21, 13, Seq(plane(21 * 13), plane(11 * 7), plane(11 * 7)),
        Array.fill(64)(2), samp = s420))
    val want = Map(
      "baseline gray" -> "eff33a7201a53d7bc43b5ce37d218ded",
      "baseline 4:2:0 DRI=3" -> "55e8bdb01660b3d3ead47d7a1a5dd978",
      "progressive 4:4:4" -> "a91b60d0c436c7f281cf83b63e082ac9",
      "progressive 4:2:0" -> "cda8a76eddc12595a65e917b91e238c0")
    val got = streams.map { case (name, ok) =>
      assert(Multimodal.decodeJpeg(ok).nonEmpty, s"$name must decode")
      name -> md5Hex(jpegCorpus(ok, rnd).mkString("\n").getBytes("UTF-8"))
    }.toMap
    assert(got == want)
  }

  test("compressed decoders round-trip arbitrary rasters (generative)") {
    // 12 random trials each for PNG (random dims / color type /
    // per-row filter choice) and GIF (random dims / palette /
    // min-code) — the fixed-seed cases above pin known tricky spots,
    // this sweeps the space. Seeded so failures replay.
    val rnd = new scala.util.Random(2024)
    for (trial <- 1 to 12) {
      val w = 1 + rnd.nextInt(24); val h = 1 + rnd.nextInt(24)
      val ch = Seq(1, 2, 3, 4)(rnd.nextInt(4))
      val raw = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val filters = Array.fill(1 + rnd.nextInt(7))(rnd.nextInt(5)).toSeq
      val Some(g) = Multimodal.decodePng(png(w, h, ch, raw, filters,
        idatSplit = 1 + rnd.nextInt(3)))
      val want = (0 until w * h).map { p =>
        ch match {
          case 1 => raw(p) & 0xff
          case 2 => raw(p * 2) & 0xff
          case _ => lumaOf(raw(p * ch) & 0xff, raw(p * ch + 1) & 0xff, raw(p * ch + 2) & 0xff)
        }
      }
      assert(g.pixels.map(_ & 0xff).toSeq == want,
        s"PNG trial $trial drifted (w=$w h=$h ch=$ch filters=$filters)")
    }
    for (trial <- 1 to 12) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(20)
      val minCode = 2 + rnd.nextInt(7)
      val sizeBits = minCode - 1 // color table size 2^minCode
      val pal = Array.fill(2 << sizeBits)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val px = Array.fill(w * h)(rnd.nextInt(1 << minCode).toByte)
      val Some(g) = Multimodal.decodeGif(gif(w, h, px, minCode, sizeBits, pal(_),
        withExt = rnd.nextBoolean()))
      val want = px.map { p => val (r, gg, b) = pal(p & 0xff); lumaOf(r, gg, b) }.toSeq
      assert(g.pixels.map(_ & 0xff).toSeq == want,
        s"GIF trial $trial drifted (w=$w h=$h minCode=$minCode)")
    }
  }

  // --- MP3 header-walk metadata (round-15: the media family's
  // compressed-audio leg — header arithmetic, no DSP) ---

  /** One MPEG1 Layer III 128 kbps 44100 Hz mono frame (417 B CBR):
    * header FF FB 90 C0 + zero body, optionally with a different
    * bitrate index for VBR tests. */
  private def mp3Frame(brIdx: Int = 9, srIdx: Int = 0): Array[Byte] = {
    val kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)(brIdx)
    val rate = Array(44100, 48000, 32000, 0)(srIdx)
    val len = 144 * kbps * 1000 / rate
    val b = new Array[Byte](len)
    b(0) = 0xff.toByte; b(1) = 0xfb.toByte
    b(2) = ((brIdx << 4) | (srIdx << 2)).toByte; b(3) = 0xc0.toByte
    b
  }

  private def id3v2(pad: Int, footer: Boolean = false): Array[Byte] = {
    val b = new Array[Byte](10 + pad + (if (footer) 10 else 0))
    b(0) = 'I'; b(1) = 'D'; b(2) = '3'; b(3) = 4
    if (footer) b(5) = 0x10
    b(6) = ((pad >> 21) & 0x7f).toByte; b(7) = ((pad >> 14) & 0x7f).toByte
    b(8) = ((pad >> 7) & 0x7f).toByte; b(9) = (pad & 0x7f).toByte
    b
  }

  test("MP3 metadata: ID3v2 skip, exact frame walk, duration arithmetic") {
    val payload = id3v2(pad = 37) ++ mp3Frame() ++ mp3Frame() ++ mp3Frame()
    val m = Multimodal.decodeMp3Meta(payload).get
    assert(m.version == 1 && m.layer == 3, s"MPEG1 Layer III expected: $m")
    assert(m.sampleRate == 44100 && m.bitrateKbps == 128 && m.channels == 1)
    assert(m.nFrames == 3, s"frame walk must count exactly 3: $m")
    assert(m.durationMs == 3L * 1152 * 1000 / 44100, s"duration off: $m")
    assert(m.id3v2Bytes == 47, s"syncsafe tag size mis-skipped: $m")
    // no tag: sync at offset 0
    val bare = Multimodal.decodeMp3Meta(mp3Frame() ++ mp3Frame()).get
    assert(bare.nFrames == 2 && bare.id3v2Bytes == 0)
    // ID3v2 footer flag adds 10 bytes to the skip
    val foot = Multimodal.decodeMp3Meta(id3v2(5, footer = true) ++ mp3Frame()).get
    assert(foot.nFrames == 1 && foot.id3v2Bytes == 25)
  }

  test("MP3 metadata: VBR walks on, trailing junk/ID3v1 stops cleanly, bad streams reject") {
    // VBR: bitrate may change per frame (same version/layer/rate);
    // reported bitrate is the first frame's, duration stays exact
    val vbr = Multimodal.decodeMp3Meta(
      mp3Frame(brIdx = 9) ++ mp3Frame(brIdx = 11) ++ mp3Frame(brIdx = 5)).get
    assert(vbr.nFrames == 3 && vbr.bitrateKbps == 128, s"VBR walk broke: $vbr")
    // trailing ID3v1 tag (128 B starting "TAG") ends the walk, not the parse
    val v1 = "TAG".getBytes("US-ASCII") ++ new Array[Byte](125)
    val tail = Multimodal.decodeMp3Meta(mp3Frame() ++ mp3Frame() ++ v1).get
    assert(tail.nFrames == 2, s"ID3v1 tail must not count as frames: $tail")
    // a mid-stream rate CHANGE ends the walk (one logical stream only)
    val mixed = Multimodal.decodeMp3Meta(mp3Frame(srIdx = 0) ++ mp3Frame(srIdx = 1)).get
    assert(mixed.nFrames == 1, s"rate change must end the stream: $mixed")
    // rejects: no sync at the start point, truncated/oversized tag,
    // reserved version/layer bits, bad bitrate/rate indexes
    assert(Multimodal.decodeMp3Meta("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeMp3Meta(id3v2(1000).take(30)).isEmpty)
    val badVer = mp3Frame(); badVer(1) = 0xeb.toByte // version bits = reserved
    assert(Multimodal.decodeMp3Meta(badVer).isEmpty)
    val badBr = mp3Frame(); badBr(2) = 0xf0.toByte // bitrate index 15
    assert(Multimodal.decodeMp3Meta(badBr).isEmpty)
    assert(Multimodal.decodeMp3Meta(Array.emptyByteArray).isEmpty)
  }

  test("MP3 metadata rides decodeFeatures: n_frames is the walked count, features stay the stub") {
    import spark.implicits._
    val payload = id3v2(4) ++ mp3Frame() ++ mp3Frame() ++ mp3Frame() ++ mp3Frame()
    val rows = Seq(Multimodal.MediaRow(7L, payload, "audio/mpeg")).toDS()
    val out = Multimodal.decodeFeatures(rows).collect()
    assert(out.length == 1)
    assert(out.head.n_frames == 4, s"decodeFeatures must surface the real frame count: ${out.head}")
    assert(out.head.features.sameElements(Multimodal.stubDecode(payload)),
      "MP3 features are the clearly-marked stub (metadata-only branch)")
  }

  // --- MP4 / ISO-BMFF box-walk metadata (round-15: the video-
  // container sibling of the MP3 leg — box arithmetic, no DSP) ---

  private def be32w(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 24).toByte; b(o + 1) = (v >> 16).toByte
    b(o + 2) = (v >> 8).toByte; b(o + 3) = v.toByte
  }
  private def typ4(b: Array[Byte], o: Int, t: String): Unit =
    t.getBytes("US-ASCII").copyToArray(b, o)

  /** Minimal well-formed container: ftyp + moov(mvhd + n traks) +
    * optional mdat tail. */
  private def mp4(tracks: Int, timescale: Int, duration: Int,
                  w: Int, h: Int, mdatLen: Int = 0,
                  v1Mvhd: Boolean = false): Array[Byte] = {
    val mvhdSize = if (v1Mvhd) 120 else 108
    val moovSize = 8 + mvhdSize + tracks * 100
    val b = new Array[Byte](16 + moovSize + (if (mdatLen >= 0) 8 + mdatLen else 0))
    be32w(b, 0, 16); typ4(b, 4, "ftyp"); typ4(b, 8, "isom"); be32w(b, 12, 1)
    var o = 16
    be32w(b, o, moovSize); typ4(b, o + 4, "moov")
    be32w(b, o + 8, mvhdSize); typ4(b, o + 12, "mvhd")
    if (v1Mvhd) {
      b(o + 16) = 1 // version 1: 64-bit times, timescale@+20, duration@+24(64-bit)
      be32w(b, o + 16 + 4 + 16, timescale)
      be32w(b, o + 16 + 4 + 20, 0); be32w(b, o + 16 + 4 + 24, duration)
    } else {
      be32w(b, o + 16 + 12, timescale)
      be32w(b, o + 16 + 16, duration)
    }
    o += 8 + mvhdSize
    for (t <- 0 until tracks) {
      be32w(b, o, 100); typ4(b, o + 4, "trak")
      be32w(b, o + 8, 92); typ4(b, o + 12, "tkhd")
      be32w(b, o + 16 + 12, t + 1)
      be32w(b, o + 16 + 76, w << 16); be32w(b, o + 16 + 80, h << 16)
      o += 100
    }
    be32w(b, o, 8 + mdatLen); typ4(b, o + 4, "mdat")
    b
  }

  test("MP4 metadata: box walk — brand, mvhd duration (v0+v1), track count, 16.16 dims, mdat skipped") {
    val m = Multimodal.decodeMp4Meta(mp4(2, 1000, 7400, 640, 360, mdatLen = 17)).get
    assert(m.majorBrand == "isom" && m.durationMs == 7400, s"v0 mvhd: $m")
    assert(m.nTracks == 2 && m.width == 640 && m.height == 360, s"tracks/dims: $m")
    // timescale arithmetic: 90 kHz clock, 90000 ticks = 1000 ms
    val clk = Multimodal.decodeMp4Meta(mp4(1, 90000, 90000, 320, 240)).get
    assert(clk.durationMs == 1000, s"timescale division: $clk")
    // version-1 mvhd (64-bit fields) parses too
    val v1 = Multimodal.decodeMp4Meta(mp4(1, 1000, 5000, 100, 50, v1Mvhd = true)).get
    assert(v1.durationMs == 5000 && v1.nTracks == 1, s"v1 mvhd: $v1")
  }

  test("MP4 metadata: malformed containers reject, never throw") {
    // not an mp4 at all / text
    assert(Multimodal.decodeMp4Meta("plain text payload here".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeMp4Meta(Array.emptyByteArray).isEmpty)
    // box size overruns its enclosure
    val over = mp4(1, 1000, 100, 10, 10)
    be32w(over, 16, over.length * 2) // moov claims past EOF
    assert(Multimodal.decodeMp4Meta(over).isEmpty)
    // box smaller than its header
    val tiny = mp4(1, 1000, 100, 10, 10)
    be32w(tiny, 16, 4)
    assert(Multimodal.decodeMp4Meta(tiny).isEmpty)
    // ragged tail (truncated mid-box)
    assert(Multimodal.decodeMp4Meta(mp4(1, 1000, 100, 10, 10).dropRight(3)).isEmpty)
    // no mvhd → not a movie: ftyp + bare mdat only
    val noMoov = new Array[Byte](24)
    be32w(noMoov, 0, 16); typ4(noMoov, 4, "ftyp"); typ4(noMoov, 8, "isom")
    be32w(noMoov, 16, 8); typ4(noMoov, 20, "mdat")
    assert(Multimodal.decodeMp4Meta(noMoov).isEmpty)
    // random bytes never throw (fuzz the dispatch-critical parser)
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val b = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      Multimodal.decodeMp4Meta(b) // must not throw
      Multimodal.decodeMp3Meta(b) // ditto for the MP3 walk
    }
  }

  test("llm_media_mp4: the real box walk reproduces the oracle formula on every document") {
    val dir = TestSpark.sf
    val got = Multimodal.mediaMp4Meta(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    val want = graft.sources.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "n_chars").collect()
      .map { r =>
        val n = r.getLong(1).toInt
        r.getLong(0) -> (("isom", n.toLong * 37, 1 + n % 3,
          16 * (1 + n % 5), 9 * (1 + n % 5)))
      }.toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "parsed MP4 metadata diverges from the synthesized container's closed form")
  }

  test("llm_media_mp3: the real header walk reproduces the oracle formula on every document") {
    // the oracle recomputes (n_frames, duration, tag size) from
    // n_chars; this pins the Spark side against the same closed form,
    // so an oracle mismatch can only mean the SQL text itself drifted
    val dir = TestSpark.sf
    val got = Multimodal.mediaMp3Meta(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getLong(5), r.getInt(6)))).toMap
    val want = graft.sources.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "n_chars").collect()
      .map { r =>
        val n = r.getLong(1).toInt
        val frames = 1 + n % 8
        r.getLong(0) -> ((44100, 128, 1, frames,
          frames.toLong * 1152 * 1000 / 44100, 10 + n % 16))
      }.toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "parsed MP3 metadata diverges from the synthesized stream's closed form")
    assert(got.valuesIterator.forall(_._4 >= 1), "every stream has at least one frame")
  }

  test("real decoders ride the partition-streaming pipeline; unknown bytes keep the stub path") {
    import spark.implicits._
    val img = ppm(2, 2, Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte))
    val snd = wav16(8000, 1, Array.fill[Short](100)(16384))
    val blob = "just some opaque text payload".getBytes("UTF-8")
    // the compressed formats too: each must dispatch to its real
    // decoder inside the executor-side mapPartitions pass
    val flat = Array.fill(16 * 16)(130.toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, img, "image/x-portable-pixmap"),
      Multimodal.MediaRow(2L, snd, "audio/wav"),
      Multimodal.MediaRow(3L, blob, "application/octet-stream"),
      Multimodal.MediaRow(4L, png(16, 16, 1, flat), "image/png"),
      Multimodal.MediaRow(5L, gif(16, 16, Array.fill(256)(1.toByte), 2, 1,
        i => (i * 60, i * 60, i * 60)), "image/gif"),
      Multimodal.MediaRow(6L, jpeg(16, 16, Seq(flat), Array.fill(64)(1)),
        "image/jpeg"),
      Multimodal.MediaRow(7L, jpegProg(16, 16, Seq(flat), Array.fill(64)(1)),
        "image/jpeg")).toDS()
    val out = Multimodal.decodeFeatures(media).collect().map(f => f.doc_id -> f).toMap
    // image: one frame, 4x4 thumbnail of the decoded luma values
    assert(out(1L).n_frames == 1)
    val lumaSet = Set(76, 149, 29, 255).map(v => v / 255f)
    assert(out(1L).features.forall(lumaSet.contains),
      "thumbnail of a 2x2 image must replicate its four luma values")
    // audio: frames = samples; constant amplitude -> every RMS bucket = 0.5
    assert(out(2L).n_frames == 100)
    out(2L).features.foreach(v => assert(math.abs(v - 0.5f) < 1e-3))
    // unknown payload: byte-identical to the original stub behavior
    val frames = Multimodal.sampleFrames(blob, 4)
    assert(out(3L).n_frames == frames.length)
    assert(out(3L).features.sameElements(Multimodal.stubDecode(frames)))
    // PNG/JPEG (baseline and progressive) flat-130 rasters and a
    // constant-60 GIF: real decode (n_frames == 1), thumbnails at the
    // known constant values
    for (id <- Seq(4L, 6L, 7L)) {
      assert(out(id).n_frames == 1, s"doc $id fell to the stub path")
      out(id).features.foreach(v => assert(math.abs(v - 130 / 255f) < 1e-3,
        s"doc $id thumbnail drifted: $v"))
    }
    assert(out(5L).n_frames == 1, "GIF fell to the stub path")
    out(5L).features.foreach(v => assert(math.abs(v - 60 / 255f) < 1e-3))
  }

  test("decode pipeline streams a media table partition-wise") {
    val media = Multimodal.mediaFromDocuments(spark, TestSpark.sf)
    val feats = Multimodal.decodeFeatures(media, frameStride = 4).collect()
    assert(feats.length == media.count())
    feats.foreach { f =>
      assert(f.features.length == Multimodal.FeatureDim)
      assert(f.n_bytes > 0)
      assert(f.n_frames == (f.n_bytes + 3) / 4)
      assert(f.kind == "text/plain")
    }
  }

  test("streaming media decode equals the batch pipeline per micro-batch") {
    // the multimodal streaming leg: decodeFeatures is map-only, so it
    // lifts to a stream unchanged — features for real PNG/WAV/stub
    // payloads arriving over two micro-batches must equal the batch
    // pass over the same rows
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(99123)
    val img = png(9, 6, 3, Array.fill(9 * 6 * 3)(rnd.nextInt(256).toByte), Seq(0, 4))
    val snd = wav16(8000, 1, Array.fill(40)(rnd.nextInt(65536).toShort))
    val blob = Array.fill(64)(rnd.nextInt(256).toByte)
    val rows = Seq(
      Multimodal.MediaRow(1L, img, "image/png"),
      Multimodal.MediaRow(2L, snd, "audio/wav"),
      Multimodal.MediaRow(3L, blob, "application/octet-stream"))
    val want = Multimodal.decodeFeatures(rows.toDS()).collect()
      .map(f => f.doc_id -> (f.n_bytes, f.n_frames, f.features.toSeq)).toMap
    val ms = MemoryStream[Multimodal.MediaRow]
    val q = graft.streaming.Streaming.mediaFeatures(ms.toDS())
      .writeStream.format("memory").queryName("media_feats").outputMode("append").start()
    try {
      ms.addData(rows(0))
      q.processAllAvailable()
      ms.addData(rows(1), rows(2))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_bytes, n_frames, features FROM media_feats")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getInt(2), r.getSeq[Float](3))).toMap
      assert(got == want, "streaming features diverged from the batch pipeline")
    } finally q.stop()
  }
}

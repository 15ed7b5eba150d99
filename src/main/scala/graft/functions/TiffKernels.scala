package graft.functions

/** Baseline TIFF 6.0 pixel decode, pure JVM — no imaging library.
  * Extends the still-image matrix to the document-scan format: with
  * PNG/JPEG/GIF/BMP/PPM/PGM decoded, TIFF was the remaining container
  * a web/document crawl routinely carries.
  *
  * Scope (declared like the other kernels): classic TIFF (both byte
  * orders, magic 42 — not BigTIFF), the FIRST IFD (multi-page files
  * report page 1, the GIF frame-1 curation contract), 8-bit samples,
  * chunky planar layout, strip-organized (tiled files return None),
  * photometric 0 (WhiteIsZero, inverted gray), 1 (BlackIsZero), 2
  * (RGB, 4th alpha sample ignored like the PNG path), 3 (palette —
  * 16-bit ColorMap entries; the exact rational /257 rescale reports
  * them on the 8-bit scale, and bit-replicated entries 257·v decode to
  * exactly v). Compression 1 (none), 32773 (PackBits), and 5 (LZW —
  * MSB-first codes, 9→12-bit growth with TIFF's early change, CLEAR at
  * 256/EOI at 257) with horizontal-predictor support (tag 317 = 2).
  * Sub-byte/16-bit depths, planar configuration 2, tiles, and other
  * compressions return None — a NULL feature row, never a wrong one.
  *
  * Every parse failure returns None rather than throwing: a corrupt
  * blob must cost a NULL feature row, never a task (the
  * [[RasterKernels]] contract). All header arithmetic stays in Long so
  * forged counts/offsets can't wrap a bounds check, and the raster
  * size is capped before any allocation.
  */
object TiffKernels {

  import Decode.{MaxOut, Refused, beU16, beU32, leU16, leU32}

  def decode(b: Array[Byte]): Option[RasterKernels.Raster] = decode(b, null)

  /** Decode with an optional [[RasterKernels.PixelSink]] (round 15):
    * strip-order delivery, image-space coordinates; 16-bit ColorMap
    * entries scale to 8-bit by the exact /257. */
  def decode(b: Array[Byte],
             sink: RasterKernels.PixelSink): Option[RasterKernels.Raster] = {
    if (b == null || b.length < 8) return None
    // any slip in the bounds discipline below degrades to a NULL
    // feature, never a killed executor task (the fuzz spec hunts these)
    try decodeInner(b, sink) catch { case Refused() => None }
  }

  /** A classic TIFF header (byte order `II`/`MM`, magic 42) and its
    * first IFD, as both this decoder and `MediaKernels.imageMeta` read
    * them: `ifd` is the IFD's offset and `entries` its entry count, and
    * all of its entries lie inside the blob. `u16`/`u32` read in the
    * blob's byte order and return -1 past the end, a sentinel every
    * caller range-checks. */
  private[functions] final class Header private (
      b: Array[Byte], little: Boolean, val ifd: Int, val entries: Int) {
    def u16(i: Int): Int = Header.u16(b, little, i)
    def u32(i: Int): Long = Header.u32(b, little, i)
    /** Offset of the first IFD's entry `e`. */
    def entry(e: Int): Int = ifd + 2 + 12 * e
  }

  private[functions] object Header {
    private def u16(b: Array[Byte], little: Boolean, i: Int): Int =
      if (i < 0 || i > b.length - 2) -1
      else if (little) leU16(b, i) else beU16(b, i)
    private def u32(b: Array[Byte], little: Boolean, i: Int): Long =
      if (i < 0 || i > b.length - 4) -1L
      else if (little) leU32(b, i) else beU32(b, i)

    /** `b`'s header, or null when `b` is not classic TIFF or its first
      * IFD does not fit in it. */
    def read(b: Array[Byte]): Header = {
      if (b.length < 8) return null
      val little =
        if (b(0) == 'I' && b(1) == 'I') true
        else if (b(0) == 'M' && b(1) == 'M') false
        else return null
      if (u16(b, little, 2) != 42) return null
      val ifd = u32(b, little, 4)
      if (ifd < 8 || ifd + 2 > b.length) return null
      val n = u16(b, little, ifd.toInt)
      if (n <= 0 || ifd + 2 + 12L * n > b.length) null
      else new Header(b, little, ifd.toInt, n)
    }
  }

  private def decodeInner(b: Array[Byte], sink: RasterKernels.PixelSink)
      : Option[RasterKernels.Raster] = {
    val header = Header.read(b)
    if (header == null) return None
    import header.{u16, u32}

    // one IFD entry's integer values (BYTE/SHORT/LONG), inline when the
    // payload fits in the 4-byte value field, via offset otherwise;
    // counts are capped so a forged entry can't demand unbounded work
    def values(entryAt: Int, cap: Int): Array[Long] = {
      val typ = u16(entryAt + 2)
      val cnt = u32(entryAt + 4)
      val size = typ match {
        case 1 => 1 case 3 => 2 case 4 => 4
        case _ => return null // RATIONAL etc.: not an integer tag we read
      }
      // a zero count is as forged as an oversized one — callers index
      // the first element (found by the round-11 fuzz spec)
      if (cnt < 1 || cnt > cap) return null
      val total = cnt * size
      val at =
        if (total <= 4) entryAt + 8
        else {
          val off = u32(entryAt + 8)
          if (off < 0 || off + total > b.length) return null
          off.toInt
        }
      if (at + total > b.length) return null
      val out = new Array[Long](cnt.toInt)
      var i = 0
      while (i < cnt) {
        out(i) = size match {
          case 1 => (b(at + i) & 0xff).toLong
          case 2 => u16(at + 2 * i).toLong
          case _ => u32(at + 4 * i)
        }
        i += 1
      }
      out
    }

    // walk the first IFD
    var width = -1L; var height = -1L
    var bits: Array[Long] = null
    var compression = 1L
    var photometric = -1L
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    var spp = 1L
    var rowsPerStrip = -1L
    var planar = 1L
    var colorMap: Array[Long] = null
    var predictor = 1L
    var tiled = false
    var e = 0
    while (e < header.entries) {
      val at = header.entry(e)
      val tag = u16(at)
      tag match {
        case 256 => val v = values(at, 1); if (v == null) return None; width = v(0)
        case 257 => val v = values(at, 1); if (v == null) return None; height = v(0)
        case 258 => bits = values(at, 8); if (bits == null) return None
        case 259 => val v = values(at, 1); if (v == null) return None; compression = v(0)
        case 262 => val v = values(at, 1); if (v == null) return None; photometric = v(0)
        case 273 => stripOffsets = values(at, 1 << 16); if (stripOffsets == null) return None
        case 277 => val v = values(at, 1); if (v == null) return None; spp = v(0)
        case 278 => val v = values(at, 1); if (v == null) return None; rowsPerStrip = v(0)
        case 279 => stripCounts = values(at, 1 << 16); if (stripCounts == null) return None
        case 284 => val v = values(at, 1); if (v == null) return None; planar = v(0)
        case 317 => val v = values(at, 1); if (v == null) return None; predictor = v(0)
        case 320 => colorMap = values(at, 3 * 256); if (colorMap == null) return None
        case 322 | 323 | 324 | 325 => tiled = true // tile tags: out of scope
        case _ => () // every other tag is skipped
      }
      e += 1
    }

    if (tiled || planar != 1) return None
    if (width <= 0 || height <= 0) return None
    if (photometric < 0 || photometric > 3) return None
    if (compression != 1 && compression != 5 && compression != 32773) return None
    if (predictor != 1 && predictor != 2) return None
    if (predictor == 2 && compression == 1) return None // predictor needs a codec
    // 8-bit samples only, and the sample count must match the photometric
    if (bits == null || bits.isEmpty || bits.exists(_ != 8L)) return None
    val nSamples = spp.toInt
    photometric match {
      case 0 | 1 => if (nSamples != 1) return None
      case 2 => if (nSamples != 3 && nSamples != 4) return None
      case 3 =>
        if (nSamples != 1) return None
        if (colorMap == null || colorMap.length != 3 * 256) return None
    }
    if (stripOffsets == null || stripCounts == null ||
        stripOffsets.length != stripCounts.length) return None
    val rps = if (rowsPerStrip <= 0 || rowsPerStrip > height) height else rowsPerStrip
    val nStrips = ((height + rps - 1) / rps).toInt
    if (stripOffsets.length != nStrips) return None
    val rowBytes = width * nSamples
    if (rowBytes <= 0 || height > MaxOut / rowBytes) return None

    val w = width.toInt
    val h = height.toInt
    if (sink != null && !sink.begin(w, h)) return None
    var sr = 0L; var sg = 0L; var sb = 0L
    val strip = new Array[Byte]((rps * rowBytes).toInt)

    var s = 0
    var rowsDone = 0
    while (s < nStrips) {
      val rows = math.min(rps, height - rowsDone).toInt
      val need = rows * rowBytes.toInt
      val off = stripOffsets(s)
      val cnt = stripCounts(s)
      if (off < 0 || cnt < 0 || off + cnt > b.length) return None
      val got = compression match {
        case 1 =>
          if (cnt < need) return None
          System.arraycopy(b, off.toInt, strip, 0, need)
          need
        case 32773 => unpackBits(b, off.toInt, cnt.toInt, strip, need)
        case _ => lzw(b, off.toInt, cnt.toInt, strip, need)
      }
      if (got < need) return None
      if (predictor == 2) { // horizontal differencing, per row per sample
        var r = 0
        while (r < rows) {
          var i = r * rowBytes.toInt + nSamples
          val end = (r + 1) * rowBytes.toInt
          while (i < end) {
            strip(i) = (strip(i) + strip(i - nSamples)).toByte
            i += 1
          }
          r += 1
        }
      }
      // accumulate channel sums (+ round-15 pixel sink: pixel index
      // within the strip is i/nSamples, image row = rowsDone + /w)
      var i = 0
      val end = need
      var pi = 0 // pixel index within this strip
      while (i < end) {
        var pr = 0; var pg = 0; var pb = 0
        photometric match {
          case 0 =>
            val g = 255 - (strip(i) & 0xff); sr += g; sg += g; sb += g
            pr = g; pg = g; pb = g
          case 1 =>
            val g = strip(i) & 0xff; sr += g; sg += g; sb += g
            pr = g; pg = g; pb = g
          case 3 =>
            val idx = strip(i) & 0xff
            sr += colorMap(idx)
            sg += colorMap(256 + idx)
            sb += colorMap(512 + idx)
            pr = (colorMap(idx) / 257).toInt
            pg = (colorMap(256 + idx) / 257).toInt
            pb = (colorMap(512 + idx) / 257).toInt
          case _ =>
            pr = strip(i) & 0xff
            pg = strip(i + 1) & 0xff
            pb = strip(i + 2) & 0xff
            sr += pr; sg += pg; sb += pb
        }
        if (sink != null) sink.add(pi % w, rowsDone + pi / w, pr, pg, pb)
        pi += 1
        i += nSamples
      }
      rowsDone += rows
      s += 1
    }

    val np = width * height
    // palette sums are 16-bit ColorMap values: exact /257 to 8-bit scale
    val scale = if (photometric == 3) 257.0 else 1.0
    Some(RasterKernels.Raster(w, h,
      sr.toDouble / (np * scale), sg.toDouble / (np * scale),
      sb.toDouble / (np * scale)))
  }

  /** PackBits (TIFF §9): n in 0..127 copies n+1 literals, n in -127..-1
    * repeats the next byte 1−n times, −128 is a no-op. Returns bytes
    * written (< `need` on truncation — the caller fails closed). */
  private def unpackBits(b: Array[Byte], off: Int, len: Int,
                         out: Array[Byte], need: Int): Int = {
    var i = off
    val end = off + len
    var o = 0
    while (i < end && o < need) {
      val n = b(i)
      i += 1
      if (n >= 0) {
        val run = n + 1
        if (i + run > end || o + run > need) return o
        System.arraycopy(b, i, out, o, run)
        i += run
        o += run
      } else if (n != -128) {
        val run = 1 - n
        if (i >= end || o + run > need) return o
        java.util.Arrays.fill(out, o, o + run, b(i))
        i += 1
        o += run
      }
    }
    o
  }

  /** TIFF LZW (§14): 8-bit alphabet, CLEAR = 256, EOI = 257, codes
    * packed MSB-first growing 9→12 bits with EARLY change (the width
    * bumps when the next-to-assign code reaches 2^width − 1 — one code
    * earlier than GIF). Dictionary as prefix links, KwKwK handled.
    * Returns bytes written; structural damage (code beyond the
    * dictionary, width overflow, missing EOI before exhaustion) simply
    * stops short and the caller fails closed. */
  private def lzw(b: Array[Byte], off: Int, len: Int,
                  out: Array[Byte], need: Int): Int = {
    val Clear = 256
    val Eoi = 257
    val maxDict = 1 << 12
    val prefix = new Array[Int](maxDict)
    val append = new Array[Byte](maxDict)
    val firstByte = new Array[Byte](maxDict)
    var next = Eoi + 1
    var width = 9
    var prev = -1
    var acc = 0L
    var bits = 0
    var i = off
    val end = off + len
    var o = 0
    val stack = new Array[Byte](maxDict)

    def emitChain(code: Int): Boolean = {
      if (code < 256) {
        if (o >= need) return false
        out(o) = code.toByte
        o += 1
        true
      } else {
        var sp = 0
        var c = code
        while (c >= Eoi + 1) { stack(sp) = append(c); sp += 1; c = prefix(c) }
        if (c >= 256) return false // chain must bottom out at a literal
        if (o + sp + 1 > need) return false
        out(o) = c.toByte
        o += 1
        while (sp > 0) { sp -= 1; out(o) = stack(sp); o += 1 }
        true
      }
    }

    while (o < need) {
      while (bits < width) {
        if (i >= end) return o // truncated stream
        acc = (acc << 8) | (b(i) & 0xffL)
        bits += 8
        i += 1
      }
      val code = ((acc >>> (bits - width)) & ((1L << width) - 1)).toInt
      bits -= width
      if (code == Clear) { next = Eoi + 1; width = 9; prev = -1 }
      else if (code == Eoi) return o
      else if (prev < 0) {
        if (code >= 256) return o // first code after CLEAR must be a literal
        if (!emitChain(code)) return o
        firstByte(code) = code.toByte
        prev = code
      } else {
        if (code > next || code == Eoi || code == Clear) return o
        val head: Byte =
          if (code == next) (if (prev < 256) prev.toByte else firstByte(prev))
          else if (code < 256) code.toByte
          else firstByte(code)
        if (next < maxDict) {
          prefix(next) = prev
          append(next) = head
          firstByte(next) = if (prev < 256) prev.toByte else firstByte(prev)
          next += 1
          // TIFF early change: grow one code before the table fills
          if (next == (1 << width) - 1 && width < 12) width += 1
        }
        if (!emitChain(code)) return o
        prev = code
      }
    }
    o
  }
}

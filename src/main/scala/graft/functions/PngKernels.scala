package graft.functions

import java.util.zip.{DataFormatException, Inflater}

/** Baseline PNG (ISO/IEC 15948) pixel decode, pure JVM — no imaging
  * library. DEFLATE is the JDK's own `java.util.zip.Inflater` (raw
  * mode: the 2-byte zlib wrapper is parsed here, the Adler32 trailer is
  * not re-verified — same stance as the chunk CRCs below); scanline
  * reconstruction (the five PNG filters None/Sub/Up/Average/Paeth,
  * §9 of the spec) is implemented directly. Extends the
  * [[RasterKernels]] still-image family: PNG was previously
  * header-metadata only (the `image_meta` kernel).
  *
  * Scope: EVERY legal (color type, bit depth) pair of §11.2.2 —
  * gray (type 0) at 1/2/4/8/16 bits, RGB (2) and gray+alpha (4) and
  * RGBA (6) at 8/16, palette (3) at 1/2/4/8 — in both non-interlaced
  * and Adam7-interlaced (§8.2) layouts. Illegal pairs (16-bit palette,
  * sub-byte truecolor/alpha) are refused as the spec violations they
  * are; a type-3 stream with a missing/short PLTE or an index past the
  * palette end returns None — a NULL feature row, never a wrong one.
  * Alpha weighs nothing: means are over the color channels exactly as
  * the BMP/PPM/JPEG paths report them. Sample scaling to the 8-bit
  * range is EXACT at every depth: sub-byte gray multiplies by the
  * integer 255/(2^d−1) (255, 85, 17); 16-bit channel sums divide by
  * the exact rational 257 (65535/255) only at the final division, so
  * a 16-bit sample that bit-replicates an 8-bit value (v = 257·a)
  * contributes exactly `a`. Adam7 needs no deinterlaced raster here:
  * each pass is defiltered independently and every pixel lives in
  * exactly one pass, so the channel sums accumulate pass by pass.
  *
  * Integrity: chunk CRC32s and the zlib Adler32 are NOT re-verified —
  * bit-rot detection belongs to the storage layer (parquet page
  * checksums); structural damage still fails closed through the
  * Inflater and the exact-length contract below. Every parse failure
  * returns None rather than throwing: a corrupt blob must cost a NULL
  * row, never a task.
  */
object PngKernels {

  import Decode.{MaxOut, beI32}

  private val Magic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  def decode(b: Array[Byte]): Option[RasterKernels.Raster] = decode(b, null)

  /** Decode with an optional [[RasterKernels.PixelSink]] (round 15):
    * pixels are delivered in pass order with IMAGE-SPACE coordinates
    * (Adam7 sub-image positions mapped back through the pass grid). */
  def decode(b: Array[Byte],
             sink: RasterKernels.PixelSink): Option[RasterKernels.Raster] = {
    // magic + IHDR (must be the first chunk, per spec) + room for IEND
    if (b == null || b.length < 8 + 25 + 12) return None
    var i = 0
    while (i < 8) { if (b(i) != Magic(i)) return None; i += 1 }
    if (beI32(b, 8) != 13 || b(12) != 'I' || b(13) != 'H' ||
        b(14) != 'D' || b(15) != 'R') return None
    val width = beI32(b, 16).toLong
    val height = beI32(b, 20).toLong
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val compression = b(26) & 0xff
    val filterMethod = b(27) & 0xff
    val interlace = b(28) & 0xff
    val channels = colorType match {
      case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4
      case _ => return None // invalid color type
    }
    // §11.2.2 legal (type, depth) pairs — 16-bit palette and sub-byte
    // truecolor/alpha are spec violations, refused outright
    val depthOk = colorType match {
      case 0 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
        bitDepth == 8 || bitDepth == 16
      case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 || bitDepth == 8
      case _ => bitDepth == 8 || bitDepth == 16
    }
    if (!depthOk) return None
    if (width <= 0L || height <= 0L ||
        compression != 0 || filterMethod != 0 || interlace > 1) return None
    // bits per pixel; scanlines are ceil(w·bpb/8) bytes with trailing
    // pad bits, and the filter byte distance is the BYTE-rounded pixel
    // size (§9.2: "rounding up to one")
    val bitsPerPx = channels * bitDepth
    def rowBytesOf(w: Long): Long = (w * bitsPerPx + 7) / 8
    // Adam7 (§8.2): 7 sub-images, each independently filtered; every
    // pixel of the full image appears in EXACTLY ONE pass, so channel
    // sums can accumulate per pass without materializing the
    // deinterlaced raster. (xStart, yStart, xStep, yStep) per pass.
    // (passW, passH, x0, y0, dx, dy) — the origin/stride ride along so
    // the pixel sink can map sub-image positions back to image space
    val passes: Array[(Long, Long, Long, Long, Long, Long)] =
      if (interlace == 0) Array((width, height, 0L, 0L, 1L, 1L))
      else {
        val grid = Array((0L, 0L, 8L, 8L), (4L, 0L, 8L, 8L), (0L, 4L, 4L, 8L),
          (2L, 0L, 4L, 4L), (0L, 2L, 2L, 4L), (1L, 0L, 2L, 2L), (0L, 1L, 1L, 2L))
        grid.map { case (x0, y0, dx, dy) =>
          (((width - x0 + dx - 1) / dx).max(0L),
            ((height - y0 + dy - 1) / dy).max(0L), x0, y0, dx, dy)
        }.filter { case (pw, ph, _, _, _, _) => pw > 0 && ph > 0 }
      }
    // raw size is declared by the IHDR before any inflate happens, so a
    // zip-bomb IDAT can never allocate more than MaxOut; Long math
    // so crafted dimensions can't overflow the check
    var rawLenL = 0L
    passes.foreach { case (pw, ph, _, _, _, _) =>
      val rb = rowBytesOf(pw)
      if (rb > MaxOut - 1 || ph > MaxOut / (rb + 1)) return None
      rawLenL += ph * (rb + 1)
      if (rawLenL > MaxOut) return None
    }
    val rawLen = rawLenL.toInt

    // chunk walk: concatenate every IDAT payload (ONE zlib stream,
    // split arbitrarily across chunks), stop at IEND
    var pos = 8 + 25
    var idatLen = 0
    val idatAt = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var plteAt = -1; var plteLen = 0
    var sawEnd = false
    while (!sawEnd) {
      if (pos + 8 > b.length) return None
      val len = beI32(b, pos)
      if (len < 0 || pos + 12L + len > b.length) return None
      val t0 = b(pos + 4); val t1 = b(pos + 5)
      val t2 = b(pos + 6); val t3 = b(pos + 7)
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        idatAt += ((pos + 8, len)); idatLen += len
      } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
        if (plteAt >= 0) return None // at most one PLTE, per spec
        plteAt = pos + 8; plteLen = len
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D')
        sawEnd = true
      pos += 12 + len // length + type + payload + CRC (not re-verified)
    }
    if (idatLen < 3) return None // zlib header + at least one block byte
    // type 3 needs a well-formed palette: 1..256 RGB triples
    if (colorType == 3 &&
        (plteAt < 0 || plteLen < 3 || plteLen > 768 || plteLen % 3 != 0))
      return None

    // zlib wrapper: CM must be DEFLATE, a preset dictionary (FDICT)
    // cannot be honored — then raw-inflate the concatenated payload
    val zlib = new Array[Byte](idatLen)
    var off = 0
    idatAt.foreach { case (at, len) =>
      System.arraycopy(b, at, zlib, off, len); off += len
    }
    if ((zlib(0) & 0x0f) != 8 || (zlib(1) & 0x20) != 0) return None
    val raw = new Array[Byte](rawLen)
    val inf = new Inflater(true)
    try {
      inf.setInput(zlib, 2, idatLen - 2)
      var got = 0
      var stalled = false
      while (got < rawLen && !inf.finished() && !stalled) {
        val n = try inf.inflate(raw, got, rawLen - got)
        catch { case _: DataFormatException => return None }
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true // truncated or dictionary-dependent stream
        got += n
      }
      if (got < rawLen) return None // stream shorter than the IHDR promise
    } finally inf.end()

    // Per-pass scanline reconstruction + channel accumulation. The five
    // filters operate on BYTES with bpp = the byte-rounded pixel size
    // (§9.2 — at 16-bit depth the "corresponding byte of the prior
    // pixel" is 2·channels back; at sub-byte depths it is the previous
    // byte). Each Adam7 sub-image is filtered independently (§8.2), and
    // since every pixel lives in exactly one pass the sums need no
    // deinterlaced raster.
    val bpp = (bitsPerPx + 7) / 8
    val sampleBytes = bitDepth / 8 // 0 at sub-byte depths
    // channel sums; alpha never contributes. 16-bit sums stay exact in
    // Long (≤ 2^27 pixels · 65535 < 2^43) and are scaled to the 8-bit
    // range by the exact rational /257 only at the final division.
    var sr = 0L; var sg = 0L; var sb = 0L
    def s16(p: Int): Long = (((raw(p) & 0xff) << 8) | (raw(p + 1) & 0xff)).toLong
    if (sink != null && !sink.begin(width.toInt, height.toInt)) return None
    var passOff = 0
    passes.foreach { case (pwL, phL, px0, py0, pdx, pdy) =>
      val pw = pwL.toInt; val ph = phL.toInt
      val rowBytes = rowBytesOf(pwL).toInt
      val stride = rowBytes + 1
      var r = 0
      while (r < ph) {
        val rowStart = passOff + r * stride + 1
        val ft = raw(rowStart - 1) & 0xff
        if (ft > 4) return None
        if (ft != 0) {
          var x = 0
          while (x < rowBytes) {
            val idx = rowStart + x
            val a = if (x >= bpp) raw(idx - bpp) & 0xff else 0
            val up = if (r > 0) raw(idx - stride) & 0xff else 0
            val c = if (r > 0 && x >= bpp) raw(idx - stride - bpp) & 0xff else 0
            val pred = ft match {
              case 1 => a
              case 2 => up
              case 3 => (a + up) / 2
              case 4 => // Paeth §9.4: nearest of a/up/c to a+up-c, ties a>up>c
                val p = a + up - c
                val pa = math.abs(p - a); val pb = math.abs(p - up)
                val pc = math.abs(p - c)
                if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            }
            raw(idx) = ((raw(idx) & 0xff) + pred).toByte
            x += 1
          }
        }
        r += 1
      }
      if (bitDepth < 8) {
        // packed samples, MSB-first within each byte; trailing row bits
        // are padding. Gray scales to the 8-bit range EXACTLY —
        // 255/(2^d−1) is an integer (255, 85, 17) — palette indexes are
        // used as-is through the PLTE lookup.
        val mask = (1 << bitDepth) - 1
        val grayScale = 255 / mask
        r = 0
        while (r < ph) {
          val rowStart = passOff + r * stride + 1
          val iy = (py0 + r * pdy).toInt
          var x = 0
          while (x < pw) {
            val bitPos = x * bitDepth
            val v = (raw(rowStart + (bitPos >> 3)) >> (8 - bitDepth - (bitPos & 7))) & mask
            if (colorType == 0) {
              val g = v * grayScale; sr += g; sg += g; sb += g
              if (sink != null) sink.add((px0 + x * pdx).toInt, iy, g, g, g)
            } else {
              val idx = v * 3
              // index past the palette end is a spec violation: NULL
              // row, never a read of whatever chunk follows PLTE
              if (idx + 2 >= plteLen) return None
              val pr = b(plteAt + idx) & 0xff
              val pg = b(plteAt + idx + 1) & 0xff
              val pb = b(plteAt + idx + 2) & 0xff
              sr += pr; sg += pg; sb += pb
              if (sink != null) sink.add((px0 + x * pdx).toInt, iy, pr, pg, pb)
            }
            x += 1
          }
          r += 1
        }
      } else {
        r = 0
        while (r < ph) {
          var p = passOff + r * stride + 1
          val iy = (py0 + r * pdy).toInt
          var x = 0
          while (x < pw) {
            val ix = if (sink != null) (px0 + x * pdx).toInt else 0
            colorType match {
              case 0 | 4 =>
                if (sampleBytes == 1) {
                  val g = raw(p) & 0xff; sr += g; sg += g; sb += g
                  if (sink != null) sink.add(ix, iy, g, g, g)
                } else {
                  val g = s16(p); sr += g; sg += g; sb += g
                  if (sink != null) {
                    val g8 = (g / 257L).toInt // exact 16→8 on full scale
                    sink.add(ix, iy, g8, g8, g8)
                  }
                }
              case 3 =>
                val idx = (raw(p) & 0xff) * 3
                // index past the palette end is a spec violation: NULL
                // row, never a read of whatever chunk follows PLTE
                if (idx + 2 >= plteLen) return None
                val pr = b(plteAt + idx) & 0xff
                val pg = b(plteAt + idx + 1) & 0xff
                val pb = b(plteAt + idx + 2) & 0xff
                sr += pr; sg += pg; sb += pb
                if (sink != null) sink.add(ix, iy, pr, pg, pb)
              case _ =>
                if (sampleBytes == 1) {
                  val pr = raw(p) & 0xff; val pg = raw(p + 1) & 0xff
                  val pb = raw(p + 2) & 0xff
                  sr += pr; sg += pg; sb += pb
                  if (sink != null) sink.add(ix, iy, pr, pg, pb)
                } else {
                  val pr = s16(p); val pg = s16(p + 2); val pb = s16(p + 4)
                  sr += pr; sg += pg; sb += pb
                  if (sink != null)
                    sink.add(ix, iy, (pr / 257L).toInt, (pg / 257L).toInt,
                      (pb / 257L).toInt)
                }
            }
            p += bpp
            x += 1
          }
          r += 1
        }
      }
      passOff += ph * stride
    }
    val n = width * height
    val scale = if (bitDepth == 16) 257.0 else 1.0
    Some(RasterKernels.Raster(width.toInt, height.toInt,
      sr.toDouble / (n * scale), sg.toDouble / (n * scale),
      sb.toDouble / (n * scale)))
  }
}

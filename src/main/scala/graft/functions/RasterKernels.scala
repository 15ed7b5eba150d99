package graft.functions

/** Pixel decode for still rasters — uncompressed 24-bit BI_RGB BMP,
  * binary PPM (P6), binary PGM (P5 grayscale, reported as equal
  * R=G=B), baseline-sequential JPEG (dispatched to [[JpegKernels]],
  * round 8 — no codec library, pure T.81 math), 8-bit non-interlaced
  * PNG (dispatched to [[PngKernels]], round 9 — JDK Inflater + the
  * five scanline filters, no imaging library), GIF87a/89a
  * (dispatched to [[GifKernels]], round 9 — variable-width LZW
  * implemented directly), and baseline TIFF (dispatched to
  * [[TiffKernels]], round 11 — strips, PackBits/LZW). This
  * is the REAL decode path of [[graft.operators.Multimodal]]:
  * mean-RGB + dimensions come from actual pixel iteration, shrinking
  * the honest decode stub to VIDEO pixel data only. Replaces nothing
  * in the reference (its scrapers never touch pixels); this is the
  * LLM-pipeline image-featurization primitive.
  *
  * Every parse failure — wrong magic, unsupported bpp/compression,
  * truncated header or pixel data — returns None rather than throwing:
  * a corrupt blob must cost a NULL feature row, never a task.
  */
object RasterKernels {

  import Decode.{leI32, leU16}

  /** Decoded summary: dimensions + per-channel pixel means (exact
    * IEEE-double sums over every pixel / pixel count). */
  final case class Raster(width: Int, height: Int,
                          meanR: Double, meanG: Double, meanB: Double)

  /** Per-pixel consumer for the codec decoders (round 15): the
    * pixel-sink mode that lets [[PHashKernels.dhash64]] hash what a
    * crawl actually contains (PNG/JPEG/GIF/TIFF) instead of only
    * uncompressed rasters. Contract:
    *
    *  - `begin(w, h)` is called once, after the header is validated
    *    and BEFORE any pixel; returning false aborts the decode (the
    *    caller sees None — e.g. an image too small for a 9×8 grid).
    *  - `add` receives every pixel exactly once with 8-bit integer
    *    channels and IMAGE-SPACE coordinates (PNG Adam7 passes and
    *    GIF interlacing are mapped back; BMP orientation honored by
    *    its decoder). Arrival ORDER is decoder-defined — consumers
    *    must be order-invariant (the dHash grid accumulator is).
    *  - 16-bit samples (PNG, TIFF palette) scale to 8-bit by floor
    *    division /257 (65535→255, exact on full-scale values), the
    *    same rational the mean paths use.
    *
    * The mean-summing `decode` paths are untouched (sink == null costs
    * one branch per pixel); this keeps the r14-pinned mean/feature
    * oracles byte-identical while exposing real pixels. */
  trait PixelSink {
    def begin(w: Int, h: Int): Boolean
    def add(x: Int, y: Int, r: Int, g: Int, b: Int): Unit
  }

  /** Decode `bytes` INTO `sink` (codec formats: JPEG, PNG, GIF first
    * frame, TIFF, VP8L lossless WebP). Returns true iff the blob fully decoded and every
    * pixel was delivered. PPM/PGM/BMP are not routed here —
    * [[PHashKernels]] keeps its own stricter exact-framing paths for
    * those, and the mean path never needs a sink. */
  def decodeTo(bytes: Array[Byte], sink: PixelSink): Boolean = {
    if (bytes == null || bytes.length < 2 || sink == null) return false
    val r =
      if (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte)
        JpegKernels.decode(bytes, sink)
      else if (bytes(0) == 0x89.toByte && bytes(1) == 'P')
        PngKernels.decode(bytes, sink)
      else if (bytes(0) == 'G' && bytes(1) == 'I')
        GifKernels.decode(bytes, sink)
      else if ((bytes(0) == 'I' && bytes(1) == 'I') ||
               (bytes(0) == 'M' && bytes(1) == 'M'))
        TiffKernels.decode(bytes, sink)
      else if (bytes(0) == 'R' && bytes(1) == 'I')
        WebpKernels.decode(bytes, sink) // VP8L lossless (round 16)
      else None
    r.isDefined
  }

  def decode(bytes: Array[Byte]): Option[Raster] =
    if (bytes == null || bytes.length < 2) None
    else if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes(0) == 'P' && bytes(1) == '6') decodePnm(bytes, rgb = true)
    else if (bytes(0) == 'P' && bytes(1) == '5') decodePnm(bytes, rgb = false)
    else if (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte)
      JpegKernels.decode(bytes) // baseline sequential JPEG (round 8)
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P')
      PngKernels.decode(bytes) // 8-bit non-interlaced PNG (round 9)
    else if (bytes(0) == 'G' && bytes(1) == 'I')
      GifKernels.decode(bytes) // GIF87a/89a LZW, first frame (round 9)
    else if ((bytes(0) == 'I' && bytes(1) == 'I') ||
             (bytes(0) == 'M' && bytes(1) == 'M'))
      TiffKernels.decode(bytes) // baseline TIFF strips (round 11)
    else if (bytes(0) == 'R' && bytes(1) == 'I')
      WebpKernels.decode(bytes) // VP8L lossless WebP (round 16)
    else None

  /** BMP: 14-byte file header + BITMAPINFOHEADER(>=40), 24 bpp, BI_RGB
    * (no compression) only. Rows are 4-byte padded, bottom-up when the
    * stored height is positive, top-down when negative — means are
    * row-order-invariant but the loop honors the padded row stride.
    */
  private def decodeBmp(b: Array[Byte]): Option[Raster] = {
    if (b.length < 54) return None
    // every header field is attacker-controlled i32 — all derived
    // arithmetic stays in Long so no sum/product/abs can wrap back into
    // a passing bounds check (e.g. 14+dibSize overflowing negative, or
    // heightRaw=Int.MinValue surviving a 32-bit abs as negative)
    val dataOffset = leI32(b, 10).toLong
    val dibSize = leI32(b, 14).toLong
    val width = leI32(b, 18).toLong
    val heightRaw = leI32(b, 22).toLong
    val bpp = leU16(b, 28)
    val compression = leI32(b, 30)
    val height = math.abs(heightRaw)
    if (dibSize < 40L || width <= 0L || height == 0L || bpp != 24 ||
        compression != 0 || dataOffset < 14L + dibSize) return None
    // anything wider than the blob itself can't fit
    if (width > b.length) return None
    val rowSize = ((3L * width + 3L) / 4L) * 4L
    // division-form bound: `dataOffset + rowSize*height <= length`
    // without the multiply — rowSize*height can overflow even Long for
    // ~2 GB blobs with crafted square dimensions
    if (dataOffset > b.length || height > (b.length - dataOffset) / rowSize)
      return None
    var sr = 0L; var sg = 0L; var sb = 0L
    var r = 0
    while (r < height) {
      // need <= b.length < 2^31, so every index below fits an Int
      var base = (dataOffset + r * rowSize).toInt
      var x = 0
      while (x < width) {
        sb += b(base) & 0xff
        sg += b(base + 1) & 0xff
        sr += b(base + 2) & 0xff
        base += 3
        x += 1
      }
      r += 1
    }
    val n = width * height
    Some(Raster(width.toInt, height.toInt,
      sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
  }

  /** PPM P6 / PGM P5: ASCII header (magic, width, height, maxval, each
    * separated by whitespace, `#` comments allowed) followed by ONE
    * whitespace byte and then width*height RGB triplets (P6) or gray
    * bytes (P5, reported as equal R=G=B means). Only maxval 255 (1 byte
    * per sample) is supported.
    */
  private def decodePnm(b: Array[Byte], rgb: Boolean): Option[Raster] = {
    var pos = 2
    def skipSpaceAndComments(): Boolean = {
      var progressed = false
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
            c == 0x0b) { pos += 1; progressed = true }
        else if (c == '#') {
          while (pos < b.length && b(pos) != '\n') pos += 1
          progressed = true
        } else go = false
      }
      progressed
    }
    def readInt(): Int = {
      if (!skipSpaceAndComments()) return -1
      var v = 0L
      var digits = 0
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
        v = v * 10 + (b(pos) - '0')
        if (v > Int.MaxValue) return -1
        digits += 1
        pos += 1
      }
      if (digits == 0) -1 else v.toInt
    }
    val width = readInt()
    val height = readInt()
    val maxval = readInt()
    if (width <= 0 || height <= 0 || maxval != 255) return None
    // exactly one whitespace byte separates the header from pixel data
    if (pos >= b.length) return None
    val sep = b(pos)
    if (!(sep == ' ' || sep == '\t' || sep == '\n' || sep == '\r')) return None
    pos += 1
    val n = width.toLong * height
    val perPx = if (rgb) 3L else 1L
    // division-form bound: `pos + perPx*n <= length` without the
    // multiply — 3*n overflows Long for crafted i32-max dimensions
    // (readInt admits up to Int.MaxValue for each), which would wrap
    // the check negative and run the pixel loop off the array
    if (n > (b.length - pos) / perPx) return None
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0L
    var p = pos
    while (i < n) {
      if (rgb) {
        sr += b(p) & 0xff
        sg += b(p + 1) & 0xff
        sb += b(p + 2) & 0xff
        p += 3
      } else {
        val g = b(p) & 0xff
        sr += g; sg += g; sb += g
        p += 1
      }
      i += 1
    }
    Some(Raster(width, height, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
  }
}

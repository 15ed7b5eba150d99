package graft.functions

/** GIF (87a/89a) pixel decode, pure JVM — a direct implementation of
  * the variable-width LZW scheme of the GIF specification, appendix F
  * (public document, CompuServe 1990). Completes the still-image
  * matrix: with PNG (round 9) and JPEG (round 8) decoded, GIF was the
  * last format where the `image_meta` kernel could read
  * dimensions but [[RasterKernels]] could not produce pixels.
  *
  * Scope: [[decode]] reports the FIRST image of the stream (the
  * one-summary-per-blob curation contract), and [[frames]] (round 11)
  * walks EVERY image of an animated stream with its Graphic Control
  * Extension state — per-frame geometry, delay, disposal, transparency
  * count, palette-resolved means. Both paths: global or
  * local color table, interlaced or sequential row order (row order
  * does not move channel MEANS, but interlacing is still honored so a
  * future per-pixel feature inherits correct geometry — rows are
  * written to their de-interlaced positions), transparent pixels
  * counted like any other (they carry palette color). Sub-block
  * framing, DEFERRED clear codes, code-width growth 3→12 bits, and
  * the (code == next) KwKwK case are all per spec.
  *
  * Every structural failure — truncated stream, code beyond the
  * dictionary, missing color table, pixel count short of
  * width×height — returns None: a corrupt blob costs a NULL feature
  * row, never a task.
  */
object GifKernels {

  import Decode.{MaxOut, leU16}

  def decode(b: Array[Byte]): Option[RasterKernels.Raster] = decode(b, null)

  /** Decode the first frame with an optional [[RasterKernels.PixelSink]]
    * (round 15): de-interlaced image-space coordinates, transparent
    * pixels delivered with their palette color (the single-frame
    * stance the means take). */
  def decode(b: Array[Byte],
             sink: RasterKernels.PixelSink): Option[RasterKernels.Raster] = {
    if (b == null || b.length < 13) return None
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    val packed = b(10) & 0xff
    var pos = 13
    var globalTable = -1 // offset of the global color table, -1 = none
    var globalSize = 0
    if ((packed & 0x80) != 0) {
      globalSize = 2 << (packed & 0x07)
      globalTable = pos
      pos += 3 * globalSize
      if (pos > b.length) return None
    }

    // walk blocks to the FIRST image descriptor, skipping extensions
    while (true) {
      if (pos >= b.length) return None
      (b(pos) & 0xff) match {
        case 0x3b => return None // trailer before any image
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          var len = if (pos < b.length) b(pos) & 0xff else return None
          while (len != 0) {
            pos += 1 + len
            if (pos >= b.length) return None
            len = b(pos) & 0xff
          }
          pos += 1 // the terminating 0 byte
        case 0x2c => // image descriptor
          if (pos + 10 > b.length) return None
          val w = leU16(b, pos + 5)
          val h = leU16(b, pos + 7)
          val ipacked = b(pos + 9) & 0xff
          val interlaced = (ipacked & 0x40) != 0
          pos += 10
          var table = globalTable
          var tableSize = globalSize
          if ((ipacked & 0x80) != 0) { // local color table wins
            tableSize = 2 << (ipacked & 0x07)
            table = pos
            pos += 3 * tableSize
          }
          if (w <= 0 || h <= 0 || table < 0 || pos > b.length) return None
          // 1 byte/px, declared before any LZW output: no balloon
          if (w.toLong * h > MaxOut) return None
          return decodeImage(b, pos, w, h, interlaced, table, tableSize,
            sink)
        case _ => return None // not a valid block introducer
      }
    }
    None // unreachable
  }

  /** De-interlace pass order and row strides per GIF89a appendix E. */
  private val InterlaceStart = Array(0, 4, 2, 1)
  private val InterlaceStep = Array(8, 8, 4, 2)

  private def decodeImage(b: Array[Byte], start: Int, w: Int, h: Int,
                          interlaced: Boolean, table: Int, tableSize: Int,
                          sink: RasterKernels.PixelSink)
      : Option[RasterKernels.Raster] =
    decodeFrameCore(b, start, w, h, interlaced, table, tableSize, -1, sink)
      .map { case (mr, mg, mb, _, _) => RasterKernels.Raster(w, h, mr, mg, mb) }

  /** One frame's LZW data from `start` (the min-code byte) through its
    * block terminator: returns (meanR, meanG, meanB, transparentPx,
    * position AFTER the terminator) so [[frames]] can walk on. The
    * transparent index affects only the count — transparent pixels
    * still contribute their palette color to the means, the declared
    * single-frame stance. */
  private def decodeFrameCore(b: Array[Byte], start: Int, w: Int, h: Int,
                              interlaced: Boolean, table: Int,
                              tableSize: Int, transparentIdx: Int,
                              sink: RasterKernels.PixelSink = null)
      : Option[(Double, Double, Double, Long, Int)] = {
    if (start >= b.length) return None
    val minCode = b(start) & 0xff
    if (minCode < 2 || minCode > 8) return None
    val nPixels = w * h
    val px = new Array[Byte](nPixels)
    var nOut = 0 // pixels emitted, in stream order

    // interlaced streams emit rows in 4 passes; map stream row -> image
    // row so geometry stays correct for any future per-pixel consumer
    val rowMap = new Array[Int](h)
    if (interlaced) {
      var sr = 0
      for (p <- 0 until 4) {
        var r = InterlaceStart(p)
        while (r < h) { rowMap(sr) = r; sr += 1; r += InterlaceStep(p) }
      }
    } else { var r = 0; while (r < h) { rowMap(r) = r; r += 1 } }

    def emit(v: Int): Boolean = { // false = already full (excess code)
      if (nOut >= nPixels) return false
      val row = rowMap(nOut / w)
      px(row * w + nOut % w) = v.toByte
      nOut += 1
      true
    }

    val clear = 1 << minCode
    val eoi = clear + 1
    // dictionary as prefix links: code -> (prefix code, appended byte);
    // firstByte memoizes the head of each chain for the KwKwK case
    val maxDict = 1 << 12
    val prefix = new Array[Int](maxDict)
    val append = new Array[Byte](maxDict)
    val firstByte = new Array[Byte](maxDict)
    var dictSize = eoi + 1
    var width = minCode + 1
    var prev = -1

    def resetDict(): Unit = { dictSize = eoi + 1; width = minCode + 1; prev = -1 }

    // sub-block-spanning LSB-first bit reader
    var pos = start + 1
    var blockEnd = pos // exclusive end of the current sub-block's data
    var acc = 0L
    var bits = 0
    var ended = false // saw EOI

    def outputCode(code: Int): Boolean = {
      // walk the chain into a scratch stack (max chain length 4096);
      // an emit refusal (more pixels than width×height promised) fails
      // the whole decode — excess data is structural damage here
      if (code < clear) emit(code)
      else {
        val stack = new Array[Byte](4096)
        var sp = 0
        var c = code
        while (c >= clear + 2) { // composite codes
          stack(sp) = append(c); sp += 1; c = prefix(c)
        }
        if (c >= clear) return false // chain must bottom out at a literal
        if (!emit(c)) return false
        while (sp > 0) { sp -= 1; if (!emit(stack(sp) & 0xff)) return false }
        true
      }
    }

    while (!ended) {
      // refill bits across sub-block boundaries
      while (bits < width && !ended) {
        if (pos >= blockEnd) {
          if (pos >= b.length) return None
          val len = b(pos) & 0xff
          if (len == 0) { ended = true } // block terminator: stream over
          else { blockEnd = pos + 1 + len; pos += 1
            if (blockEnd > b.length) return None }
        }
        if (!ended) { acc |= (b(pos).toLong & 0xff) << bits; bits += 8; pos += 1 }
      }
      if (ended) {} // fall through to the completeness check
      else {
        val code = (acc & ((1L << width) - 1)).toInt
        acc >>>= width
        bits -= width
        if (code == clear) resetDict()
        else if (code == eoi) ended = true
        else if (prev < 0) { // first code after (re)start: literal only
          if (code >= clear) return None
          if (!outputCode(code)) return None
          firstByte(code) = code.toByte
          prev = code
        } else {
          if (code > dictSize || code == clear + 1) return None
          val headByte: Int =
            if (code == dictSize) // KwKwK: not yet in the dictionary
              (if (prev < clear) prev else firstByte(prev) & 0xff)
            else if (code < clear) code
            else firstByte(code) & 0xff
          if (dictSize < maxDict) {
            prefix(dictSize) = prev
            append(dictSize) = headByte.toByte
            firstByte(dictSize) =
              if (prev < clear) prev.toByte else firstByte(prev)
            dictSize += 1
            // width grows AFTER the 2^width-th entry exists, capped at 12
            if (dictSize == (1 << width) && width < 12) width += 1
          }
          if (!outputCode(code)) return None
          prev = code
        }
      }
    }
    if (nOut != nPixels) return None

    // EOI can land mid-sub-block — skip any remaining sub-blocks to the
    // 0 terminator so the caller can continue at the next block
    var q = blockEnd
    while (q < b.length && (b(q) & 0xff) != 0) q += 1 + (b(q) & 0xff)
    if (q >= b.length) return None

    // palette lookup + channel sums (+ the round-15 pixel sink: px is
    // already de-interlaced, so i/w and i%w ARE image coordinates)
    if (sink != null && !sink.begin(w, h)) return None
    var sr = 0L; var sg = 0L; var sb = 0L
    var tpx = 0L
    var i = 0
    while (i < nPixels) {
      val idx = px(i) & 0xff
      if (idx >= tableSize) return None
      if (idx == transparentIdx) tpx += 1
      val o = table + 3 * idx
      val pr = b(o) & 0xff; val pg = b(o + 1) & 0xff; val pb = b(o + 2) & 0xff
      sr += pr; sg += pg; sb += pb
      if (sink != null) sink.add(i % w, i / w, pr, pg, pb)
      i += 1
    }
    Some((sr.toDouble / nPixels, sg.toDouble / nPixels,
      sb.toDouble / nPixels, tpx, q + 1))
  }

  /** One animation frame's curation stats: descriptor geometry, the
    * preceding Graphic Control Extension's delay (centiseconds),
    * disposal method and transparent-pixel count, and the frame's
    * palette-resolved channel means. */
  final case class Frame(x: Int, y: Int, w: Int, h: Int, delayCs: Int,
                         disposal: Int, transparentPx: Long,
                         meanR: Double, meanG: Double, meanB: Double)

  /** Crafted streams can't demand unbounded frame decodes. */
  private val MaxFrames = 4096

  /** EVERY frame of an animated GIF (round 11 — [[decode]] keeps its
    * frame-1 single-summary contract for the still-image path). Each
    * frame's indexed pixels are decoded against its own (local or
    * global) palette and reported AS STORED — per-frame means, not a
    * composited playback: disposal methods and transparency describe
    * how a player would blend frames, and both are REPORTED (disposal
    * verbatim, transparency as a pixel count; transparent pixels still
    * carry their palette color in the means, the [[decode]] stance) so
    * a consumer can weigh frames without this kernel inventing
    * rendering semantics. Any structural failure in ANY frame returns
    * None blob-wide — a partial frame list would read as a shorter
    * animation (the [[MediaKernels.mjpegFrames]] contract). */
  def frames(b: Array[Byte]): Option[Vector[Frame]] = frames(b, null)

  /** [[frames]] with an optional per-frame pixel-sink factory (round
    * 16, the video-fingerprint hook): `frameSink(frameIdx, w, h)` is
    * invoked per rendering block and receives that frame's pixels AS
    * STORED (same stance as the stats — no compositing). */
  def frames(b: Array[Byte],
             frameSink: (Int, Int, Int) => RasterKernels.PixelSink)
      : Option[Vector[Frame]] = {
    if (b == null || b.length < 14) return None
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    val packed = b(10) & 0xff
    var pos = 13
    var globalTable = -1
    var globalSize = 0
    if ((packed & 0x80) != 0) {
      globalSize = 2 << (packed & 0x07)
      globalTable = pos
      pos += 3 * globalSize
      if (pos > b.length) return None
    }
    val out = Vector.newBuilder[Frame]
    var nFrames = 0
    // pending Graphic Control Extension state — applies to the next
    // rendering block only (§23: "no more than one per")
    var delay = 0; var disposal = 0; var transparent = -1
    while (true) {
      if (pos >= b.length) return None
      (b(pos) & 0xff) match {
        case 0x3b => // trailer: a valid animation has at least one frame
          val v = out.result()
          return if (v.nonEmpty) Some(v) else None
        case 0x21 =>
          if (pos + 2 > b.length) return None
          // GCE (label 0xF9, fixed 4-byte body): capture, then fall
          // through to the generic sub-block skip for ANY extension
          if ((b(pos + 1) & 0xff) == 0xf9 && pos + 7 < b.length &&
              (b(pos + 2) & 0xff) == 4) {
            val gp = b(pos + 3) & 0xff
            disposal = (gp >> 2) & 0x7
            delay = leU16(b, pos + 4)
            transparent = if ((gp & 1) != 0) b(pos + 6) & 0xff else -1
          }
          pos += 2
          var len = if (pos < b.length) b(pos) & 0xff else return None
          while (len != 0) {
            pos += 1 + len
            if (pos >= b.length) return None
            len = b(pos) & 0xff
          }
          pos += 1
        case 0x2c =>
          if (pos + 10 > b.length) return None
          val x0 = leU16(b, pos + 1)
          val y0 = leU16(b, pos + 3)
          val w = leU16(b, pos + 5)
          val h = leU16(b, pos + 7)
          val ipacked = b(pos + 9) & 0xff
          val interlaced = (ipacked & 0x40) != 0
          pos += 10
          var table = globalTable
          var tableSize = globalSize
          if ((ipacked & 0x80) != 0) {
            tableSize = 2 << (ipacked & 0x07)
            table = pos
            pos += 3 * tableSize
          }
          if (w <= 0 || h <= 0 || table < 0 || pos > b.length) return None
          if (w.toLong * h > MaxOut) return None
          decodeFrameCore(b, pos, w, h, interlaced, table, tableSize,
              transparent,
              if (frameSink != null) frameSink(nFrames, w, h) else null) match {
            case None => return None
            case Some((mr, mg, mb, tpx, after)) =>
              out += Frame(x0, y0, w, h, delay, disposal, tpx, mr, mg, mb)
              pos = after
          }
          delay = 0; disposal = 0; transparent = -1
          nFrames += 1
          if (nFrames > MaxFrames) return None
        case _ => return None
      }
    }
    None // unreachable
  }

  /** [[frames]] as the Catalyst array-of-struct value for the
    * `gif_frames` kernel (the
    * [[MediaKernels.videoTrackStats]] pattern); null = NULL blob-wide. */
  def frameStats(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData =
    frames(b) match {
      case None => null
      case Some(fs) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(fs.map { f =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](f.x.toLong, f.y.toLong, f.w.toLong, f.h.toLong,
              f.delayCs.toLong, f.disposal.toLong, f.transparentPx,
              f.meanR, f.meanG, f.meanB))
        }.toArray[Any])
    }
}

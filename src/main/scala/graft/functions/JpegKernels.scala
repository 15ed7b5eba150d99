package graft.functions

/** Baseline-sequential AND progressive JPEG decode, pure JVM — no
  * codec library. This retires the last decode stub: with it, every
  * raster family the engine featurizes (BMP, PPM, PGM, and now JPEG)
  * decodes for real. Video pixels decode for the MJPEG codec class
  * too (round 9: [[MediaKernels.mjpegFrames]] demuxes ISO-BMFF samples
  * and each frame rides THIS decoder); compressed codecs
  * (H.264/H.265, …) remain a declared refusal — a pure-JVM
  * implementation of those is out of scope, and the extractor returns
  * NULL rather than faking it.
  *
  * Scope (honestly bounded): SOF0 baseline DCT and (round 11) SOF2
  * progressive DCT — spectral selection, successive approximation
  * with DC/AC refinement scans, EOB runs (T.81 G.2) — 8-bit samples,
  * 1 or 3 components, sampling factors 1 or 2 per axis, 8-bit DQT
  * tables, restart markers, APPn/COM skipped, 0xFF fill bytes before
  * markers tolerated (T.81 B.1.1.2). Baseline keeps its INTERLEAVED-
  * only scan scope (Ns = Nf; the rare one-scan-per-component baseline
  * variant returns None); progressive scans follow the G.1.1.1.1
  * shapes (DC scans may interleave, AC scans are single-component).
  * Arithmetic coding, 12-bit, and hierarchical modes return None. A
  * corrupt or out-of-scope blob must cost a NULL feature row, never a
  * task (same contract as [[RasterKernels]]).
  *
  * Decode pipeline per ITU-T T.81: canonical Huffman decode (MINCODE/
  * MAXCODE/VALPTR, F.2.2.3) -> DC prediction + EXTEND (F.2.2.1) ->
  * run-length AC with EOB/ZRL (F.2.2.2) -> zigzag -> dequant -> 2-D
  * separable double-precision IDCT (A.3.3) -> level shift, round,
  * clamp -> JFIF YCbCr-to-RGB. Chroma upsampling is nearest-neighbor
  * (pixel (x,y) reads the subsampled block at (x*h/Hmax, y*v/Vmax)) —
  * the policy the mean-RGB features and the spec pin.
  *
  * The output is the same [[RasterKernels.Raster]] summary the other
  * raster decoders produce: dimensions + exact per-channel means over
  * the REAL image area (MCU padding columns/rows are decoded but never
  * counted).
  */
object JpegKernels {

  import Decode.{Refused, beU16}
  import RasterKernels.Raster

  /** Zigzag index -> natural (row*8+col) position, T.81 figure A.6. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: cos((2x+1)·u·π/16) · C(u)/2, so a 1-D transform is a
    * plain matrix product and the 2-D one is two passes. Built once. */
  private val Cos: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) math.sqrt(0.5) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = cu / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Canonical Huffman table in the T.81 F.2.2.3 decode form. */
  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    var code = 0
    var k = 0
    for (l <- 1 to 16) {
      valPtr(l) = k
      minCode(l) = code
      code += bits(l - 1)
      k += bits(l - 1)
      maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
      code <<= 1
    }
    def value(i: Int): Int = vals(i) & 0xff
  }

  /** Entropy-coded-segment bit reader: 0xFF00 unstuffing, stops at any
    * real marker (the caller handles RST); returns -1 on exhaustion so
    * truncation surfaces as a decode failure, not an exception. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    var atMarker = false

    def readBit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) return -1
        var byte = b(pos) & 0xff
        pos += 1
        if (byte == 0xff) {
          // T.81 B.1.1.2 allows any number of 0xFF FILL bytes before a
          // marker — skip repeats before classifying the byte after
          // (treating them as end-of-stream made legal streams decode
          // to NULL); a terminal 0x00 still reads as one stuffed 0xFF
          // data byte (lenient: fill-then-stuffing is technically
          // malformed but unambiguous)
          while (pos < b.length && (b(pos) & 0xff) == 0xff) pos += 1
          if (pos >= b.length) return -1
          val next = b(pos) & 0xff
          if (next == 0x00) pos += 1 // stuffed 0xFF data byte
          else { atMarker = true; pos -= 1; return -1 }
          byte = 0xff
        }
        cur = byte
        nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }

    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bit = readBit()
        if (bit < 0) return -1
        v = (v << 1) | bit
        i += 1
      }
      v
    }

    /** Skip to the next byte boundary and consume an expected RSTn.
      * T.81 B.1.1.2 permits any run of 0xFF fill bytes before a marker,
      * so skip repeats before classifying the code byte (mirroring
      * readBit's fill handling — requiring the marker to start exactly
      * at `pos` made legal padded restart streams decode to NULL). */
    def resync(): Boolean = {
      nbits = 0
      atMarker = false
      if (pos + 1 >= b.length || (b(pos) & 0xff) != 0xff) return false
      while (pos + 1 < b.length && (b(pos + 1) & 0xff) == 0xff) pos += 1
      if (pos + 1 >= b.length) return false
      val m = b(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) return false
      pos += 2
      true
    }

    def decodeHuff(h: Huff): Int = {
      var code = readBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.value(h.valPtr(l) + code - h.minCode(l))
        val bit = readBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
      }
      -1 // code longer than 16 bits: corrupt table/stream
    }
  }

  /** EXTEND (T.81 F.2.2.1): map magnitude bits to a signed value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTable: Int = 0
    var acTable: Int = 0
    var pred: Int = 0
  }

  /** Separable 2-D IDCT of one DEQUANTIZED natural-order block into
    * `pix` (level shift NOT applied — [[storeBlock]] does that). */
  private def idctBlock(coef: Array[Int], tmp: Array[Double],
                        pix: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += Cos(u * 8 + x) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) { s += Cos(v * 8 + yy) * tmp(v * 8 + x); v += 1 }
        pix(yy * 8 + x) = s
        yy += 1
      }
      x += 1
    }
  }

  /** Level shift, round, clamp, store one block at (ox, oy). */
  private def storeBlock(pix: Array[Double], plane: Array[Byte], pw: Int,
                         ox: Int, oy: Int): Unit = {
    var py = 0
    while (py < 8) {
      var px = 0
      while (px < 8) {
        val v0 = math.round(pix(py * 8 + px) + 128.0).toInt
        val v1 = if (v0 < 0) 0 else if (v0 > 255) 255 else v0
        plane((oy + py) * pw + ox + px) = v1.toByte
        px += 1
      }
      py += 1
    }
  }

  /** Means over the REAL image area with nearest chroma upsampling and
    * the JFIF YCbCr conversion — shared by the baseline and progressive
    * render paths. With a non-null `sink`, every pixel's integer RGB is
    * also delivered (round 15: the dHash pixel-sink mode); returns null
    * when `sink.begin` refuses the dimensions. */
  private def meansFromPlanes(planes: Array[Array[Byte]], planeW: Array[Int],
                              comps: Array[Component], width: Int, height: Int,
                              hMax: Int, vMax: Int,
                              sink: RasterKernels.PixelSink): Raster = {
    if (sink != null && !sink.begin(width, height)) return null
    var sumR = 0.0; var sumG = 0.0; var sumB = 0.0
    val gray = comps.length == 1
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val yy = planes(0)((y * comps(0).v / vMax) * planeW(0) +
          x * comps(0).h / hMax) & 0xff
        if (gray) {
          sumR += yy; sumG += yy; sumB += yy
          if (sink != null) sink.add(x, y, yy, yy, yy)
        } else {
          val cb = (planes(1)((y * comps(1).v / vMax) * planeW(1) +
            x * comps(1).h / hMax) & 0xff) - 128
          val cr = (planes(2)((y * comps(2).v / vMax) * planeW(2) +
            x * comps(2).h / hMax) & 0xff) - 128
          val r = clamp255(math.round(yy + 1.402 * cr))
          val g = clamp255(math.round(yy - 0.344136 * cb - 0.714136 * cr))
          val bl = clamp255(math.round(yy + 1.772 * cb))
          sumR += r; sumG += g; sumB += bl
          if (sink != null) sink.add(x, y, r.toInt, g.toInt, bl.toInt)
        }
        x += 1
      }
      y += 1
    }
    val n = width.toDouble * height.toDouble
    Raster(width, height, sumR / n, sumG / n, sumB / n)
  }

  def decode(b: Array[Byte]): Option[Raster] = decode(b, null)

  /** Decode with an optional [[RasterKernels.PixelSink]] (round 15). */
  def decode(b: Array[Byte], sink: RasterKernels.PixelSink): Option[Raster] = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    // any slip in the bounds discipline below degrades to a NULL
    // feature, never a killed executor task
    try decodeInner(b, sink) catch { case Refused() => None }
  }

  // scalastyle:off method.length cyclomatic.complexity
  private def decodeInner(b: Array[Byte],
                          sink: RasterKernels.PixelSink): Option[Raster] = {
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0
    var height = 0
    var restartInterval = 0
    // progressive (SOF2) state: per-component UNQUANTIZED coefficient
    // grids on the padded MCU geometry, accumulated scan by scan and
    // rendered once at EOI
    var progressive = false
    var coefs: Array[Array[Int]] = null
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var compBx: Array[Int] = null
    var compBy: Array[Int] = null
    var mcusX = 0
    var mcusY = 0
    var sawScan = false
    var nScans = 0

    var p = 2
    while (p + 2 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return None
      val marker = b(p + 1) & 0xff
      if (marker == 0xd9) {
        // EOI: a progressive stream with at least one scan renders now;
        // for baseline (which returns from its single scan) or an empty
        // stream this is still "no image"
        return if (progressive && sawScan)
          finishProgressive(comps, quant, coefs, blocksW, blocksH,
            width, height, sink)
        else None
      }
      if (p + 4 > b.length) return None
      val len = beU16(b, p + 2)
      if (len < 2 || p + 2 + len > b.length) return None
      val seg = p + 4
      val segEnd = p + 2 + len
      var pNext = segEnd
      marker match {
        case 0xdb => // DQT: one or more tables
          var q = seg
          while (q < segEnd) {
            val pq = (b(q) & 0xff) >> 4
            val tq = b(q) & 0x0f
            if (pq != 0 || tq > 3) return None // 8-bit tables only
            if (q + 65 > segEnd) return None
            // DQT elements arrive in ZIGZAG order (T.81 B.2.4.1: "where
            // k is the index in the zigzag ordering"); store the table
            // unzigzagged so every later lookup indexes by NATURAL
            // position. Round 11: the table was previously stored
            // verbatim while lookups indexed naturally — invisible with
            // the flat tables every fixture used, wrong by a shuffled
            // multiplier for any real encoder's table (pinned by the
            // non-flat clamped-block case in JpegSpec).
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(Zigzag(i)) = b(q + 1 + i) & 0xff; i += 1 }
            quant(tq) = t
            q += 65
          }
        case 0xc4 => // DHT: one or more tables
          var q = seg
          while (q < segEnd) {
            val tc = (b(q) & 0xff) >> 4
            val th = b(q) & 0x0f
            if (tc > 1 || th > 3) return None
            if (q + 17 > segEnd) return None
            val bits = new Array[Int](16)
            var total = 0
            var i = 0
            while (i < 16) { bits(i) = b(q + 1 + i) & 0xff; total += bits(i); i += 1 }
            if (total > 256 || q + 17 + total > segEnd) return None
            val vals = java.util.Arrays.copyOfRange(b, q + 17, q + 17 + total)
            val h = new Huff(bits, vals)
            if (tc == 0) dcTables(th) = h else acTables(th) = h
            q += 17 + total
          }
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive (round 11)
          if (comps != null) return None // one frame per stream
          progressive = marker == 0xc2
          if (b(seg) != 8) return None // 8-bit precision only
          height = beU16(b, seg + 1)
          width = beU16(b, seg + 3)
          val nf = b(seg + 5) & 0xff
          if (width <= 0 || height <= 0 || (nf != 1 && nf != 3)) return None
          if (seg + 6 + 3 * nf > segEnd) return None
          comps = Array.tabulate(nf) { i =>
            val o = seg + 6 + 3 * i
            val hv = b(o + 1) & 0xff
            val c = Component(b(o) & 0xff, hv >> 4, hv & 0x0f, b(o + 2) & 0x0f)
            if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3) return None
            c
          }
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
             0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // non-baseline/-progressive SOF: out of scope
        case 0xdd => // DRI
          restartInterval = beU16(b, seg)
        case 0xda => // SOS: entropy-coded data follows
          if (comps == null) return None
          val ns = b(seg) & 0xff
          if (ns < 1 || ns > comps.length ||
              seg + 1 + 2 * ns + 3 > segEnd) return None
          val scanComps = new Array[Component](ns)
          val scanIdx = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cid = b(seg + 1 + 2 * i) & 0xff
            val ci = comps.indexWhere(_.id == cid)
            if (ci < 0) return None
            val c = comps(ci)
            c.dcTable = (b(seg + 2 + 2 * i) & 0xff) >> 4
            c.acTable = b(seg + 2 + 2 * i) & 0x0f
            scanComps(i) = c
            scanIdx(i) = ci
            i += 1
          }
          if (!progressive) {
            // baseline keeps its interleaved-only scope: one scan, all
            // frame components
            if (ns != comps.length) return None
            return decodeScan(b, segEnd, comps, quant, dcTables, acTables,
              width, height, restartInterval, sink)
          }
          val ss = b(seg + 1 + 2 * ns) & 0xff
          val se = b(seg + 2 + 2 * ns) & 0xff
          val aa = b(seg + 3 + 2 * ns) & 0xff
          // each SOS header forces a walk of a full component grid and
          // EOB runs make that walk near-free in entropy bytes, so an
          // unbounded scan count is a CPU amplifier (blob/12 scans x up
          // to ~1M block visits each); no legal encoder approaches this
          // (cf. libjpeg-turbo/Mozilla progressive-scan limits)
          nScans += 1
          if (progressive && nScans > 256) return None
          if (coefs == null) {
            val hMax = comps.map(_.h).max
            val vMax = comps.map(_.v).max
            mcusX = (width + 8 * hMax - 1) / (8 * hMax)
            mcusY = (height + 8 * vMax - 1) / (8 * vMax)
            blocksW = comps.map(c => mcusX * c.h)
            blocksH = comps.map(c => mcusY * c.v)
            // the coefficient grids are Int (4 bytes/sample) and live
            // until EOI — cap tighter than the baseline byte planes so
            // a forged SOF degrades to None, never an executor OOM
            var ci2 = 0
            var allBlocks = 0L
            while (ci2 < comps.length) {
              val cb = blocksW(ci2).toLong * blocksH(ci2)
              if (cb * 64L > (1L << 26)) return None
              allBlocks += cb
              ci2 += 1
            }
            // plausibility gate mirroring baseline decodeScan's: every
            // block costs >= 1 entropy bit even in the cheapest scan
            // shape (DC refinement), so a renderable stream needs
            // blocks <= 8x the bytes remaining at first SOS — a
            // ~100-byte forged SOF2+SOS must die BEFORE the grids
            // (up to ~256 MB/component) are allocated
            if (allBlocks > (b.length.toLong - segEnd + 1L) * 8L)
              return None
            // non-interleaved scans walk the component's OWN block grid
            // (T.81 A.2.2), not the MCU-padded one
            compBx = comps.map(c =>
              ((width * c.h + hMax - 1) / hMax + 7) / 8)
            compBy = comps.map(c =>
              ((height * c.v + vMax - 1) / vMax + 7) / 8)
            coefs = comps.indices.map(ci3 =>
              new Array[Int](blocksW(ci3) * blocksH(ci3) * 64)).toArray
          }
          // DC predictors reset at every scan start (F.2.1.3.1)
          comps.foreach(_.pred = 0)
          progressiveScan(b, segEnd, scanComps, scanIdx, coefs, blocksW,
            compBx, compBy, dcTables, acTables,
            ss, se, aa >> 4, aa & 0x0f, restartInterval,
            mcusX, mcusY) match {
            case None => return None
            case Some(after) => sawScan = true; pNext = after
          }
        case _ => () // APPn, COM, others: skip
      }
      p = pNext
    }
    None // no image: ran off the stream before EOI (progressive) or SOS
  }

  /** One progressive scan (T.81 G.2): spectral band [ss, se] at
    * successive-approximation bit `al` (`ah` = 0 on a band's first pass,
    * `al` + 1 on a refinement pass), accumulated into the per-component
    * UNQUANTIZED coefficient grids — dequantization happens once at the
    * final IDCT. DC scans may interleave; AC scans are single-component
    * and walk that component's own block grid. Returns the position of
    * the marker after this scan's entropy data. */
  private def progressiveScan(b: Array[Byte], start: Int,
      scan: Array[Component], scanIdx: Array[Int],
      coefs: Array[Array[Int]], blocksW: Array[Int],
      compBx: Array[Int], compBy: Array[Int],
      dcTables: Array[Huff], acTables: Array[Huff],
      ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int, mcusX: Int, mcusY: Int): Option[Int] = {
    // scan-shape gates (G.1.1.1.1): DC scans carry exactly the band
    // [0, 0]; AC scans are single-component with 0 < ss <= se <= 63;
    // refinement lowers the approximation bit by exactly one
    if (ss == 0) { if (se != 0) return None }
    else if (scan.length != 1 || se < ss || se > 63) return None
    if (al > 13 || (ah != 0 && ah != al + 1)) return None
    val dc = ss == 0
    if (dc && ah == 0 && scan.exists(c => dcTables(c.dcTable) == null))
      return None
    if (!dc && acTables(scan(0).acTable) == null) return None

    val reader = new BitReader(b, start)
    var eobrun = 0
    val p1 = 1 << al
    val m1 = -p1

    def dcBlock(ci: Int, c: Component, at: Int): Boolean = {
      if (ah == 0) {
        val t = reader.decodeHuff(dcTables(c.dcTable))
        if (t < 0 || t > 15) return false
        var diff = 0
        if (t > 0) {
          val bits = reader.readBits(t)
          if (bits < 0) return false
          diff = extend(bits, t)
        }
        c.pred += diff
        coefs(ci)(at) = c.pred << al
      } else {
        // refinement: one correction bit per block, no Huffman code
        val bit = reader.readBit()
        if (bit < 0) return false
        if (bit == 1) coefs(ci)(at) = coefs(ci)(at) | p1
      }
      true
    }

    def acFirst(ci: Int, acT: Huff, at: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = reader.decodeHuff(acT)
        if (rs < 0) return false
        val r = rs >> 4
        val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else { // EOBn: 2^r - 1 + extension MORE all-zero bands
            eobrun = (1 << r) - 1
            if (r > 0) {
              val m = reader.readBits(r)
              if (m < 0) return false
              eobrun += m
            }
            return true
          }
        } else {
          k += r
          if (k > se) return false // run past the band end: corrupt
          val bits = reader.readBits(s)
          if (bits < 0) return false
          coefs(ci)(at + Zigzag(k)) = extend(bits, s) << al
          k += 1
        }
      }
      true
    }

    // G.1.2.3: refinement emits a correction bit for every coefficient
    // with NONZERO history it passes; zero-history runs (`r`) and the
    // EOB run count only zero-history positions, and blocks inside an
    // EOB run still carry correction bits for their nonzero history.
    def acRefine(ci: Int, acT: Huff, at: Int): Boolean = {
      var k = ss
      if (eobrun == 0) {
        var broke = false
        while (k <= se && !broke) {
          val rs = reader.decodeHuff(acT)
          if (rs < 0) return false
          var r = rs >> 4
          val s = rs & 0x0f
          var newVal = 0
          if (s == 0) {
            if (r != 15) { // EOBn: this block's tail joins the run below
              eobrun = 1 << r
              if (r > 0) {
                val m = reader.readBits(r)
                if (m < 0) return false
                eobrun += m
              }
              broke = true
            } // r == 15: pass 16 zero-history coefficients
          } else {
            if (s != 1) return false // only ±1 can appear in a refinement
            val sb = reader.readBit()
            if (sb < 0) return false
            newVal = if (sb == 1) p1 else m1
          }
          if (!broke) {
            var advancing = true
            while (k <= se && advancing) {
              val z = at + Zigzag(k)
              val cv = coefs(ci)(z)
              if (cv != 0) {
                val cb = reader.readBit()
                if (cb < 0) return false
                if (cb == 1 && (cv & p1) == 0)
                  coefs(ci)(z) = cv + (if (cv >= 0) p1 else m1)
                k += 1
              } else if (r == 0) advancing = false
              else { r -= 1; k += 1 }
            }
            if (newVal != 0) {
              if (k > se) return false // newly-nonzero past the band end
              coefs(ci)(at + Zigzag(k)) = newVal
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val z = at + Zigzag(k)
          val cv = coefs(ci)(z)
          if (cv != 0) {
            val cb = reader.readBit()
            if (cb < 0) return false
            if (cb == 1 && (cv & p1) == 0)
              coefs(ci)(z) = cv + (if (cv >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    // restart interval counts MCUs; in a non-interleaved scan an MCU is
    // one block (T.81 A.2.2). Restarts reset predictors AND the EOB run.
    def maybeRestart(unit: Int): Boolean = {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        if (!reader.resync()) return false
        scan.foreach(_.pred = 0)
        eobrun = 0
      }
      true
    }

    if (scan.length > 1) { // interleaved DC scan: MCU walk, padded grid
      var mcu = 0
      val nMcus = mcusX * mcusY
      while (mcu < nMcus) {
        if (!maybeRestart(mcu)) return None
        val mx = mcu % mcusX
        val my = mcu / mcusX
        var i = 0
        while (i < scan.length) {
          val c = scan(i)
          val ci = scanIdx(i)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              val at = ((my * c.v + by) * blocksW(ci) + mx * c.h + bx) * 64
              if (!dcBlock(ci, c, at)) return None
              bx += 1
            }
            by += 1
          }
          i += 1
        }
        mcu += 1
      }
    } else { // single-component scan: the component's own block grid
      val c = scan(0)
      val ci = scanIdx(0)
      val bw = compBx(ci)
      val acT = if (dc) null else acTables(c.acTable)
      var blk = 0
      val nBlk = bw * compBy(ci)
      while (blk < nBlk) {
        if (!maybeRestart(blk)) return None
        val at = ((blk / bw) * blocksW(ci) + blk % bw) * 64
        val ok =
          if (dc) dcBlock(ci, c, at)
          else if (ah == 0) acFirst(ci, acT, at)
          else acRefine(ci, acT, at)
        if (!ok) return None
        blk += 1
      }
    }

    // the scan's entropy data ends at the next true marker (flush bits
    // and fill 0xFFs in between are legal)
    var q = if (reader.pos > start) reader.pos else start
    while (q + 1 < b.length) {
      if ((b(q) & 0xff) == 0xff) {
        val m = b(q + 1) & 0xff
        if (m != 0x00 && m != 0xff && (m < 0xd0 || m > 0xd7)) return Some(q)
      }
      q += 1
    }
    None // no marker after the scan: truncated stream
  }

  /** Render a completed progressive stream: dequantize + IDCT every
    * block of every component grid, then the shared means path. */
  private def finishProgressive(comps: Array[Component],
      quant: Array[Array[Int]], coefs: Array[Array[Int]],
      blocksW: Array[Int], blocksH: Array[Int],
      width: Int, height: Int,
      sink: RasterKernels.PixelSink): Option[Raster] = {
    if (comps == null || coefs == null) return None
    var ci = 0
    while (ci < comps.length) {
      if (quant(comps(ci).tq) == null) return None
      ci += 1
    }
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val planes = comps.indices.map(i =>
      new Array[Byte](blocksW(i) * 8 * blocksH(i) * 8)).toArray
    val planeW = comps.indices.map(i => blocksW(i) * 8).toArray
    val dq = new Array[Int](64)
    val tmp = new Array[Double](64)
    val pix = new Array[Double](64)
    ci = 0
    while (ci < comps.length) {
      val qt = quant(comps(ci).tq)
      var by = 0
      while (by < blocksH(ci)) {
        var bx = 0
        while (bx < blocksW(ci)) {
          val at = (by * blocksW(ci) + bx) * 64
          var j = 0
          while (j < 64) { dq(j) = coefs(ci)(at + j) * qt(j); j += 1 }
          idctBlock(dq, tmp, pix)
          storeBlock(pix, planes(ci), planeW(ci), bx * 8, by * 8)
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    Option(meansFromPlanes(planes, planeW, comps, width, height, hMax, vMax,
      sink))
  }

  private def decodeScan(b: Array[Byte], scanStart: Int,
                         comps: Array[Component], quant: Array[Array[Int]],
                         dcTables: Array[Huff], acTables: Array[Huff],
                         width: Int, height: Int, restartInterval: Int,
                         sink: RasterKernels.PixelSink): Option[Raster] = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // refuse absurd dimension/blob ratios before allocating: a forged
    // SOF claiming 65535x65535 over a 100-byte blob must die here. Any
    // block costs >= 2 entropy bits (shortest DC code + shortest EOB),
    // so blocks can never exceed 4x the remaining byte count; plane
    // allocations are additionally hard-capped so a large-but-plausible
    // forgery degrades to None instead of an executor OOM.
    val totalBlocks = mcusX.toLong * mcusY.toLong *
      comps.map(c => c.h * c.v).sum.toLong
    if (totalBlocks > (b.length.toLong - scanStart + 1L) * 4L) return None
    val planeSamples = comps.map(c =>
      mcusX.toLong * c.h * 8L * mcusY.toLong * c.v * 8L)
    if (planeSamples.exists(_ > (1L << 28))) return None

    for (c <- comps) {
      if (quant(c.tq) == null || dcTables(c.dcTable) == null ||
          acTables(c.acTable) == null) return None
    }

    // component sample planes at their own resolution; means only need
    // per-plane sums, but the RGB conversion needs the actual samples
    val planes = comps.map { c =>
      new Array[Byte](mcusX * c.h * 8 * mcusY * c.v * 8)
    }
    val planeW = comps.map(c => mcusX * c.h * 8)

    val reader = new BitReader(b, scanStart)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val pix = new Array[Double](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!reader.resync()) return None
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // --- one 8x8 block: huffman -> coef (natural order) ---
            java.util.Arrays.fill(coef, 0)
            val t = reader.decodeHuff(dcTables(c.dcTable))
            if (t < 0 || t > 15) return None
            val diffBits = if (t == 0) 0 else reader.readBits(t)
            if (diffBits < 0) return None
            c.pred += extend(diffBits, t)
            coef(0) = c.pred * qt(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = reader.decodeHuff(acTables(c.acTable))
              if (rs < 0) return None
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) return None
                val bits = reader.readBits(s)
                if (bits < 0) return None
                coef(Zigzag(k)) = extend(bits, s) * qt(Zigzag(k))
                k += 1
              }
            }
            // --- IDCT + level shift + store ---
            idctBlock(coef, tmp, pix)
            storeBlock(pix, planes(ci), planeW(ci),
              (mx * c.h + bx) * 8, (my * c.v + by) * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    Option(meansFromPlanes(planes, planeW, comps, width, height, hMax, vMax,
      sink))
  }
  // scalastyle:on method.length cyclomatic.complexity

  private def clamp255(v: Long): Double =
    if (v < 0) 0.0 else if (v > 255) 255.0 else v.toDouble
}

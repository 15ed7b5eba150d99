package graft.functions

/** WebP LOSSLESS (VP8L) decoder (round 16) — the WebP Lossless
  * Bitstream Specification implemented from the spec, pure JVM: a
  * growing share of crawl images ship as `.webp`, and the dhash
  * near-dup family covered PNG/JPEG/GIF/TIFF but had to exclude them
  * ([[MediaKernels]] could only triage dimensions). VP8L is the
  * self-contained, integer-exact half of WebP — it matches the
  * deterministic-grid contract the other pixel decoders honor. Lossy
  * VP8 (DCT + loop filter, float-adjacent) stays triage-only.
  *
  * Supported surface — the complete VP8L format:
  *  - RIFF walk: bare `VP8L` files and extended `VP8X` containers
  *    (metadata chunks skipped); lossy `VP8 ` payloads refuse;
  *  - prefix codes: simple (1/2-symbol) and normal (code-length code
  *    in the DEFLATE bit convention with the 17/18 zero-run and 16
  *    repeat-previous codes, optional max-symbol cap);
  *  - color cache (1–11 bits, the 0x1e35a7bd multiplicative hash);
  *  - LZ77 backward references incl. the 120-entry short-distance
  *    neighborhood map — GENERATED from its defining order (offsets
  *    (dx, dy), dy 0..7, dx −7..8, past-only, sorted by squared
  *    distance, larger dy first, positive dx before negative), which
  *    reproduces the spec's table exactly;
  *  - meta prefix codes (entropy image) selecting per-block code
  *    groups;
  *  - all four transforms, applied in reverse reading order:
  *    PREDICTOR (all 14 modes, the contiguous-memory top-right rule
  *    on the last column), COLOR (signed 3.5 fixed-point cross-color
  *    deltas), SUBTRACT_GREEN, COLOR_INDEXING (delta-coded palette,
  *    sub-byte index packing for palettes ≤ 16 entries).
  *
  * Validation honesty: unlike the zstd/brotli kernels, this container
  * has no reference WebP codec to cross-check against, and none is
  * fetchable (zero egress). The spec tests therefore lean on (a)
  * hand-crafted micro-streams with hand-computed expected pixels for
  * every feature (LZ77, cache, each transform, packing), and (b)
  * round-trips of [[encodeLossless]] fixtures (normal prefix codes,
  * literal-only). WebpSpec documents this.
  *
  * Fail-closed: truncation, bad prefix codes, out-of-range
  * distances/cache/palette indices, oversized dimensions and trailing
  * garbage all yield None — a corrupt blob costs a NULL feature row,
  * never a task.
  */
object WebpKernels {

  import Decode.{Bad, Br, Huff, MaxCodeBits, MaxOut, Refused, leU32}

  private val MaxPixels = MaxOut / 4 // ARGB, 4 bytes a pixel

  /** Code-length-code symbol order (spec section "Normal Code
    * Length Code"). */
  private val ClOrder: Array[Int] = Array(
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readPrefixCode(alphabetSize: Int, br: Br): Huff = {
    if (br.readBits(1) == 1) {
      // simple: 1 or 2 symbols listed explicitly
      val numSymbols = br.readBits(1) + 1
      val first8 = br.readBits(1) == 1
      val s0 = br.readBits(if (first8) 8 else 1)
      val lens = new Array[Int](alphabetSize)
      if (s0 >= alphabetSize) throw Bad
      lens(s0) = 1
      if (numSymbols == 2) {
        val s1 = br.readBits(8)
        if (s1 >= alphabetSize || s1 == s0) throw Bad
        lens(s1) = 1
      }
      new Huff(lens)
    } else {
      val numCodeLengths = 4 + br.readBits(4)
      if (numCodeLengths > 19) throw Bad
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCodeLengths) { clLens(ClOrder(i)) = br.readBits(3); i += 1 }
      val clHuff = new Huff(clLens)
      var maxSymbol =
        if (br.readBits(1) == 1) {
          val lengthNBits = 2 + 2 * br.readBits(3)
          2 + br.readBits(lengthNBits)
        } else alphabetSize
      val lens = new Array[Int](alphabetSize)
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize) {
        if (maxSymbol == 0) symbol = alphabetSize // remaining lengths 0
        else {
          maxSymbol -= 1
          val c = clHuff.decode(br)
          if (c < 16) {
            lens(symbol) = c; symbol += 1
            if (c != 0) prevLen = c
          } else {
            val (extraBits, offset, usePrev) = c match {
              case 16 => (2, 3, true)
              case 17 => (3, 3, false)
              case 18 => (7, 11, false)
              case _ => throw Bad
            }
            var repeat = br.readBits(extraBits) + offset
            if (symbol + repeat > alphabetSize) throw Bad
            val v = if (usePrev) prevLen else 0
            while (repeat > 0) { lens(symbol) = v; symbol += 1; repeat -= 1 }
          }
        }
      }
      new Huff(lens)
    }
  }

  /** LZ77 length/distance prefix value (spec section "LZ77 Backward
    * Reference"). */
  private def lz77Value(prefixCode: Int, br: Br): Int =
    if (prefixCode < 4) prefixCode + 1
    else {
      val extraBits = (prefixCode - 2) >> 1
      if (extraBits > 24) throw Bad
      val offset = (2 + (prefixCode & 1)) << extraBits
      offset + br.readBits(extraBits) + 1
    }

  /** Short-distance map: plane code (1..120) -> pixel distance, per
    * the defining neighborhood order (see class doc — regenerating
    * the spec's table instead of transcribing it). */
  private val PlaneCodes: Array[(Int, Int)] = { // (dx, dy) by code-1
    val cands = for {
      dy <- 0 to 7
      dx <- -7 to 8
      if !(dy == 0 && dx <= 0)
    } yield (dx, dy)
    cands.sortBy { case (dx, dy) => (dx * dx + dy * dy, -dy, -dx) }.toArray
  }

  private def planeToDistance(planeCode: Int, xsize: Int): Int =
    if (planeCode > 120) planeCode - 120
    else {
      val (dx, dy) = PlaneCodes(planeCode - 1)
      val d = dy * xsize + dx
      if (d < 1) 1 else d
    }

  // -----------------------------------------------------------------
  // transforms
  // -----------------------------------------------------------------
  private final case class Transform(kind: Int, xsize: Int, bits: Int,
                                     data: Array[Int])
  private val PREDICTOR = 0
  private val COLOR = 1
  private val SUBTRACT_GREEN = 2
  private val COLOR_INDEXING = 3

  private def subSize(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  // -----------------------------------------------------------------
  // entropy-coded image
  // -----------------------------------------------------------------
  /** Decode one image stream at the current reader position. Level 0
    * reads transforms and may use meta prefix codes; sub-images
    * (palettes, predictor/color data, entropy images) may not. */
  private def decodeImageStream(br: Br, xsize0: Int, ysize: Int,
                                level0: Boolean): (Array[Int], Int) = {
    var xs = xsize0
    var transforms = List.empty[Transform]
    if (level0) {
      var seen = 0
      while (br.readBits(1) == 1) {
        val kind = br.readBits(2)
        if ((seen & (1 << kind)) != 0) throw Bad // each type at most once
        seen |= 1 << kind
        kind match {
          case PREDICTOR | COLOR =>
            val bits = br.readBits(3) + 2
            val (data, _) = decodeImageStream(br, subSize(xs, bits),
              subSize(ysize, bits), level0 = false)
            transforms ::= Transform(kind, xs, bits, data)
          case SUBTRACT_GREEN =>
            transforms ::= Transform(kind, xs, 0, null)
          case COLOR_INDEXING =>
            val paletteSize = br.readBits(8) + 1
            val (pal, _) = decodeImageStream(br, paletteSize, 1,
              level0 = false)
            // palette entries are per-channel delta-coded
            var i = 1
            while (i < paletteSize) {
              pal(i) = addPixels(pal(i), pal(i - 1)); i += 1
            }
            val widthBits =
              if (paletteSize <= 2) 3
              else if (paletteSize <= 4) 2
              else if (paletteSize <= 16) 1
              else 0
            transforms ::= Transform(COLOR_INDEXING, xs, widthBits, pal)
            xs = subSize(xs, widthBits)
          case _ => throw Bad
        }
      }
    }
    if (xs.toLong * ysize > MaxPixels) throw Bad
    // color cache
    val cacheBits =
      if (br.readBits(1) == 1) {
        val cb = br.readBits(4)
        if (cb < 1 || cb > 11) throw Bad
        cb
      } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    // meta prefix codes (level 0 only)
    var metaBits = 0
    var metaW = 0
    var meta: Array[Int] = null
    var numGroups = 1
    if (level0 && br.readBits(1) == 1) {
      metaBits = br.readBits(3) + 2
      metaW = subSize(xs, metaBits)
      val (m, _) = decodeImageStream(br, metaW, subSize(ysize, metaBits),
        level0 = false)
      meta = m
      var mx = 0
      var i = 0
      while (i < m.length) {
        val g = (m(i) >>> 8) & 0xffff
        if (g > mx) mx = g
        i += 1
      }
      numGroups = mx + 1
      if (numGroups > 1024) throw Bad
    }
    // prefix-code groups: 5 codes each
    val groups = Array.fill(numGroups) {
      Array(
        readPrefixCode(256 + 24 + cacheSize, br), // green+length+cache
        readPrefixCode(256, br),                  // red
        readPrefixCode(256, br),                  // blue
        readPrefixCode(256, br),                  // alpha
        readPrefixCode(40, br))                   // distance
    }
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def cacheInsert(p: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * p) >>> (32 - cacheBits)) = p
    val n = xs * ysize
    val out = new Array[Int](n)
    var pos = 0
    var x = 0
    var y = 0
    var g = groups(0)
    var lastMetaIdx = -1
    while (pos < n) {
      if (meta != null) {
        val mi = (y >> metaBits) * metaW + (x >> metaBits)
        if (mi != lastMetaIdx) {
          lastMetaIdx = mi
          val gi = (meta(mi) >>> 8) & 0xffff
          g = groups(gi)
        }
      }
      val s = g(0).decode(br)
      if (s < 256) {
        val r = g(1).decode(br)
        val b2 = g(2).decode(br)
        val a = g(3).decode(br)
        val p = (a << 24) | (r << 16) | (s << 8) | b2
        out(pos) = p
        cacheInsert(p)
        pos += 1; x += 1; if (x == xs) { x = 0; y += 1 }
      } else if (s < 256 + 24) {
        val len = lz77Value(s - 256, br)
        val distPrefix = g(4).decode(br)
        val dist0 = planeToDistance(lz77Value(distPrefix, br), xs)
        val dist = if (dist0 > pos) throw Bad else dist0
        if (pos + len > n) throw Bad
        var k = 0
        while (k < len) {
          val p = out(pos - dist)
          out(pos) = p
          cacheInsert(p)
          pos += 1; k += 1
        }
        x = pos % xs; y = pos / xs
        lastMetaIdx = -1 // force re-lookup after a copy run
      } else {
        if (cache == null) throw Bad
        val idx = s - 256 - 24
        if (idx >= cacheSize) throw Bad
        val p = cache(idx)
        out(pos) = p
        cacheInsert(p)
        pos += 1; x += 1; if (x == xs) { x = 0; y += 1 }
      }
    }
    // inverse transforms, reverse reading order (list head = last read)
    var img = out
    var w = xs
    transforms.foreach { t =>
      t.kind match {
        case COLOR_INDEXING =>
          img = inverseColorIndexing(img, w, ysize, t)
          w = t.xsize
        case SUBTRACT_GREEN =>
          var i = 0
          while (i < img.length) {
            val p = img(i)
            val gg = (p >>> 8) & 0xff
            val r = ((p >>> 16) + gg) & 0xff
            val b2 = (p + gg) & 0xff
            img(i) = (p & 0xff00ff00) | (r << 16) | b2
            i += 1
          }
        case COLOR => inverseColor(img, w, ysize, t)
        case PREDICTOR => inversePredictor(img, w, ysize, t)
        case _ => throw Bad
      }
    }
    (img, w)
  }

  private def addPixels(a: Int, b: Int): Int = {
    val ag = (a & 0xff00ff00) >>> 8
    val bg = (b & 0xff00ff00) >>> 8
    val rb = ((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff
    val gaSum = ((ag + bg) & 0x00ff00ff) << 8
    gaSum | rb
  }

  private def inverseColorIndexing(img: Array[Int], packedW: Int,
                                   ysize: Int, t: Transform): Array[Int] = {
    val w = t.xsize
    val pal = t.data
    val wb = t.bits
    if (wb == 0) {
      var i = 0
      while (i < img.length) {
        val idx = (img(i) >>> 8) & 0xff
        if (idx >= pal.length) throw Bad
        img(i) = pal(idx)
        i += 1
      }
      img
    } else {
      val out = new Array[Int](w * ysize)
      val perPacked = 1 << wb
      val bitsPer = 8 >> wb
      val mask = (1 << bitsPer) - 1
      var y = 0
      while (y < ysize) {
        var x = 0
        while (x < w) {
          val packed = img(y * packedW + (x >> wb))
          val green = (packed >>> 8) & 0xff
          val idx = (green >>> ((x & (perPacked - 1)) * bitsPer)) & mask
          if (idx >= pal.length) throw Bad
          out(y * w + x) = pal(idx)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Signed 3.5 fixed-point cross-color delta (both operands as
    * signed bytes). */
  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  private def inverseColor(img: Array[Int], w: Int, ysize: Int,
                           t: Transform): Unit = {
    val subW = subSize(w, t.bits)
    var y = 0
    while (y < ysize) {
      var x = 0
      while (x < w) {
        val cte = t.data((y >> t.bits) * subW + (x >> t.bits))
        val g2r = cte & 0xff          // blue channel of the element
        val g2b = (cte >>> 8) & 0xff  // green channel
        val r2b = (cte >>> 16) & 0xff // red channel
        val p = img(y * w + x)
        val gg = (p >>> 8) & 0xff
        var r = (p >>> 16) & 0xff
        var b2 = p & 0xff
        r = (r + ctDelta(g2r, gg)) & 0xff
        b2 = (b2 + ctDelta(g2b, gg) + ctDelta(r2b, r)) & 0xff
        img(y * w + x) = (p & 0xff00ff00) | (r << 16) | b2
        x += 1
      }
      y += 1
    }
  }

  private def avg2(a: Int, b: Int): Int = {
    val rb = (((a & 0x00ff00ff) + (b & 0x00ff00ff)) >>> 1) & 0x00ff00ff
    val ag = ((((a >>> 8) & 0x00ff00ff) + ((b >>> 8) & 0x00ff00ff)) >>> 1) & 0x00ff00ff
    (ag << 8) | rb
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def select(top: Int, left: Int, topLeft: Int): Int = {
    // Σ|channel(left)−channel(topLeft)| vs Σ|channel(top)−channel(topLeft)|
    def sum(u: Int, v: Int): Int = {
      var s = 0; var sh = 0
      while (sh < 32) { s += math.abs(((u >>> sh) & 0xff) - ((v >>> sh) & 0xff)); sh += 8 }
      s
    }
    val pa = sum(left, topLeft)  // = Σ|p−top| with p = top+left−topLeft
    val pb = sum(top, topLeft)   // = Σ|p−left|
    if (pa <= pb) top else left
  }

  private def casFull(l: Int, tp: Int, tl: Int): Int = {
    var out = 0; var sh = 0
    while (sh < 32) {
      val v = clip255(((l >>> sh) & 0xff) + ((tp >>> sh) & 0xff) - ((tl >>> sh) & 0xff))
      out |= v << sh; sh += 8
    }
    out
  }

  private def casHalf(l: Int, tp: Int, tl: Int): Int = {
    var out = 0; var sh = 0
    while (sh < 32) {
      val ave = (((l >>> sh) & 0xff) + ((tp >>> sh) & 0xff)) >> 1
      val v = clip255(ave + (ave - ((tl >>> sh) & 0xff)) / 2)
      out |= v << sh; sh += 8
    }
    out
  }

  private def inversePredictor(img: Array[Int], w: Int, ysize: Int,
                               t: Transform): Unit = {
    val subW = subSize(w, t.bits)
    var y = 0
    while (y < ysize) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred: Int =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) img(i - 1)          // first row: L
          else if (x == 0) img(i - w)          // first column: T
          else {
            val mode = (t.data((y >> t.bits) * subW + (x >> t.bits)) >>> 8) & 0xff
            val l = img(i - 1)
            val tp = img(i - w)
            val tl = img(i - w - 1)
            // contiguous-memory rule: TR of the last column is the
            // first pixel of the CURRENT row (already reconstructed)
            val tr = img(i - w + 1)
            mode match {
              case 0 => 0xff000000
              case 1 => l
              case 2 => tp
              case 3 => tr
              case 4 => tl
              case 5 => avg2(avg2(l, tr), tp)
              case 6 => avg2(l, tl)
              case 7 => avg2(l, tp)
              case 8 => avg2(tl, tp)
              case 9 => avg2(tp, tr)
              case 10 => avg2(avg2(l, tl), avg2(tp, tr))
              case 11 => select(tp, l, tl)
              case 12 => casFull(l, tp, tl)
              case 13 => casHalf(l, tp, tl)
              case _ => throw Bad
            }
          }
        img(i) = addPixels(img(i), pred)
        x += 1
      }
      y += 1
    }
  }

  // -----------------------------------------------------------------
  // container + public decode
  // -----------------------------------------------------------------
  /** Locate the VP8L chunk payload; None for non-WebP and lossy WebP. */
  private def findVp8l(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 20 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != 'F' || b(8) != 'W' || b(9) != 'E' || b(10) != 'B' ||
        b(11) != 'P') return None
    var i = 12
    while (i + 8 <= b.length) {
      val size = leU32(b, i + 4)
      if (size > Int.MaxValue - 16 || i + 8 + size > b.length) return None
      val tag = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (tag == "VP8L") return Some((i + 8, (i + 8 + size).toInt))
      i += 8 + size.toInt + (size.toInt & 1) // chunks are 2-byte aligned
    }
    None
  }

  def decode(b: Array[Byte]): Option[RasterKernels.Raster] = decode(b, null)

  def decode(b: Array[Byte],
             sink: RasterKernels.PixelSink): Option[RasterKernels.Raster] = {
    if (b == null) return None
    try {
      val (from, until) = findVp8l(b) match {
        case Some(p) => p
        case None => return None
      }
      val br = new Br(b, from, until)
      if (br.readBits(8) != 0x2f) throw Bad // signature
      val w = br.readBits(14) + 1
      val h = br.readBits(14) + 1
      br.readBits(1) // alpha hint
      if (br.readBits(3) != 0) throw Bad // version
      if (w.toLong * h > MaxPixels) throw Bad
      val (img, outW) = decodeImageStream(br, w, h, level0 = true)
      if (outW != w || img.length != w * h) throw Bad
      if (sink != null && !sink.begin(w, h)) return None
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img(y * w + x)
          val r = (p >>> 16) & 0xff
          val g = (p >>> 8) & 0xff
          val bl = p & 0xff
          if (sink != null) sink.add(x, y, r, g, bl)
          sr += r; sg += g; sb += bl
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h
      Some(RasterKernels.Raster(w, h, sr / n, sg / n, sb / n))
    } catch { case Refused() => None }
  }

  // -----------------------------------------------------------------
  // fixture encoder: literal-only VP8L (normal prefix codes, no
  // transforms, no cache) — deterministic tooling in the
  // ImageEncoders tradition so tests and queries can build real
  // lossless WebP files without a codec library
  // -----------------------------------------------------------------
  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nb = 0
    def put(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nb
      nb += n
      while (nb >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nb -= 8 }
    }
    def bytes(): Array[Byte] = {
      if (nb > 0) { out.write((acc & 0xff).toInt); acc = 0; nb = 0 }
      out.toByteArray
    }
  }

  /** Canonical code lengths (≤15) for `freq`, Huffman-built; 0-freq
    * symbols get length 0. Package-limited length via frequency
    * doubling fallback is unnecessary at fixture scale. */
  private def buildLengths(freq: Array[Int]): Array[Int] = {
    val n = freq.length
    val active = (0 until n).filter(freq(_) > 0)
    val lens = new Array[Int](n)
    if (active.isEmpty) return lens
    if (active.size == 1) { lens(active.head) = 1; return lens }
    // simple two-queue Huffman over (weight, node); deterministic ties
    case class Node(w: Long, syms: List[Int], depth: Int)
    var heap = scala.collection.immutable.SortedSet.empty[(Long, Int, Int)] // (w, tiebreak, id)
    val nodes = scala.collection.mutable.HashMap.empty[Int, Node]
    var nid = 0
    active.foreach { s =>
      nodes(nid) = Node(freq(s), List(s), 0)
      heap += ((freq(s).toLong, s, nid)); nid += 1
    }
    while (heap.size > 1) {
      val a = heap.head; heap -= a
      val b = heap.head; heap -= b
      val na = nodes(a._3); val nb2 = nodes(b._3)
      na.syms.foreach(s => lens(s) += 1)
      nb2.syms.foreach(s => lens(s) += 1)
      nodes(nid) = Node(na.w + nb2.w, na.syms ++ nb2.syms, 0)
      heap += ((na.w + nb2.w, n + nid, nid))
      nid += 1
    }
    if (lens.max > MaxCodeBits)
      throw new IllegalArgumentException("fixture image too entropic")
    lens
  }

  /** Canonical codes for `lens` (DEFLATE convention). */
  private def canonCodes(lens: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lens.length)
    val count = new Array[Int](MaxCodeBits + 1)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](MaxCodeBits + 2)
    var code = 0
    for (l <- 1 to MaxCodeBits) { next(l) = code; code = (code + count(l)) << 1 }
    for (s <- lens.indices if lens(s) > 0) {
      codes(s) = next(lens(s)); next(lens(s)) += 1
    }
    codes
  }

  private def putCode(bw: Bw, code: Int, len: Int): Unit = {
    // MSB-first emission into the LSB-first stream
    var i = len - 1
    while (i >= 0) { bw.put((code >>> i) & 1, 1); i -= 1 }
  }

  /** Emit one prefix code description (normal form, lengths coded
    * literally — no 16/17/18 runs; fine at fixture scale). */
  private def putPrefixCode(bw: Bw, lens: Array[Int]): Unit = {
    val nz = lens.count(_ > 0)
    if (nz <= 2) {
      // simple form
      val syms = lens.indices.filter(lens(_) > 0)
      bw.put(1, 1)                  // simple
      bw.put(syms.size - 1, 1)
      bw.put(1, 1)                  // first symbol in 8 bits
      bw.put(syms.head, 8)
      if (syms.size == 2) bw.put(syms(1), 8)
      return
    }
    bw.put(0, 1) // normal
    // code-length-code over the length symbols we use (0..15 literal)
    val clFreq = new Array[Int](19)
    lens.foreach(l => clFreq(l) += 1)
    val clLens = buildLengths(clFreq)
    if (clLens.max > 7)
      throw new IllegalArgumentException("cl code too deep for 3-bit field")
    // emit lengths in ClOrder, covering every used symbol
    var needed = 0
    for (i <- ClOrder.indices if clLens(ClOrder(i)) > 0) needed = i + 1
    if (needed < 4) needed = 4
    bw.put(needed - 4, 4)
    for (i <- 0 until needed) bw.put(clLens(ClOrder(i)), 3)
    bw.put(0, 1) // no max-symbol cap
    val clCodes = canonCodes(clLens)
    lens.foreach { l => putCode(bw, clCodes(l), clLens(l)) }
  }

  /** Literal-only lossless WebP of an RGB(A) image. `argb` row-major
    * 0xAARRGGBB. */
  def encodeLossless(w: Int, h: Int, argb: Array[Int]): Array[Byte] = {
    require(w >= 1 && h >= 1 && argb.length == w * h, "bad dimensions")
    val bw = new Bw
    bw.put(0x2f, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1) // alpha hint
    bw.put(0, 3) // version
    bw.put(0, 1) // no transforms
    bw.put(0, 1) // no color cache
    bw.put(0, 1) // no meta prefix codes
    val gFreq = new Array[Int](256 + 24)
    val rFreq = new Array[Int](256)
    val bFreq = new Array[Int](256)
    val aFreq = new Array[Int](256)
    argb.foreach { p =>
      gFreq((p >>> 8) & 0xff) += 1
      rFreq((p >>> 16) & 0xff) += 1
      bFreq(p & 0xff) += 1
      aFreq((p >>> 24) & 0xff) += 1
    }
    val dFreq = new Array[Int](40); dFreq(0) = 1 // unused distance code
    val allLens = Seq(gFreq, rFreq, bFreq, aFreq, dFreq).map(buildLengths)
    allLens.foreach(putPrefixCode(bw, _))
    val allCodes = allLens.map(canonCodes)
    // single-symbol codes cost ZERO bits per occurrence (the decoder
    // side reads none) — emit nothing for those channels
    val single = allLens.map(_.count(_ > 0) == 1)
    def emit(t: Int, s: Int): Unit =
      if (!single(t)) putCode(bw, allCodes(t)(s), allLens(t)(s))
    argb.foreach { p =>
      emit(0, (p >>> 8) & 0xff)
      emit(1, (p >>> 16) & 0xff)
      emit(2, p & 0xff)
      emit(3, (p >>> 24) & 0xff)
    }
    val payload = bw.bytes()
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    val padded = payload.length + (payload.length & 1)
    le32(4 + 8 + padded)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII"))
    le32(payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }
}

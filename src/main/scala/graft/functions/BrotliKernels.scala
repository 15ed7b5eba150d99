package graft.functions

/** Brotli DECODER (round 16) — RFC 7932 implemented from the spec,
  * pure JVM, no codec library: `Content-Encoding: br` is the second
  * most common web content coding after gzip, and `.br` sitemap /
  * robots assets ride the same frames, so the crawl ingest tier needs
  * real decoding, not the round-15 "recognized but undecoded" label.
  *
  * Supported surface — the complete RFC 7932 format:
  *  - stream header (all WBITS forms, window 1 KiB – 16 MiB; the
  *    reserved large-window escape refuses);
  *  - metablocks: compressed, uncompressed (byte-aligned raw copy),
  *    metadata (skipped, length-validated), empty-last;
  *  - prefix codes: simple (1/2/3/4-symbol, both 4-symbol shapes) and
  *    complex (code-length code with HSKIP, 16/17 repeat codes, the
  *    space accounting, single-symbol degenerate codes);
  *  - block-switch machinery for all three categories (types, counts,
  *    the 0/1 previous/next special type codes);
  *  - context modeling: the four literal context modes over the
  *    Appendix C lookup table, distance contexts from copy length,
  *    RLE-coded context maps with inverse move-to-front;
  *  - distances: the 16 ring-buffer short codes (initial 16/15/11/4
  *    history), NDIRECT codes, NPOSTFIX/extra-bit long codes;
  *  - the 122,784-byte static dictionary (Appendix A, shipped as a
  *    classpath resource, SHA-256 = 20e42eb1…f35c70 as published) with
  *    all 121 word transforms (Appendix B: omit-first/last, the UTF-8
  *    aware uppercase ops, prefix/suffix) — dictionary data and
  *    transform table extracted from the public reference library and
  *    cross-validated against its own `BrotliTransformDictionaryWord`
  *    (tools/extract_brotli_data.py).
  *
  * Fail-closed like ZstdKernels: truncation, over/under-subscribed
  * prefix codes, bad block lengths, out-of-range distances, invalid
  * dictionary transforms, nonzero padding bits, trailing bytes after
  * the last metablock, or blowing the inflation cap all return null —
  * a damaged body costs a NULL row, never a task.
  *
  * BrotliSpec validates the decoder against the reference encoder
  * (brotlicffi via the pinned interpreter) across qualities, window
  * sizes and data shapes, the way ZstdSpec pins zstd.
  */
object BrotliKernels {

  import Decode.{Bad, Br, Huff, MaxOut, Refused}

  // -----------------------------------------------------------------
  // Static data (RFC 7932 appendices)
  // -----------------------------------------------------------------

  /** Words-per-length log2 (Appendix A): lengths 4..24. */
  private val SizeBitsByLength: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7,
    8, 7, 7, 6, 6, 5, 5, 0, 0, 0, 0, 0, 0, 0)

  private val OffsetsByLength: Array[Int] = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488,
    74752, 87040, 93696, 100864, 104704, 106752, 108928, 113536,
    115968, 118528, 119872, 121280, 122016, 122784, 122784, 122784,
    122784, 122784, 122784, 122784)

  /** The 122,784-byte static dictionary (Appendix A). */
  private lazy val Dict: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/brotli_dict.bin")
    require(in != null, "brotli_dict.bin resource missing")
    try in.readAllBytes() finally in.close()
  }

  // transform ops: 0 identity, 1..9 omit-last-n, 10 uppercase-first,
  // 11 uppercase-all, 12..20 omit-first-n (Appendix B numbering)
  private lazy val Transforms: Array[(Array[Byte], Int, Array[Byte])] =
    RawTransforms.map { case (p, t, s) =>
      (p.getBytes("ISO-8859-1"), t, s.getBytes("ISO-8859-1")) }

  /** Literal context lookup (Appendix C): 4 modes x 512 bytes;
    * ctx = lut(mode<<9 | p1) | lut(mode<<9 | 256 | p2). */
  private lazy val ContextLut: Array[Int] = {
    val h = ContextLutHex
    Array.tabulate(2048)(i =>
      Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16))
  }

  /** Block count code (26 symbols, RFC section 6). */
  private val BlockLenOffset: Array[Int] = Array(
    1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113, 145, 177, 209,
    241, 305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625)
  private val BlockLenBits: Array[Int] = Array(
    2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9,
    10, 11, 12, 13, 24)

  /** Insert-length code (24 symbols, RFC 5.2). */
  private val InsertOffset: Array[Int] = Array(
    0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98, 130, 194,
    322, 578, 1090, 2114, 6210, 22594)
  private val InsertBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10,
    12, 14, 24)

  /** Copy-length code (24 symbols, RFC 5.2). */
  private val CopyOffset: Array[Int] = Array(
    2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54, 70, 102,
    134, 198, 326, 582, 1094, 2118)
  private val CopyBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8,
    9, 10, 24)

  /** Command code -> (insert range, copy range) (RFC 5.3). */
  private val InsertRangeLut: Array[Int] = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut: Array[Int] = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  /** Fixed prefix code for code-length-code lengths (RFC 3.5):
    * symbols 0..5 with lengths {2,4,3,2,2,4}. */
  private val ClclHuff = new Huff(Array(2, 4, 3, 2, 2, 4))
  private val ClclOrder: Array[Int] = Array(
    1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def log2ceil(n: Int): Int = 32 - Integer.numberOfLeadingZeros(n - 1)

  private def readHuffman(alphabetSize: Int, br: Br): Huff = {
    val kind = br.readBits(2)
    if (kind == 1) {
      // simple code: 1..4 symbols listed explicitly
      val nsym = br.readBits(2) + 1
      val alphaBits = log2ceil(alphabetSize)
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = br.readBits(alphaBits)
        if (s >= alphabetSize) throw Bad
        var j = 0
        while (j < i) { if (syms(j) == s) throw Bad; j += 1 }
        syms(i) = s; i += 1
      }
      val lens = new Array[Int](alphabetSize)
      nsym match {
        case 1 => lens(syms(0)) = 1 // degenerate: decodes with 0 bits
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 => lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case 4 =>
          if (br.readBits(1) == 0) { var j = 0; while (j < 4) { lens(syms(j)) = 2; j += 1 } }
          else { lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 3; lens(syms(3)) = 3 }
      }
      new Huff(lens)
    } else {
      // complex code; `kind` (0, 2 or 3) = leading code-length symbols
      // to skip in the fixed order
      val clLens = new Array[Int](18)
      var space = 32
      var numCodes = 0
      var i = kind
      while (i < 18 && space > 0) {
        val v = ClclHuff.decode(br)
        clLens(ClclOrder(i)) = v
        if (v != 0) { space -= 32 >> v; numCodes += 1 }
        i += 1
      }
      if (space < 0 || !(space == 0 || numCodes == 1)) throw Bad
      val clHuff = new Huff(clLens)
      // symbol code lengths with 16 (repeat-previous) / 17 (zero-run)
      val lens = new Array[Int](alphabetSize)
      var sym = 0
      var space2 = 32768
      var prevLen = 8 // the RFC's initial "previous nonzero length"
      var repeat = 0
      var repeatLen = 0
      while (sym < alphabetSize && space2 > 0) {
        val c = clHuff.decode(br)
        if (c < 16) {
          lens(sym) = c; sym += 1
          if (c != 0) { prevLen = c; space2 -= 32768 >> c }
          repeat = 0
        } else {
          val extraBits = if (c == 16) 2 else 3
          val newLen = if (c == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) { repeat -= 2; repeat <<= extraBits }
          repeat += br.readBits(extraBits) + 3
          val delta = repeat - old
          if (sym + delta > alphabetSize) throw Bad
          var j = 0
          while (j < delta) { lens(sym) = repeatLen; sym += 1; j += 1 }
          if (repeatLen != 0) space2 -= delta << (15 - repeatLen)
        }
      }
      // exact consumption required: the reference decoder refuses a
      // complex code whose lengths under-subscribe the space, INCLUDING
      // the single-nonzero-symbol case Huff would otherwise accept as a
      // degenerate 0-bit code (that reading is reserved for the simple
      // path's NSYM=1 form) — ADVICE r16
      if (space2 != 0) throw Bad
      new Huff(lens)
    }
  }

  // -----------------------------------------------------------------
  // Metablock helpers
  // -----------------------------------------------------------------
  private def decodeVarLenUint8(br: Br): Int =
    if (br.readBits(1) == 0) 0
    else {
      val n = br.readBits(3)
      if (n == 0) 1 else br.readBits(n) + (1 << n)
    }

  private def readContextMap(size: Int, numTrees: Int, br: Br): Array[Int] = {
    val map = new Array[Int](size)
    if (numTrees <= 1) return map
    val rleMax = if (br.readBits(1) == 1) br.readBits(4) + 1 else 0
    val huff = readHuffman(numTrees + rleMax, br)
    var i = 0
    while (i < size) {
      val v = huff.decode(br)
      if (v == 0) { map(i) = 0; i += 1 }
      else if (v <= rleMax) {
        var reps = (1 << v) + br.readBits(v)
        if (i + reps > size) throw Bad
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else { map(i) = v - rleMax; i += 1 }
    }
    if (br.readBits(1) == 1) { // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      var j = 0
      while (j < size) {
        val idx = map(j)
        val value = mtf(idx)
        map(j) = value
        var k = idx
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = value
        j += 1
      }
    }
    map
  }

  private def readBlockLen(countHuff: Huff, br: Br): Int = {
    val sym = countHuff.decode(br)
    BlockLenOffset(sym) + br.readBits(BlockLenBits(sym))
  }

  /** Per-category block-switch state (L/I/D). */
  private final class BlockState(val numTypes: Int, typeHuff: Huff,
                                 countHuff: Huff, br: Br) {
    var btype = 0
    private var prev = 1
    var remaining: Int =
      if (numTypes > 1) readBlockLen(countHuff, br) else Int.MaxValue
    def switchNow(): Unit = {
      if (numTypes <= 1) throw Bad // block ran out with nothing to switch to
      val code = typeHuff.decode(br)
      val nt =
        if (code == 0) prev
        else if (code == 1) (btype + 1) % numTypes
        else code - 2
      prev = btype; btype = nt
      remaining = readBlockLen(countHuff, br)
    }
  }

  private def readWindowBits(br: Br): Int =
    if (br.readBits(1) == 0) 16
    else {
      val n = br.readBits(3)
      if (n != 0) 17 + n
      else {
        val m = br.readBits(3)
        if (m == 0) 17
        else if (m == 1) throw Bad // reserved (large-window escape)
        else 8 + m
      }
    }

  // -----------------------------------------------------------------
  // Dictionary transforms (Appendix B)
  // -----------------------------------------------------------------
  /** UTF-8 aware uppercase of the code point starting at `p`; returns
    * its byte length. Mirrors the RFC's exact (lossy for 3-byte
    * sequences) definition. */
  private def upperAt(buf: Array[Byte], p: Int, end: Int): Int = {
    val c = buf(p) & 0xff
    if (c < 0xc0) {
      if (c >= 'a' && c <= 'z') buf(p) = (c ^ 32).toByte
      1
    } else if (c < 0xe0) {
      if (p + 1 < end) buf(p + 1) = (buf(p + 1) ^ 32).toByte
      2
    } else {
      if (p + 2 < end) buf(p + 2) = (buf(p + 2) ^ 5).toByte
      3
    }
  }

  // -----------------------------------------------------------------
  // Decoder
  // -----------------------------------------------------------------
  /** Decode one complete brotli stream; null on ANY malformation. */
  def decompress(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length == 0) return null
    try decode(b)
    catch { case Refused() => null }
  }

  private def decode(b: Array[Byte]): Array[Byte] = {
    val br = new Br(b)
    val wbits = readWindowBits(br)
    val window = (1 << wbits) - 16
    var out = new Array[Byte](math.min(1 << 16, MaxOut))
    var pos = 0
    def ensure(n: Int): Unit = {
      if (pos + n > MaxOut || pos + n < 0) throw Bad
      if (pos + n > out.length) {
        var cap = out.length
        while (cap < pos + n) cap = math.min(cap << 1, MaxOut)
        out = java.util.Arrays.copyOf(out, cap)
      }
    }
    // distance ring buffer: [oldest..newest] circular; initial history
    // per RFC section 4 — last=4, second=11, third=15, fourth=16
    // (pinned empirically against the reference decoder on hand-built
    // streams: tools/brotli_probe.py, "short code 0..3" probes)
    val distRb = Array(16, 15, 11, 4)
    var rbIdx = 4
    var p1 = 0; var p2 = 0 // last two output bytes (context)

    var isLast = false
    while (!isLast) {
      isLast = br.readBits(1) == 1
      if (isLast && br.readBits(1) == 1) {
        // ISLASTEMPTY
      } else {
        val nibCode = br.readBits(2)
        if (nibCode == 3) {
          // metadata metablock: skipped, not counted as output. A
          // last+metadata block is legal (the reference decoder accepts
          // e.g. the 1-byte stream 0x1a as b'' — ADVICE r16): the loop
          // then exits on isLast and the aligned-at-end check applies.
          if (br.readBits(1) != 0) throw Bad // reserved
          val skipBytes = br.readBits(2)
          var skipLen = 0
          var i = 0
          while (i < skipBytes) {
            val v = br.readBits(8)
            if (i + 1 == skipBytes && skipBytes > 1 && v == 0) throw Bad
            skipLen |= v << (8 * i)
            i += 1
          }
          if (skipBytes > 0) skipLen += 1
          br.alignZero()
          br.skipBytes(skipLen)
        } else {
          val nibbles = 4 + nibCode
          var mlen = 0
          var i = 0
          while (i < nibbles) { mlen |= br.readBits(4) << (4 * i); i += 1 }
          if (nibbles > 4 && (mlen >>> (4 * (nibbles - 1))) == 0) throw Bad
          mlen += 1
          val uncompressed = !isLast && br.readBits(1) == 1
          ensure(mlen)
          if (uncompressed) {
            br.alignZero()
            val start = br.byteIndex
            br.skipBytes(mlen)
            System.arraycopy(b, start, out, pos, mlen)
            pos += mlen
            p1 = out(pos - 1) & 0xff
            p2 = if (pos >= 2) out(pos - 2) & 0xff else 0
          } else {
            // ---- compressed metablock ----
            val catParams = Array.tabulate(3) { _ =>
              val n = decodeVarLenUint8(br) + 1
              if (n >= 2) {
                val th = readHuffman(n + 2, br)
                val ch = readHuffman(26, br)
                new BlockState(n, th, ch, br)
              } else new BlockState(1, null, null, br)
            }
            val blockL = catParams(0)
            val blockI = catParams(1)
            val blockD = catParams(2)
            val npostfix = br.readBits(2)
            val ndirect = br.readBits(4) << npostfix
            val contextModes = Array.fill(blockL.numTypes)(br.readBits(2))
            val ntreesL = decodeVarLenUint8(br) + 1
            val cmapL = readContextMap(blockL.numTypes << 6, ntreesL, br)
            val ntreesD = decodeVarLenUint8(br) + 1
            val cmapD = readContextMap(blockD.numTypes << 2, ntreesD, br)
            val litTrees = Array.fill(ntreesL)(readHuffman(256, br))
            val cmdTrees = Array.fill(blockI.numTypes)(readHuffman(704, br))
            val distAlphabet = 16 + ndirect + (48 << npostfix)
            val distTrees = Array.fill(ntreesD)(readHuffman(distAlphabet, br))

            var metaRemaining = mlen
            while (metaRemaining > 0) {
              if (blockI.remaining == 0) blockI.switchNow()
              blockI.remaining -= 1
              val cmd = cmdTrees(blockI.btype).decode(br)
              val range0 = cmd >>> 6
              val implied0 = range0 < 2
              val ri = if (implied0) range0 else range0 - 2
              val insCode = InsertRangeLut(ri) + ((cmd >>> 3) & 7)
              val copyCode = CopyRangeLut(ri) + (cmd & 7)
              val insLen = InsertOffset(insCode) + br.readBits(InsertBits(insCode))
              val copyLen = CopyOffset(copyCode) + br.readBits(CopyBits(copyCode))
              if (insLen > metaRemaining) throw Bad
              ensure(insLen)
              var i = 0
              while (i < insLen) {
                if (blockL.remaining == 0) blockL.switchNow()
                blockL.remaining -= 1
                val mode = contextModes(blockL.btype)
                val ctx = ContextLut((mode << 9) + p1) |
                  ContextLut((mode << 9) + 256 + p2)
                val lit = litTrees(cmapL((blockL.btype << 6) + ctx)).decode(br)
                out(pos) = lit.toByte
                p2 = p1; p1 = lit
                pos += 1; i += 1
              }
              metaRemaining -= insLen
              if (metaRemaining > 0) {
                var dcode = 0
                var distance = 0
                if (implied0) {
                  distance = distRb((rbIdx - 1) & 3)
                } else {
                  if (blockD.remaining == 0) blockD.switchNow()
                  blockD.remaining -= 1
                  val distCtx = if (copyLen > 4) 3 else copyLen - 2
                  dcode = distTrees(cmapD((blockD.btype << 2) + distCtx))
                    .decode(br)
                  if (dcode < 16) {
                    if (dcode == 0) distance = distRb((rbIdx - 1) & 3)
                    else if (dcode < 4) distance = distRb((rbIdx - 1 - dcode) & 3)
                    else {
                      val base =
                        if (dcode < 10) distRb((rbIdx - 1) & 3)
                        else distRb((rbIdx - 2) & 3)
                      val d0 = if (dcode < 10) dcode - 4 else dcode - 10
                      val delta = (d0 >> 1) + 1
                      distance = if ((d0 & 1) == 0) base - delta else base + delta
                    }
                    if (distance <= 0) throw Bad
                  } else if (dcode < 16 + ndirect) {
                    distance = dcode - 16 + 1
                  } else {
                    val x = dcode - ndirect - 16
                    val ndistbits = 1 + (x >> (npostfix + 1))
                    if (ndistbits > 24) throw Bad
                    val extra = br.readBits(ndistbits)
                    val hcode = x >> npostfix
                    val lcode = x & ((1 << npostfix) - 1)
                    val offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    distance = ((offset + extra) << npostfix) + lcode + ndirect + 1
                    if (distance <= 0) throw Bad // int overflow guard
                  }
                }
                val maxDist = math.min(pos.toLong, window.toLong).toInt
                if (distance <= maxDist) {
                  if (copyLen > metaRemaining) throw Bad
                  ensure(copyLen)
                  var j = 0; var src = pos - distance
                  while (j < copyLen) {
                    out(pos) = out(src); pos += 1; src += 1; j += 1
                  }
                  p1 = out(pos - 1) & 0xff
                  p2 = if (pos >= 2) out(pos - 2) & 0xff else 0
                  metaRemaining -= copyLen
                  if (dcode != 0 || implied0) {
                    // only EXPLICIT nonzero distance codes update the
                    // ring buffer (RFC section 4)
                    if (!implied0 && dcode != 0) {
                      distRb(rbIdx & 3) = distance; rbIdx += 1
                    }
                  }
                } else {
                  // static dictionary reference
                  if (copyLen < 4 || copyLen > 24 ||
                      SizeBitsByLength(copyLen) == 0) throw Bad
                  val wordIdx = distance - maxDist - 1
                  val shift = SizeBitsByLength(copyLen)
                  val wordId = wordIdx & ((1 << shift) - 1)
                  val tid = wordIdx >>> shift
                  if (tid >= Transforms.length || wordIdx < 0) throw Bad
                  val (prefix, op, suffix) = Transforms(tid)
                  var ws = OffsetsByLength(copyLen) + copyLen * wordId
                  var wl = copyLen
                  if (op >= 12) { val cut = op - 11; ws += cut; wl -= cut }
                  else if (op >= 1 && op <= 9) wl -= op
                  if (wl < 0) wl = 0
                  val total = prefix.length + wl + suffix.length
                  if (total == 0) throw Bad // zero-progress command
                  if (total > metaRemaining) throw Bad
                  ensure(total)
                  val wordStart = pos + prefix.length
                  System.arraycopy(prefix, 0, out, pos, prefix.length)
                  System.arraycopy(Dict, ws, out, wordStart, wl)
                  if (op == 10 && wl > 0) upperAt(out, wordStart, wordStart + wl)
                  else if (op == 11) {
                    var q = wordStart
                    while (q < wordStart + wl) q += upperAt(out, q, wordStart + wl)
                  }
                  System.arraycopy(suffix, 0, out, wordStart + wl, suffix.length)
                  pos += total
                  p1 = out(pos - 1) & 0xff
                  p2 = if (pos >= 2) out(pos - 2) & 0xff else 0
                  metaRemaining -= total
                  // dictionary distances never enter the ring buffer
                }
              } else if (copyLen > 0 && insLen == 0 && metaRemaining == 0) {
                // insert consumed the metablock exactly: per RFC the
                // copy part of the final command is not executed
              }
            }
          }
        }
      }
    }
    br.alignZero()
    if (!br.atEnd) throw Bad // trailing bytes after the last metablock
    java.util.Arrays.copyOf(out, pos)
  }

  // -----------------------------------------------------------------
  // Appendix data (extracted + cross-validated by
  // tools/extract_brotli_data.py; see that tool's assertions)
  // -----------------------------------------------------------------
  private val RawTransforms: Array[(String, Int, String)] = Array(
    ("", 0, ""),
    ("", 0, " "),
    (" ", 0, " "),
    ("", 12, ""),
    ("", 10, " "),
    ("", 0, " the "),
    (" ", 0, ""),
    ("s ", 0, " "),
    ("", 0, " of "),
    ("", 10, ""),
    ("", 0, " and "),
    ("", 13, ""),
    ("", 1, ""),
    (", ", 0, " "),
    ("", 0, ", "),
    (" ", 10, " "),
    ("", 0, " in "),
    ("", 0, " to "),
    ("e ", 0, " "),
    ("", 0, "\u0022"),
    ("", 0, "."),
    ("", 0, "\u0022>"),
    ("", 0, "\u000a"),
    ("", 3, ""),
    ("", 0, "]"),
    ("", 0, " for "),
    ("", 14, ""),
    ("", 2, ""),
    ("", 0, " a "),
    ("", 0, " that "),
    (" ", 10, ""),
    ("", 0, ". "),
    (".", 0, ""),
    (" ", 0, ", "),
    ("", 15, ""),
    ("", 0, " with "),
    ("", 0, "'"),
    ("", 0, " from "),
    ("", 0, " by "),
    ("", 16, ""),
    ("", 17, ""),
    (" the ", 0, ""),
    ("", 4, ""),
    ("", 0, ". The "),
    ("", 11, ""),
    ("", 0, " on "),
    ("", 0, " as "),
    ("", 0, " is "),
    ("", 7, ""),
    ("", 1, "ing "),
    ("", 0, "\u000a\u0009"),
    ("", 0, ":"),
    (" ", 0, ". "),
    ("", 0, "ed "),
    ("", 20, ""),
    ("", 18, ""),
    ("", 6, ""),
    ("", 0, "("),
    ("", 10, ", "),
    ("", 8, ""),
    ("", 0, " at "),
    ("", 0, "ly "),
    (" the ", 0, " of "),
    ("", 5, ""),
    ("", 9, ""),
    (" ", 10, ", "),
    ("", 10, "\u0022"),
    (".", 0, "("),
    ("", 11, " "),
    ("", 10, "\u0022>"),
    ("", 0, "=\u0022"),
    (" ", 0, "."),
    (".com/", 0, ""),
    (" the ", 0, " of the "),
    ("", 10, "'"),
    ("", 0, ". This "),
    ("", 0, ","),
    (".", 0, " "),
    ("", 10, "("),
    ("", 10, "."),
    ("", 0, " not "),
    (" ", 0, "=\u0022"),
    ("", 0, "er "),
    (" ", 11, " "),
    ("", 0, "al "),
    (" ", 11, ""),
    ("", 0, "='"),
    ("", 11, "\u0022"),
    ("", 10, ". "),
    (" ", 0, "("),
    ("", 0, "ful "),
    (" ", 10, ". "),
    ("", 0, "ive "),
    ("", 0, "less "),
    ("", 11, "'"),
    ("", 0, "est "),
    (" ", 10, "."),
    ("", 11, "\u0022>"),
    (" ", 0, "='"),
    ("", 10, ","),
    ("", 0, "ize "),
    ("", 11, "."),
    ("\u00c2\u00a0", 0, ""),
    (" ", 0, ","),
    ("", 10, "=\u0022"),
    ("", 11, "=\u0022"),
    ("", 0, "ous "),
    ("", 11, ", "),
    ("", 10, "='"),
    (" ", 10, ","),
    (" ", 11, "=\u0022"),
    (" ", 11, ", "),
    ("", 11, ","),
    ("", 11, "("),
    ("", 11, ". "),
    (" ", 11, "."),
    ("", 11, "='"),
    (" ", 11, ". "),
    (" ", 10, "=\u0022"),
    (" ", 11, "='"),
    (" ", 10, "='"),
  )

  private val ContextLutHex: String =
    
    "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f20212223" +
    "2425262728292a2b2c2d2e2f303132333435363738393a3b3c3d3e3f0001020304050607" +
    "08090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f202122232425262728292a2b" +
    "2c2d2e2f303132333435363738393a3b3c3d3e3f000102030405060708090a0b0c0d0e0f" +
    "101112131415161718191a1b1c1d1e1f202122232425262728292a2b2c2d2e2f30313233" +
    "3435363738393a3b3c3d3e3f000102030405060708090a0b0c0d0e0f1011121314151617" +
    "18191a1b1c1d1e1f202122232425262728292a2b2c2d2e2f303132333435363738393a3b" +
    "3c3d3e3f0000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000010101010202020203030303040404040505050506060606" +
    "0707070708080808090909090a0a0a0a0b0b0b0b0c0c0c0c0d0d0d0d0e0e0e0e0f0f0f0f" +
    "101010101111111112121212131313131414141415151515161616161717171718181818" +
    "191919191a1a1a1a1b1b1b1b1c1c1c1c1d1d1d1d1e1e1e1e1f1f1f1f2020202021212121" +
    "22222222232323232424242425252525262626262727272728282828292929292a2a2a2a" +
    "2b2b2b2b2c2c2c2c2d2d2d2d2e2e2e2e2f2f2f2f30303030313131313232323233333333" +
    "3434343435353535363636363737373738383838393939393a3a3a3a3b3b3b3b3c3c3c3c" +
    "3d3d3d3d3e3e3e3e3f3f3f3f000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000404000004000000000000" +
    "000000000000000000000000080c100c0c140c10181c0c0c200c240c2c2c2c2c2c2c2c2c" +
    "2c2c202018281c0c0c303434343034343430343434343430343434343430343434343418" +
    "0c1c0c0c0c383c3c3c383c3c3c383c3c3c3c3c383c3c3c3c3c383c3c3c3c3c180c1c0c00" +
    "000100010001000100010001000100010001000100010001000100010001000100010001" +
    "000100010001000100010001000100010001000100010001000100010203020302030203" +
    "020302030203020302030203020302030203020302030203020302030203020302030203" +
    "020302030203020302030203020302030203020300000000000000000000000000000000" +
    "000000000000000000000000000000000001010101010101010101010101010102020202" +
    "020202020202010101010101010202020202020202020202020202020202020202020202" +
    "020202010101010101030303030303030303030303030303030303030303030303030301" +
    "010101000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000000000000000000" +
    "000000000000000000000000000000000000000000000000000000000202020202020202" +
    "020202020202020202020202020202020202020202020202000808080808080808080808" +
    "080808081010101010101010101010101010101010101010101010101010101010101010" +
    "101010101010101010101010101010101818181818181818181818181818181818181818" +
    "181818181818181818181818181818181818181818181818181818181818181818181818" +
    "181818181818181820202020202020202020202020202020202020202020202020202020" +
    "202020202020202020202020202020202020202020202020202020202020202020202020" +
    "282828282828282828282828282828282828282828282828282828282828282828282828" +
    "282828282828282828282828303030303030303030303030303030380001010101010101" +
    "010101010101010102020202020202020202020202020202020202020202020202020202" +
    "020202020202020202020202020202020202020203030303030303030303030303030303" +
    "030303030303030303030303030303030303030303030303030303030303030303030303" +
    "030303030303030303030303040404040404040404040404040404040404040404040404" +
    "040404040404040404040404040404040404040404040404040404040404040404040404" +
    "040404040505050505050505050505050505050505050505050505050505050505050505" +
    "0505050505050505050505050505050506060606060606060606060606060607"
}

package graft.functions

/** Zstandard DECODER (round 15) — RFC 8878 implemented from the spec,
  * pure JVM, no codec library: newer CommonCrawl-style archives ship
  * `.warc.zst`, and `Content-Encoding: zstd` is registered for HTTP,
  * so the ingest tier needs real frames decoded, not just labeled
  * (the r14 router labeled them known-but-undecoded; this closes it).
  *
  * Supported surface:
  *  - multi-frame input (zstd frames back to back), skippable frames
  *    (magic 0x184D2A50–5F) skipped;
  *  - frame header: all FCS field sizes, single-segment and windowed,
  *    XXH64 content checksum VERIFIED when present (own [[xxh64]] —
  *    the public XXH64 algorithm);
  *  - dictionaries (r17, §5): structured (entropy tables + recent
  *    offsets + content, embedded ID checked against the frame's
  *    Dictionary_ID) and raw-content forms decode when the dictionary
  *    blob is supplied; a frame declaring Dictionary_ID ≠ 0 WITHOUT a
  *    supplied dictionary is still refused — a content-only decode
  *    would be silently wrong;
  *  - blocks: Raw, RLE, Compressed;
  *  - literals: Raw, RLE, Huffman-compressed (1- and 4-stream, direct
  *    4-bit weights and FSE-compressed weights), Treeless (previous
  *    table reuse);
  *  - sequences: Predefined / RLE / FSE_Compressed / Repeat modes for
  *    LL/OF/ML, the interleaved backward bitstream, the repeat-offset
  *    history with the litLen==0 shifts, overlapping match copies.
  *
  * Fail-closed like every kernel in this family: bad magic, reserved
  * bits, truncation, corrupt FSE/Huffman descriptions, window/offset
  * violations, a checksum mismatch, or blowing the inflation cap all
  * return null — a damaged archive costs a NULL row, never a task or
  * a silently half-ingested prefix.
  *
  * [[compressStore]] is the spec-compliant STORE-mode compressor (raw
  * blocks only) — fixture tooling so tests and in-plan queries can
  * produce valid frames without a native library; ZstdSpec roundtrips
  * the decoder against the real `zstd` CLI across levels and shapes.
  */
object ZstdKernels {

  import Decode.{Bad, MaxOut, Refused, leI64, leU16, leU32}

  // -----------------------------------------------------------------
  // XXH64 (public algorithm)
  // -----------------------------------------------------------------
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  /** XXH64 of b[off, off+len) with seed 0 — zstd's content checksum. */
  def xxh64(b: Array[Byte], off: Int, len: Int): Long = {
    var h: Long = 0L
    var i = off
    val end = off + len
    def round(acc: Long, in: Long): Long =
      java.lang.Long.rotateLeft(acc + in * P2, 31) * P1
    if (len >= 32) {
      var v1 = P1 + P2; var v2 = P2; var v3 = 0L; var v4 = -P1
      while (i + 32 <= end) {
        v1 = round(v1, leI64(b, i)); v2 = round(v2, leI64(b, i + 8))
        v3 = round(v3, leI64(b, i + 16)); v4 = round(v4, leI64(b, i + 24))
        i += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      def merge(acc: Long, v: Long): Long = (acc ^ round(0L, v)) * P1 + P4
      h = merge(h, v1); h = merge(h, v2); h = merge(h, v3); h = merge(h, v4)
    } else h = P5
    h += len
    while (i + 8 <= end) {
      h = java.lang.Long.rotateLeft(h ^ round(0L, leI64(b, i)), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= end) {
      h = java.lang.Long.rotateLeft(h ^ (leU32(b, i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < end) {
      h = java.lang.Long.rotateLeft(h ^ ((b(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // -----------------------------------------------------------------
  // backward bitstream (§3.1.1.3.2.1.1): values written LSB-first;
  // reading starts below the last byte's highest set bit (the padding
  // sentinel) and walks down. Reads past the start return ZERO bits
  // and flip `overflowed` — the reference's reload semantics; callers
  // decide whether phantom bits are tail slack (Huffman lookahead,
  // FSE-weights termination) or corruption (sequences).
  // -----------------------------------------------------------------
  private final class BackBits(b: Array[Byte], start: Int, end: Int) {
    private var bitPos: Int = {
      if (end <= start) throw Bad
      val last = b(end - 1) & 0xff
      if (last == 0) throw Bad // missing sentinel
      (end - start - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    }
    var overflowed = false
    private def bitsAt(lo: Int, n: Int): Int = {
      // bits [lo, lo+n) of the LSB-first container starting at `start`
      var acc = 0L
      val firstByte = start + (lo >> 3)
      val lastByte = start + ((lo + n + 7) >> 3)
      var i = math.min(lastByte, end) - 1
      while (i >= firstByte) { acc = (acc << 8) | (b(i) & 0xffL); i -= 1 }
      ((acc >>> (lo & 7)) & ((1L << n) - 1)).toInt
    }
    /** Read n ≤ 32 bits; short reads zero-fill the missing low bits. */
    def read(n: Int): Int = {
      if (n == 0) return 0
      if (n > bitPos) {
        val have = math.max(bitPos, 0)
        val v = if (have > 0) bitsAt(0, have) else 0
        bitPos -= n
        overflowed = true
        v << (n - have) // missing bits enter as zeros at the LOW end
      } else {
        bitPos -= n
        bitsAt(bitPos, n)
      }
    }
    /** Peek n bits without consuming (zero-filled past the start). */
    def peek(n: Int): Int = {
      if (n <= bitPos) bitsAt(bitPos - n, n)
      else {
        val have = math.max(bitPos, 0)
        (if (have > 0) bitsAt(0, have) else 0) << (n - have)
      }
    }
    def consume(n: Int): Unit = {
      bitPos -= n
      if (bitPos < 0) overflowed = true
    }
    def remaining: Int = bitPos
    def finishedExactly: Boolean = bitPos == 0 && !overflowed
  }

  // -----------------------------------------------------------------
  // forward bit reader for FSE table descriptions (§4.1.1), LSB-first
  // -----------------------------------------------------------------
  private final class FwdBits(b: Array[Byte], var pos: Int, val end: Int) {
    private var acc = 0L
    private var nbits = 0
    private def fill(): Unit =
      while (nbits <= 56 && pos < end) {
        acc |= (b(pos) & 0xffL) << nbits; nbits += 8; pos += 1
      }
    def peek(n: Int): Int = { fill(); (acc & ((1L << n) - 1)).toInt }
    def consume(n: Int): Unit = {
      fill(); if (n > nbits) throw Bad
      acc >>>= n; nbits -= n
    }
    def byteAlignedPos: Int = pos - (nbits >> 3)
  }

  // -----------------------------------------------------------------
  // FSE (§4.1)
  // -----------------------------------------------------------------
  private final class FseTable(val log: Int, val symbol: Array[Int],
                               val nbBits: Array[Int], val base: Array[Int])

  private def fseBuild(counts: Array[Int], log: Int): FseTable = {
    val size = 1 << log
    val spread = new Array[Int](size)
    java.util.Arrays.fill(spread, -1)
    var high = size - 1
    for (s <- counts.indices if counts(s) == -1) {
      spread(high) = s; high -= 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    for (s <- counts.indices if counts(s) > 0) {
      var k = 0
      while (k < counts(s)) {
        spread(pos) = s
        pos = (pos + step) & mask
        while (pos > high) pos = (pos + step) & mask
        k += 1
      }
    }
    if (pos != 0) throw Bad
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    val base = new Array[Int](size)
    val next = new Array[Int](counts.length)
    for (s <- counts.indices)
      next(s) = if (counts(s) == -1) 1 else counts(s)
    var i = 0
    while (i < size) {
      val s = spread(i)
      if (s < 0) throw Bad
      symbol(i) = s
      val x = next(s); next(s) += 1
      val hb = 31 - Integer.numberOfLeadingZeros(x)
      nbBits(i) = log - hb
      base(i) = (x << nbBits(i)) - size
      i += 1
    }
    new FseTable(log, symbol, nbBits, base)
  }

  /** FSE table description (§4.1.1), the spec's canonical read-NCount
    * procedure; returns (table, byte position after the description). */
  private def fseRead(b: Array[Byte], pos: Int, end: Int, maxLog: Int,
                      maxSymbol: Int): (FseTable, Int) = {
    val in = new FwdBits(b, pos, end)
    val accuracyLog = in.peek(4) + 5; in.consume(4)
    if (accuracyLog > maxLog) throw Bad
    val size = 1 << accuracyLog
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var remaining = size + 1
    var threshold = size
    var nbBits = accuracyLog + 1
    var prevZero = false
    while (remaining > 1) {
      if (counts.length > maxSymbol) throw Bad
      if (prevZero) {
        var rep = in.peek(2); in.consume(2)
        while (rep == 3) {
          counts += 0; counts += 0; counts += 0
          if (counts.length > maxSymbol + 1) throw Bad
          rep = in.peek(2); in.consume(2)
        }
        var k = 0
        while (k < rep) { counts += 0; k += 1 }
        if (counts.length > maxSymbol + 1) throw Bad
        prevZero = false
      } else {
        while (remaining < threshold) { nbBits -= 1; threshold >>= 1 }
        val max = (threshold << 1) - 1 - remaining
        var value = in.peek(nbBits)
        if ((value & (threshold - 1)) < max) {
          in.consume(nbBits - 1)
          value &= threshold - 1
        } else {
          in.consume(nbBits)
          value &= (threshold << 1) - 1
          if (value >= threshold) value -= max
        }
        val count = value - 1
        counts += count
        remaining -= (if (count < 0) -count else count)
        if (remaining < 1) throw Bad
        prevZero = count == 0
      }
    }
    if (remaining != 1 || counts.length > maxSymbol + 1) throw Bad
    (fseBuild(counts.toArray, accuracyLog), in.byteAlignedPos)
  }

  // -----------------------------------------------------------------
  // Huffman (§4.2)
  // -----------------------------------------------------------------
  private final class HuffTable(val maxBits: Int, val symbol: Array[Int],
                                val nbBits: Array[Int])

  private def huffBuild(weights: Array[Int]): HuffTable = {
    if (weights.length > 255) throw Bad // +1 implicit symbol; 256 total max
    var sum = 0L
    weights.foreach { w =>
      if (w < 0 || w > 11) throw Bad
      if (w > 0) sum += (1L << (w - 1))
    }
    if (sum == 0) throw Bad
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(sum) // floor(log2)+1
    if (maxBits > 11) throw Bad
    val left = (1L << maxBits) - sum
    if (left == 0 || (left & (left - 1)) != 0) throw Bad
    val lastW = java.lang.Long.numberOfTrailingZeros(left).toInt + 1
    val all = weights :+ lastW
    val size = 1 << maxBits.toInt
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    // canonical fill: weight ascending (longest codes first), symbol
    // ascending within a weight (§4.2.1)
    var cell = 0
    var w = 1
    while (w <= maxBits) {
      var s = 0
      while (s < all.length) {
        if (all(s) == w) {
          val n = 1 << (w - 1)
          var k = 0
          while (k < n) {
            if (cell >= size) throw Bad
            symbol(cell) = s; nbBits(cell) = maxBits.toInt + 1 - w
            cell += 1; k += 1
          }
        }
        s += 1
      }
      w += 1
    }
    if (cell != size) throw Bad
    new HuffTable(maxBits.toInt, symbol, nbBits)
  }

  /** Huffman tree description at `pos` (§4.2.1); (table, pos'). */
  private def huffRead(b: Array[Byte], pos: Int, end: Int): (HuffTable, Int) = {
    if (pos >= end) throw Bad
    val h = b(pos) & 0xff
    if (h >= 128) { // direct: h-127 weights, 4 bits each
      val n = h - 127
      val bytes = (n + 1) / 2
      if (pos + 1 + bytes > end) throw Bad
      val weights = new Array[Int](n)
      var i = 0
      while (i < n) {
        val by = b(pos + 1 + i / 2) & 0xff
        weights(i) = if (i % 2 == 0) by >> 4 else by & 0xf
        i += 1
      }
      (huffBuild(weights), pos + 1 + bytes)
    } else { // FSE-compressed weight stream of h bytes
      if (h == 0 || pos + 1 + h > end) throw Bad
      val (tab, dataPos) = fseRead(b, pos + 1, pos + 1 + h, 6, 255)
      if (dataPos >= pos + 1 + h) throw Bad
      val bits = new BackBits(b, dataPos, pos + 1 + h)
      var s1 = bits.read(tab.log)
      var s2 = bits.read(tab.log)
      if (bits.overflowed) throw Bad
      val weights = scala.collection.mutable.ArrayBuffer.empty[Int]
      // two interleaved states; when a state update crosses the start
      // of the stream, the OTHER state flushes its symbol and we stop
      var done = false
      while (!done) {
        // ≤253 before a possible DOUBLE append: the s2 flush below must
        // never push the explicit count past 255 (one more weight is
        // implicit), or symbol 256 would silently decode as 0x00
        // instead of failing closed (r15 review)
        if (weights.length > 253) throw Bad
        weights += tab.symbol(s1)
        val nb = tab.nbBits(s1)
        if (nb > bits.remaining) {
          weights += tab.symbol(s2); done = true
        } else {
          s1 = tab.base(s1) + bits.read(nb)
          val t = s1; s1 = s2; s2 = t
        }
      }
      (huffBuild(weights.toArray), pos + 1 + h)
    }
  }

  /** Decode one Huffman stream into out[outPos, outPos+n): sliding
    * maxBits lookahead, zero-padded at the tail, must drain exactly. */
  private def huffStream(tab: HuffTable, b: Array[Byte], start: Int, end: Int,
                         out: Array[Byte], outPos: Int, n: Int): Unit = {
    val bits = new BackBits(b, start, end)
    var i = 0
    while (i < n) {
      val idx = bits.peek(tab.maxBits)
      out(outPos + i) = tab.symbol(idx).toByte
      bits.consume(tab.nbBits(idx))
      i += 1
    }
    if (bits.remaining != 0) throw Bad // must consume the stream exactly
  }

  // -----------------------------------------------------------------
  // sequences (§3.1.1.3.2): predefined distributions + code tables
  // (RFC 8878 public spec constants)
  // -----------------------------------------------------------------
  private val LLDefaults = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MLDefaults = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OFDefaults = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private lazy val LLDefaultTable = fseBuild(LLDefaults, 6)
  private lazy val MLDefaultTable = fseBuild(MLDefaults, 6)
  private lazy val OFDefaultTable = fseBuild(OFDefaults, 5)

  private val LLBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536)
  private val LLExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051,
    4099, 8195, 16387, 32771, 65539)
  private val MLExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Decoder state carried ACROSS blocks within one frame. */
  private final class FrameState {
    var huff: HuffTable = null
    var ll: FseTable = null
    var of: FseTable = null
    var ml: FseTable = null
    var rep1 = 1L; var rep2 = 4L; var rep3 = 8L
  }

  /** Frame-local decoded buffer — both the output and the match
    * window. */
  private final class GrowBuf {
    var buf = new Array[Byte](1 << 16)
    var size = 0
    private def ensure(n: Int): Unit = {
      if (n < 0 || size + n > MaxOut) throw Bad
      if (size + n > buf.length) {
        var cap = buf.length
        while (cap < size + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, math.min(cap, MaxOut + 64))
      }
    }
    def append(src: Array[Byte], off: Int, len: Int): Unit = {
      if (len < 0 || off < 0 || off + len > src.length) throw Bad
      ensure(len)
      System.arraycopy(src, off, buf, size, len)
      size += len
    }
    def appendRun(v: Byte, len: Int): Unit = {
      ensure(len)
      java.util.Arrays.fill(buf, size, size + len, v)
      size += len
    }
    /** Dictionary content prepended to the match history (r17, RFC
      * 8878 §5): offsets past the decoded output read its tail. */
    var hist: Array[Byte] = null
    def histLen: Long = if (hist == null) 0L else hist.length.toLong

    /** Copy `len` bytes from `offset` back (byte-wise: overlap legal). */
    def selfCopy(offset: Long, len: Int): Unit = {
      if (offset <= 0 || offset > size) throw Bad
      ensure(len)
      val from = size - offset.toInt
      var i = 0
      while (i < len) { buf(size + i) = buf(from + i); i += 1 }
      size += len
    }

    /** Match copy whose source starts inside the dictionary content
      * (offset > size); walks byte-wise so a match can span from the
      * dictionary into freshly decoded output. */
    def historyCopy(offset: Long, len: Int): Unit = {
      if (offset <= 0 || offset > size + histLen) throw Bad
      ensure(len)
      var i = 0
      while (i < len) {
        val src = size - offset // negative → dictionary tail
        buf(size) =
          if (src >= 0) buf(src.toInt)
          else hist(hist.length + src.toInt)
        size += 1
        i += 1
      }
    }
  }

  // -----------------------------------------------------------------
  // dictionaries (r17, RFC 8878 §5): magic 0xEC30A437 → Dictionary_ID,
  // entropy tables (Huffman literals, then FSE offsets / match
  // lengths / literals lengths), three recent offsets, content; a blob
  // without the magic is a RAW content dictionary (history only).
  // -----------------------------------------------------------------
  private final class Dict(val dictId: Long, val content: Array[Byte],
                           val huff: HuffTable, val ll: FseTable,
                           val of: FseTable, val ml: FseTable,
                           val rep1: Long, val rep2: Long, val rep3: Long,
                           val structured: Boolean)

  private def parseDict(d: Array[Byte]): Dict = {
    if (d == null || d.length == 0) throw Bad
    if (d.length < 8 || leU32(d, 0) != 0xEC30A437L)
      return new Dict(0L, d, null, null, null, null, 1L, 4L, 8L,
        structured = false)
    val dictId = leU32(d, 4)
    var pos = 8
    val (huffT, p1) = huffRead(d, pos, d.length); pos = p1
    val (ofT, p2) = fseRead(d, pos, d.length, 8, 31); pos = p2
    val (mlT, p3) = fseRead(d, pos, d.length, 9, 52); pos = p3
    val (llT, p4) = fseRead(d, pos, d.length, 9, 35); pos = p4
    if (pos + 12 > d.length) throw Bad
    val r1 = leU32(d, pos); val r2 = leU32(d, pos + 4); val r3 = leU32(d, pos + 8)
    if (r1 <= 0 || r2 <= 0 || r3 <= 0) throw Bad
    pos += 12
    val content = java.util.Arrays.copyOfRange(d, pos, d.length)
    new Dict(dictId, content, huffT, llT, ofT, mlT, r1, r2, r3,
      structured = true)
  }

  // -----------------------------------------------------------------
  // literals section (§3.1.1.3.1)
  // -----------------------------------------------------------------
  private def literals(b: Array[Byte], pos: Int, blockEnd: Int,
                       st: FrameState): (Array[Byte], Int) = {
    if (pos >= blockEnd) throw Bad
    val h0 = b(pos) & 0xff
    val blockType = h0 & 3
    val sizeFormat = (h0 >> 2) & 3
    blockType match {
      case 0 | 1 => // Raw | RLE
        val (regen, hdr) = sizeFormat match {
          case 0 | 2 => (h0 >> 3, 1)
          case 1 =>
            if (pos + 2 > blockEnd) throw Bad
            ((h0 >> 4) | ((b(pos + 1) & 0xff) << 4), 2)
          case _ =>
            if (pos + 3 > blockEnd) throw Bad
            ((h0 >> 4) | ((b(pos + 1) & 0xff) << 4) |
              ((b(pos + 2) & 0xff) << 12), 3)
        }
        if (regen > MaxOut) throw Bad
        if (blockType == 0) {
          if (pos + hdr + regen > blockEnd) throw Bad
          (java.util.Arrays.copyOfRange(b, pos + hdr, pos + hdr + regen),
            pos + hdr + regen)
        } else {
          if (pos + hdr + 1 > blockEnd) throw Bad
          val out = new Array[Byte](regen)
          java.util.Arrays.fill(out, b(pos + hdr))
          (out, pos + hdr + 1)
        }
      case _ => // Compressed (2) | Treeless (3)
        val (regen, comp, streams4, hdr) = sizeFormat match {
          case 0 | 1 =>
            if (pos + 3 > blockEnd) throw Bad
            val v = (h0 >> 4) | ((b(pos + 1) & 0xff) << 4) |
              ((b(pos + 2) & 0xff) << 12)
            (v & 0x3ff, (v >> 10) & 0x3ff, sizeFormat == 1, 3)
          case 2 =>
            if (pos + 4 > blockEnd) throw Bad
            val v = (h0 >> 4).toLong | ((b(pos + 1) & 0xffL) << 4) |
              ((b(pos + 2) & 0xffL) << 12) | ((b(pos + 3) & 0xffL) << 20)
            ((v & 0x3fff).toInt, ((v >> 14) & 0x3fff).toInt, true, 4)
          case _ =>
            if (pos + 5 > blockEnd) throw Bad
            val v = (h0 >> 4).toLong | ((b(pos + 1) & 0xffL) << 4) |
              ((b(pos + 2) & 0xffL) << 12) | ((b(pos + 3) & 0xffL) << 20) |
              ((b(pos + 4) & 0xffL) << 28)
            ((v & 0x3ffff).toInt, ((v >> 18) & 0x3ffff).toInt, true, 5)
        }
        if (regen > MaxOut || comp <= 0) throw Bad
        val dataEnd = pos + hdr + comp
        if (dataEnd > blockEnd) throw Bad
        var p = pos + hdr
        val tab =
          if (blockType == 2) { val (t, p2) = huffRead(b, p, dataEnd); p = p2; t }
          else { if (st.huff == null) throw Bad; st.huff }
        st.huff = tab
        val out = new Array[Byte](regen)
        if (!streams4) {
          if (p >= dataEnd) { if (regen != 0) throw Bad }
          else huffStream(tab, b, p, dataEnd, out, 0, regen)
        } else {
          if (p + 6 > dataEnd) throw Bad
          val s1 = leU16(b, p); val s2 = leU16(b, p + 2); val s3 = leU16(b, p + 4)
          val start1 = p + 6
          val start2 = start1 + s1
          val start3 = start2 + s2
          val start4 = start3 + s3
          if (start4 > dataEnd) throw Bad
          val part = (regen + 3) / 4
          val n4 = regen - 3 * part
          if (n4 < 0) throw Bad
          huffStream(tab, b, start1, start2, out, 0, part)
          huffStream(tab, b, start2, start3, out, part, part)
          huffStream(tab, b, start3, start4, out, 2 * part, part)
          huffStream(tab, b, start4, dataEnd, out, 3 * part, n4)
        }
        (out, dataEnd)
    }
  }

  private def seqTable(b: Array[Byte], posRef: Array[Int], end: Int,
                       mode: Int, prev: FseTable, default: FseTable,
                       maxLog: Int, maxSymbol: Int): FseTable = mode match {
    case 0 => default
    case 1 =>
      if (posRef(0) >= end) throw Bad
      val sym = b(posRef(0)) & 0xff; posRef(0) += 1
      if (sym > maxSymbol) throw Bad
      new FseTable(0, Array(sym), Array(0), Array(0))
    case 2 =>
      val (t, p2) = fseRead(b, posRef(0), end, maxLog, maxSymbol)
      posRef(0) = p2; t
    case _ =>
      if (prev == null) throw Bad
      prev
  }

  private def compressedBlock(b: Array[Byte], pos0: Int, blockEnd: Int,
                              st: FrameState, buf: GrowBuf,
                              windowBase: Int, windowSize: Long): Unit = {
    val (lits, afterLits) = literals(b, pos0, blockEnd, st)
    var pos = afterLits
    if (pos >= blockEnd) throw Bad
    val b0 = b(pos) & 0xff
    var nbSeq = 0
    if (b0 < 128) { nbSeq = b0; pos += 1 }
    else if (b0 < 255) {
      if (pos + 2 > blockEnd) throw Bad
      nbSeq = ((b0 - 128) << 8) + (b(pos + 1) & 0xff); pos += 2
    } else {
      if (pos + 3 > blockEnd) throw Bad
      nbSeq = (b(pos + 1) & 0xff) + ((b(pos + 2) & 0xff) << 8) + 0x7f00
      pos += 3
    }
    if (nbSeq == 0) {
      if (pos != blockEnd) throw Bad
      buf.append(lits, 0, lits.length)
      return
    }
    if (pos >= blockEnd) throw Bad
    val modes = b(pos) & 0xff; pos += 1
    if ((modes & 3) != 0) throw Bad // reserved
    val pr = Array(pos)
    val llT = seqTable(b, pr, blockEnd, (modes >> 6) & 3, st.ll,
      LLDefaultTable, 9, 35)
    val ofT = seqTable(b, pr, blockEnd, (modes >> 4) & 3, st.of,
      OFDefaultTable, 8, 31)
    val mlT = seqTable(b, pr, blockEnd, (modes >> 2) & 3, st.ml,
      MLDefaultTable, 9, 52)
    st.ll = llT; st.of = ofT; st.ml = mlT
    pos = pr(0)
    if (pos >= blockEnd) throw Bad
    val bits = new BackBits(b, pos, blockEnd)
    var llS = bits.read(llT.log)
    var ofS = bits.read(ofT.log)
    var mlS = bits.read(mlT.log)
    if (bits.overflowed) throw Bad
    var litPos = 0
    var seq = 0
    while (seq < nbSeq) {
      val ofCode = ofT.symbol(ofS)
      if (ofCode > 31) throw Bad
      val ofValue = (1L << ofCode) + (bits.read(ofCode) & 0xffffffffL)
      val mlCode = mlT.symbol(mlS)
      val matchLen = MLBase(mlCode) + bits.read(MLExtra(mlCode))
      val llCode = llT.symbol(llS)
      val litLen = LLBase(llCode) + bits.read(LLExtra(llCode))
      if (bits.overflowed) throw Bad
      var offset = 0L
      if (ofValue > 3) {
        offset = ofValue - 3
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
      } else {
        var ov = ofValue
        if (litLen == 0) ov += 1
        ov match {
          case 1 => offset = st.rep1
          case 2 =>
            offset = st.rep2
            st.rep2 = st.rep1; st.rep1 = offset
          case 3 =>
            offset = st.rep3
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
          case _ =>
            offset = st.rep1 - 1
            if (offset <= 0) throw Bad
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        }
      }
      if (litPos + litLen > lits.length) throw Bad
      buf.append(lits, litPos, litLen)
      litPos += litLen
      // dictionary content extends the reachable history (§5): offsets
      // may run up to Window_Size + dictionary length back
      if (offset > buf.size - windowBase + buf.histLen &&
          offset > windowSize + buf.histLen) throw Bad
      if (offset > buf.size + buf.histLen) throw Bad
      if (offset > buf.size) buf.historyCopy(offset, matchLen)
      else buf.selfCopy(offset, matchLen)
      seq += 1
      if (seq < nbSeq) {
        llS = llT.base(llS) + bits.read(llT.nbBits(llS))
        mlS = mlT.base(mlS) + bits.read(mlT.nbBits(mlS))
        ofS = ofT.base(ofS) + bits.read(ofT.nbBits(ofS))
        if (bits.overflowed) throw Bad
      }
    }
    if (!bits.finishedExactly) throw Bad
    val rest = lits.length - litPos
    if (rest > 0) buf.append(lits, litPos, rest)
  }

  // -----------------------------------------------------------------
  // frame walk
  // -----------------------------------------------------------------
  /** Decompress one or more concatenated zstd frames (skippable frames
    * skipped); null on any corruption, dictionary requirement,
    * checksum mismatch, or the cap. */
  def decompress(b: Array[Byte]): Array[Byte] = decompress(b, null)

  /** Dictionary form (r17, RFC 8878 §5): `dict` may be a structured
    * dictionary (magic 0xEC30A437 — entropy tables + recent offsets +
    * content; a frame's non-zero Dictionary_ID must match its ID) or
    * raw content (history only). Frames with Dictionary_ID ≠ 0 and no
    * supplied dictionary are still refused. */
  def decompress(b: Array[Byte], dictBytes: Array[Byte]): Array[Byte] = {
    if (b == null || b.length == 0) return null
    try {
      val dict = if (dictBytes == null) null else parseDict(dictBytes)
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
      var pos = 0
      var frames = 0
      while (pos < b.length) {
        if (pos + 4 > b.length) throw Bad
        val magic = leU32(b, pos)
        if ((magic & 0xfffffff0L) == 0x184d2a50L) { // skippable
          if (pos + 8 > b.length) throw Bad
          val sz = leU32(b, pos + 4)
          if (pos + 8 + sz > b.length) throw Bad
          pos += 8 + sz.toInt
        } else if (magic == 0xfd2fb528L) {
          pos = frame(b, pos + 4, out, dict)
          frames += 1
        } else throw Bad
      }
      if (frames == 0) throw Bad
      out.toByteArray
    } catch { case Refused() => null }
  }

  private def frame(b: Array[Byte], start: Int,
                    out: java.io.ByteArrayOutputStream, dict: Dict): Int = {
    var pos = start
    if (pos >= b.length) throw Bad
    val fhd = b(pos) & 0xff; pos += 1
    val fcsFlag = fhd >> 6
    val singleSegment = (fhd & 0x20) != 0
    if ((fhd & 0x08) != 0) throw Bad // Reserved_bit must be 0
    val checksum = (fhd & 0x04) != 0
    val didSize = fhd & 3
    var windowSize = 0L
    if (!singleSegment) {
      if (pos >= b.length) throw Bad
      val wd = b(pos) & 0xff; pos += 1
      val exp = wd >> 3
      val mantissa = wd & 7
      val base = 1L << (10 + exp)
      windowSize = base + (base / 8) * mantissa
    }
    val didBytes = didSize match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    if (pos + didBytes > b.length) throw Bad
    var dictId = 0L
    var i = 0
    while (i < didBytes) { dictId |= (b(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += didBytes
    // a declared dictionary requires a supplied one whose embedded ID
    // matches (raw dictionaries carry no ID to check); content-only
    // decodes of dictionary frames would be silently wrong
    if (dictId != 0 &&
        (dict == null || (dict.structured && dict.dictId != dictId)))
      throw Bad
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2; case 2 => 4; case _ => 8
    }
    if (pos + fcsBytes > b.length) throw Bad
    var fcs = -1L
    if (fcsBytes > 0) {
      fcs = 0L
      var k = 0
      while (k < fcsBytes) { fcs |= (b(pos + k) & 0xffL) << (8 * k); k += 1 }
      if (fcsBytes == 2) fcs += 256
      pos += fcsBytes
    }
    if (singleSegment) windowSize = fcs
    if (fcs > MaxOut || windowSize > MaxOut) throw Bad
    val st = new FrameState
    val buf = new GrowBuf
    if (dict != null) {
      buf.hist = dict.content
      st.huff = dict.huff
      st.ll = dict.ll; st.of = dict.of; st.ml = dict.ml
      st.rep1 = dict.rep1; st.rep2 = dict.rep2; st.rep3 = dict.rep3
    }
    var last = false
    while (!last) {
      if (pos + 3 > b.length) throw Bad
      val bh = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
        ((b(pos + 2) & 0xff) << 16)
      pos += 3
      last = (bh & 1) != 0
      val btype = (bh >> 1) & 3
      val bsize = bh >> 3
      btype match {
        case 0 =>
          if (pos + bsize > b.length) throw Bad
          buf.append(b, pos, bsize)
          pos += bsize
        case 1 =>
          if (pos + 1 > b.length) throw Bad
          if (bsize > MaxOut) throw Bad
          buf.appendRun(b(pos), bsize)
          pos += 1
        case 2 =>
          if (bsize == 0 || pos + bsize > b.length) throw Bad
          compressedBlock(b, pos, pos + bsize, st, buf, 0,
            if (windowSize > 0) windowSize else MaxOut.toLong)
          pos += bsize
        case _ => throw Bad
      }
    }
    if (fcs >= 0 && buf.size != fcs) throw Bad
    if (checksum) {
      if (pos + 4 > b.length) throw Bad
      val want = leU32(b, pos)
      pos += 4
      if ((xxh64(buf.buf, 0, buf.size) & 0xffffffffL) != want) throw Bad
    }
    out.write(buf.buf, 0, buf.size)
    if (out.size() > MaxOut) throw Bad
    pos
  }

  // -----------------------------------------------------------------
  // store-mode compressor (fixture tooling)
  // -----------------------------------------------------------------
  /** Spec-compliant STORE-mode zstd frame: single-segment, 4-byte FCS,
    * raw blocks, optional XXH64 checksum. Any zstd implementation
    * decodes it; [[ZstdSpec]] checks that with the real CLI. */
  def compressStore(data: Array[Byte],
                    withChecksum: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 32)
    def le32(v: Long): Unit = {
      var k = 0
      while (k < 4) { out.write(((v >>> (8 * k)) & 0xff).toInt); k += 1 }
    }
    le32(0xfd2fb528L)
    // FCS flag 2 (4 bytes) | single-segment | optional checksum
    out.write((2 << 6) | 0x20 | (if (withChecksum) 0x04 else 0))
    le32(data.length.toLong)
    val BlockMax = (1 << 17) - 1
    var off = 0
    var done = false
    while (!done) {
      val n = math.min(BlockMax, data.length - off)
      val lastBlock = off + n >= data.length
      val bh = (n << 3) | (if (lastBlock) 1 else 0) // type 00 = raw
      out.write(bh & 0xff); out.write((bh >> 8) & 0xff)
      out.write((bh >> 16) & 0xff)
      out.write(data, off, n)
      off += n
      done = lastBlock
    }
    if (withChecksum) le32(xxh64(data, 0, data.length) & 0xffffffffL)
    out.toByteArray
  }
}

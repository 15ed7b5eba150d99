package graft.functions

/** LZ4 Frame DECODER — the `.lz4` container common in data lakes and
  * log shipping (kafka dumps, container layers, fast cold storage).
  * Implemented from the public LZ4 Frame Format and Block Format
  * specifications (lz4.github.io/lz4), pure JVM.
  *
  * Supported surface:
  *  - frame magic 0x184D2204 (LE), FLG/BD descriptor with header
  *    checksum VERIFIED (XXH32>>8, own implementation of the public
  *    XXH32 algorithm), all block max sizes (64 KB..4 MB);
  *  - content size field (verified against the decoded length when
  *    present), content checksum (XXH32, verified when present),
  *    per-block checksums (verified when present);
  *  - block-independent AND block-linked frames (matches may reach
  *    back across block boundaries into the rolling 64 KB window —
  *    decoding into one continuous buffer handles both);
  *  - uncompressed blocks (high bit of the block size), compressed
  *    blocks in the LZ4 block format (token nibbles, 255-run length
  *    extensions, 2-byte LE offsets, overlapping matches);
  *  - multi-frame concatenation, skippable frames (0x184D2A50-5F),
  *    and the LEGACY frame format 0x184C2102 (`lz4 -l`, fixed 8 MB
  *    blocks, no trailer);
  *  - frames declaring a DictID are REFUSED — a content-only decode
  *    against an absent dictionary would be silently wrong.
  *
  * Fail-closed: bad magic, a reserved FLG/BD bit, a header/block/
  * content checksum mismatch, a malformed sequence (offset 0, offset
  * beyond history, runaway length), truncation, or blowing the
  * inflation cap all return null — a damaged archive costs a NULL
  * row, never a task. Lz4Spec pins the decoder against the REAL
  * `lz4` CLI across levels, block sizes, linked/independent modes,
  * legacy frames, and checksum variants, and pins
  * [[compressStore]]'s frames as decodable by the reference binary.
  */
object Lz4Kernels {

  import Decode.{Bad, MaxOut, Refused, leI32, leU16}

  // -----------------------------------------------------------------
  // XXH32 (public algorithm; the frame format's checksum)
  // -----------------------------------------------------------------
  private val P1 = 0x9E3779B1
  private val P2 = 0x85EBCA77
  private val P3 = 0xC2B2AE3D
  private val P4 = 0x27D4EB2F
  private val P5 = 0x165667B1

  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    var h = 0
    var i = off
    val end = off + len
    if (len >= 16) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      val limit = end - 16
      while (i <= limit) {
        v1 = Integer.rotateLeft(v1 + leI32(b, i) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + leI32(b, i + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + leI32(b, i + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + leI32(b, i + 12) * P2, 13) * P1
        i += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else h = seed + P5
    h += len
    while (i + 4 <= end) {
      h = Integer.rotateLeft(h + leI32(b, i) * P3, 17) * P4
      i += 4
    }
    while (i < end) {
      h = Integer.rotateLeft(h + (b(i) & 0xff) * P5, 11) * P1
      i += 1
    }
    h ^= h >>> 15; h *= P2
    h ^= h >>> 13; h *= P3
    h ^= h >>> 16
    h
  }

  /** Decode a complete `.lz4` input (one or more frames, skippable
    * frames skipped, legacy frames accepted); null when malformed or
    * when no content frame exists.
    */
  def decompress(b: Array[Byte]): Array[Byte] =
    try decode(b)
    catch { case Refused() => null }

  private def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) throw Bad
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 3, 1 << 16))
    var pos = 0
    var sawContent = false
    while (pos < b.length) {
      if (pos + 4 > b.length) throw Bad
      val magic = leI32(b, pos)
      if (magic == 0x184D2204) { pos = frame(b, pos + 4, out); sawContent = true }
      else if ((magic & 0xFFFFFFF0) == 0x184D2A50) {
        if (pos + 8 > b.length) throw Bad
        val n = leI32(b, pos + 4)
        if (n < 0 || pos + 8 + n > b.length) throw Bad
        pos += 8 + n
      } else if (magic == 0x184C2102) { pos = legacy(b, pos + 4, out); sawContent = true }
      else throw Bad
    }
    if (!sawContent) throw Bad
    out.toByteArray
  }

  /** One standard frame starting after the magic; returns the position
    * after its trailer. Decodes into `out` (which may already hold
    * earlier frames' content — offsets never reach across frames
    * because each frame starts its own history base). */
  private def frame(b: Array[Byte], start: Int,
                    out: java.io.ByteArrayOutputStream): Int = {
    var pos = start
    if (pos + 2 > b.length) throw Bad
    val flg = b(pos) & 0xff
    val bd = b(pos + 1) & 0xff
    if ((flg >>> 6) != 1) throw Bad         // version must be 01
    if ((flg & 0x02) != 0) throw Bad        // reserved FLG bit
    if ((bd & 0x8f) != 0) throw Bad         // reserved BD bits
    val blockIndep = (flg & 0x20) != 0
    val blockCheck = (flg & 0x10) != 0
    val hasSize = (flg & 0x08) != 0
    val contentCheck = (flg & 0x04) != 0
    val hasDict = (flg & 0x01) != 0
    if (hasDict) throw Bad // no dictionary supplied: refuse, like zstd
    val bmax = (bd >>> 4) & 7
    if (bmax < 4) throw Bad
    val blockMax = 1 << (8 + 2 * bmax)      // 4->64KB .. 7->4MB
    val descLen = 2 + (if (hasSize) 8 else 0)
    if (pos + descLen + 1 > b.length) throw Bad
    val declared =
      if (hasSize) {
        var v = 0L
        var k = 0
        while (k < 8) { v |= (b(pos + 2 + k) & 0xffL) << (8 * k); k += 1 }
        v
      } else -1L
    val hc = b(pos + descLen) & 0xff
    if (((xxh32(b, pos, descLen, 0) >>> 8) & 0xff) != hc) throw Bad
    pos += descLen + 1

    val frameBase = out.size() // history floor: matches stay in-frame
    var going = true
    while (going) {
      if (pos + 4 > b.length) throw Bad
      val sz = leI32(b, pos); pos += 4
      if (sz == 0) going = false
      else {
        val raw = (sz & 0x80000000) != 0
        val n = sz & 0x7FFFFFFF
        if (n <= 0 || n > blockMax || pos + n > b.length) throw Bad
        if (blockCheck) {
          if (pos + n + 4 > b.length) throw Bad
          if (leI32(b, pos + n) != xxh32(b, pos, n, 0)) throw Bad
        }
        if (raw) {
          if (out.size() + n > MaxOut) throw Bad
          out.write(b, pos, n)
        } else decodeBlock(b, pos, n, out,
          if (blockIndep) out.size() else frameBase)
        pos += n + (if (blockCheck) 4 else 0)
      }
    }
    val produced = (out.size() - frameBase).toLong
    if (declared >= 0 && produced != declared) throw Bad
    if (contentCheck) {
      if (pos + 4 > b.length) throw Bad
      val whole = out.toByteArray // frames are few; blocks dominate cost
      if (leI32(b, pos) != xxh32(whole, frameBase, whole.length - frameBase, 0))
        throw Bad
      pos += 4
    }
    pos
  }

  /** Legacy frame (magic 0x184C2102): LZ4-block-compressed chunks of
    * up to 8 MB, each with a 4-byte LE compressed size, no trailer —
    * the stream ends at input end or at the next frame magic. */
  private def legacy(b: Array[Byte], start: Int,
                     out: java.io.ByteArrayOutputStream): Int = {
    var pos = start
    val base = out.size()
    var going = true
    while (going && pos < b.length) {
      if (pos + 4 > b.length) throw Bad
      val n = leI32(b, pos)
      // a magic number here means the next frame begins
      if (n == 0x184C2102 || n == 0x184D2204 ||
        (n & 0xFFFFFFF0) == 0x184D2A50) going = false
      else {
        pos += 4
        if (n <= 0 || pos + n > b.length) throw Bad
        decodeBlock(b, pos, n, out, base)
        pos += n
      }
    }
    pos
  }

  /** LZ4 block format: token nibbles, 255-run extensions, 2-byte LE
    * offsets, overlapping matches. `historyBase` is the lowest output
    * offset a match may reach back to (block-independent frames pass
    * the block start; linked frames and legacy pass the frame start).
    */
  private def decodeBlock(b: Array[Byte], start: Int, n: Int,
                          out: java.io.ByteArrayOutputStream,
                          historyBase: Int): Unit = {
    // decode against a growable view of the frame's output so linked
    // blocks can reference earlier blocks; ByteArrayOutputStream has
    // no random read, so run the block into a local buffer seeded
    // with up to 64 KB of history
    val hist0 = out.toByteArray
    val histFrom = math.max(historyBase, hist0.length - 65536)
    val seed = hist0.length - histFrom
    var buf = new Array[Byte](seed + math.min(n * 4 + 64, MaxOut))
    System.arraycopy(hist0, histFrom, buf, 0, seed)
    var op = seed
    def ensure(extra: Int): Unit =
      if (op + extra > buf.length) {
        if (op + extra > MaxOut + seed) throw Bad
        buf = java.util.Arrays.copyOf(buf,
          math.min(math.max(buf.length * 2, op + extra), MaxOut + seed + 64))
      }
    var ip = start
    val end = start + n
    while (ip < end) {
      val token = b(ip) & 0xff; ip += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) {
          if (ip >= end) throw Bad
          x = b(ip) & 0xff; ip += 1
          litLen += x
          if (litLen < 0) throw Bad
        }
      }
      if (ip + litLen > end) throw Bad
      ensure(litLen)
      System.arraycopy(b, ip, buf, op, litLen)
      ip += litLen; op += litLen
      if (ip < end) { // last sequence is literals-only
        if (ip + 2 > end) throw Bad
        val offset = leU16(b, ip)
        ip += 2
        if (offset == 0 || offset > op) throw Bad
        var matchLen = (token & 0xf) + 4
        if ((token & 0xf) == 15) {
          var x = 255
          while (x == 255) {
            if (ip >= end) throw Bad
            x = b(ip) & 0xff; ip += 1
            matchLen += x
            if (matchLen < 0) throw Bad
          }
        }
        ensure(matchLen)
        var src = op - offset
        var k = 0
        while (k < matchLen) { // byte-wise: overlapping matches are legal
          buf(op + k) = buf(src + k); k += 1
        }
        op += matchLen
      }
    }
    if (out.size() - historyBase + (op - seed) > MaxOut) throw Bad
    out.write(buf, seed, op - seed)
  }

  /** Frame COMPRESSOR in store mode (uncompressed blocks only) — the
    * analogue of [[ZstdKernels.compressStore]]: spec-valid frames at
    * any payload size, chunked at 64 KB, content checksum included,
    * so tests and in-plan queries can make real `.lz4` bytes without
    * a native library. Lz4Spec pins the output as decodable by the
    * reference binary.
    */
  def compressStore(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 64)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    w32(0x184D2204)
    // FLG: version 01, block-independent, content checksum; BD: 64 KB
    val desc = Array[Byte](0x64.toByte, 0x40.toByte)
    out.write(desc(0)); out.write(desc(1))
    out.write((xxh32(desc, 0, 2, 0) >>> 8) & 0xff)
    var i = 0
    while (i < data.length) {
      val n = math.min(65536, data.length - i)
      w32(n | 0x80000000) // uncompressed block
      out.write(data, i, n)
      i += n
    }
    w32(0) // EndMark
    w32(xxh32(data, 0, data.length, 0))
    out.toByteArray
  }
}

package graft.functions

/** LZW `.Z` (Unix `compress`) DECODER — the RFC 9110-registered
  * `compress`/`x-compress` HTTP content coding and the `0x1F 0x9D`
  * magic in old crawls and FTP mirrors. Until round 17 this was the
  * LAST content coding the WARC tier labeled known-but-undecoded
  * (WarcKernels `encoding_undecoded`); this closes it.
  *
  * Format (no RFC — the de-facto spec is the `compress(1)`/ncompress
  * lineage and gzip's `unlzw.c`, both public):
  *  - 2-byte magic 0x1F 0x9D, then a flags byte: bits 0-4 = maxbits
  *    (9..16 accepted here, like gzip), bits 5-6 reserved (must be 0,
  *    like gzip), bit 7 = block mode (CLEAR code 256, first dynamic
  *    code 257; non-block mode starts dynamic codes at 256).
  *  - LZW codes packed LSB-first, starting at 9 bits. Output is
  *    flushed in groups of 8 codes (= n_bits bytes); on a code-width
  *    change or CLEAR the encoder zero-pads the partial group to
  *    n_bits bytes, so the decoder must skip to that segment-relative
  *    boundary — the classic `compress` alignment quirk. The final
  *    flush at EOF is not padded.
  *  - Width grows when the next free code no longer fits
  *    (free_ent > (1<<n_bits)-1), capped at maxbits; CLEAR resets the
  *    table, the width, and the alignment segment.
  *
  * Every behavior here is pinned against BOTH reference decoders
  * available in this environment — `gzip -dc` (whose unlzw.c descends
  * from compress 4.0) and `bsdcat` (libarchive) — on fixtures
  * produced by [[compress]]: width growth 9→16, CLEAR after table
  * pressure, maxbits 12/16, incompressible input, empty and 1-byte
  * streams. Non-block-mode streams decode too (gzip-validated;
  * libarchive does not implement that mode). LzwSpec shells to the
  * CLIs the way ZstdSpec does.
  *
  * Fail-closed: bad magic, reserved flag bits, maxbits outside 9..16,
  * a code beyond the table (corrupt stream), a CLEAR in non-block
  * mode, a non-literal first code, or blowing the inflation cap all
  * return null — a damaged archive costs a NULL row, never a task.
  */
object LzwKernels {

  import Decode.{Bad, MaxOut, Refused}

  /** Decode a complete `.Z` stream; null when malformed. An empty
    * payload (header only) decodes to an empty array.
    */
  def decompress(b: Array[Byte]): Array[Byte] =
    try decode(b)
    catch { case Refused() => null }

  private def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 3) throw Bad
    if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x9d) throw Bad
    val flags = b(2) & 0xff
    if ((flags & 0x60) != 0) throw Bad // reserved bits, gzip-strict
    val maxbits = flags & 0x1f
    if (maxbits < 9 || maxbits > 16) throw Bad
    val blockMode = (flags & 0x80) != 0
    val maxmax = 1 << maxbits

    val prefix = new Array[Int](maxmax)
    val suffix = new Array[Byte](maxmax)
    var i = 0
    while (i < 256) { suffix(i) = i.toByte; i += 1 }

    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
    val stack = new Array[Byte](maxmax + 1)

    val totalBits = (b.length - 3).toLong * 8
    var posBits = 0L      // bit offset into the code stream (after header)
    var segStart = 0L     // bit offset where the current alignment segment began
    var nBits = 9
    // at maxbits the ceiling is 1<<maxbits so the width never grows again
    def maxcode: Int = if (nBits == maxbits) maxmax else (1 << nBits) - 1
    var freeEnt = if (blockMode) 257 else 256
    var oldCode = -1
    var finChar = 0

    def readCode(): Int = {
      val byteOff = (posBits >> 3).toInt + 3
      val bitOff = (posBits & 7).toInt
      var v = (b(byteOff) & 0xff) >>> bitOff
      var got = 8 - bitOff
      var k = 1
      while (got < nBits) {
        v |= (b(byteOff + k) & 0xff) << got
        got += 8; k += 1
      }
      posBits += nBits
      v & ((1 << nBits) - 1)
    }

    // advance to the next segment-relative n_bits-byte group boundary
    // (8 codes of the width in force when the segment was written)
    def alignSegment(): Unit = {
      val usedBytes = (posBits - segStart + 7) >> 3
      val groups = (usedBytes + nBits - 1) / nBits
      posBits = segStart + groups * nBits * 8
      segStart = posBits
    }

    while (posBits + nBits <= totalBits) {
      // width growth mirrors the encoder: checked against the entry
      // count BEFORE this code's own table add
      if (freeEnt > maxcode) {
        alignSegment()
        nBits += 1
        if (posBits + nBits > totalBits) return out.toByteArray
      }
      val code = readCode()
      if (oldCode == -1) {
        // stream start / post-CLEAR: must be a literal
        if (code >= 256) throw Bad
        finChar = code
        oldCode = code
        out.write(code)
      } else if (blockMode && code == 256) {
        // CLEAR: skip pad, reset width + table + restart sentinel
        alignSegment()
        nBits = 9
        freeEnt = 257
        oldCode = -1
      } else {
        if (code > freeEnt) throw Bad // corrupt: references a future code
        val inCode = code
        var c = code
        var sp = 0
        if (c == freeEnt) { // KwKwK: the entry being defined right now
          stack(sp) = finChar.toByte; sp += 1
          c = oldCode
        }
        while (c >= 256) {
          stack(sp) = suffix(c); sp += 1
          c = prefix(c)
        }
        finChar = suffix(c) & 0xff
        stack(sp) = finChar.toByte; sp += 1
        if (out.size() + sp > MaxOut) throw Bad
        while (sp > 0) { sp -= 1; out.write(stack(sp)) }
        if (freeEnt < maxmax) {
          prefix(freeEnt) = oldCode
          suffix(freeEnt) = finChar.toByte
          freeEnt += 1
        }
        oldCode = inCode
      }
    }
    out.toByteArray
  }

  /** `.Z` COMPRESSOR — fixture tooling (the analogue of
    * [[ZstdKernels.compressStore]]) so tests and in-plan queries can
    * make real streams without a native binary. Emits block-mode
    * output with greedy table build and an optional periodic CLEAR;
    * LzwSpec pins its output as decodable by `gzip -dc` and `bsdcat`.
    */
  def compress(data: Array[Byte], maxbits: Int = 16,
               clearEvery: Int = 0): Array[Byte] = {
    require(maxbits >= 9 && maxbits <= 16, "maxbits 9..16")
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    out.write(0x1f); out.write(0x9d); out.write(0x80 | maxbits)
    var buf = 0L; var nBuf = 0; var seg = 0
    var nBits = 9
    var freeEnt = 257
    var clearFlg = false
    val maxmax = 1 << maxbits
    def maxcode: Int = if (nBits == maxbits) maxmax else (1 << nBits) - 1
    def put(code: Int): Unit = {
      buf |= code.toLong << nBuf
      nBuf += nBits
      while (nBuf >= 8) { out.write((buf & 0xff).toInt); buf >>>= 8; nBuf -= 8; seg += 1 }
      if (freeEnt > maxcode || clearFlg) {
        if (nBuf > 0) { out.write((buf & 0xff).toInt); buf = 0; nBuf = 0; seg += 1 }
        var pad = seg % nBits
        if (pad != 0) { pad = nBits - pad; var j = 0; while (j < pad) { out.write(0); j += 1 } }
        seg = 0
        if (clearFlg) { nBits = 9; clearFlg = false } else nBits += 1
      }
    }
    // (prefix code << 8 | byte) -> code
    val table = new java.util.HashMap[Integer, Integer](4096)
    var w = -1
    var since = 0
    var i = 0
    while (i < data.length) {
      val c = data(i) & 0xff
      if (w < 0) w = c
      else {
        val key = Integer.valueOf((w << 8) | c)
        val hit = table.get(key)
        if (hit != null) w = hit.intValue()
        else {
          put(w); since += 1
          if (freeEnt < maxmax) { table.put(key, Integer.valueOf(freeEnt)); freeEnt += 1 }
          if (clearEvery > 0 && since >= clearEvery) {
            clearFlg = true; put(256)
            table.clear(); freeEnt = 257; since = 0
          }
          w = c
        }
      }
      i += 1
    }
    if (w >= 0) put(w)
    if (nBuf > 0) out.write((buf & 0xff).toInt)
    out.toByteArray
  }
}

package graft.functions

/** Deterministic ENCODERS for the PDF stream filters (round 15) —
  * fixture / test-vector tooling for [[PdfKernels]]'s LZWDecode and
  * ASCII85Decode, so oracle-replayable fixtures can carry filter
  * chains older crawled PDFs actually use.
  *
  * LZW width-bump timing (the one subtle spot, ISO 32000-1 §7.4.4 /
  * TIFF6 "early change"): the DECODER adds the entry for code k while
  * processing code k+1, so it trails the encoder by exactly one
  * addition at read time. The encoder therefore bumps the code width
  * BETWEEN emitting a code and adding its entry — one addition later
  * than the decoder's after-add check — which lines the widths up
  * code-for-code. PdfSpec pins this with the spec's own worked
  * example and roundtrips across the 9→10→11 bumps.
  */
object PdfStreamEncoders {

  /** PDF LZW (MSB-first, 256=clear, 257=EOD, EarlyChange default 1). */
  def lzw(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val early = if (earlyChange == 0) 0 else 1
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    var acc = 0L
    var nbits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code
      nbits += width
      while (nbits >= 8) {
        out.write(((acc >>> (nbits - 8)) & 0xff).toInt)
        nbits -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var dictSize = 258
    put(256) // clear
    var prev = -1
    data.foreach { bb =>
      val v = bb & 0xff
      if (prev < 0) prev = v
      else dict.get((prev, v)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          // bump BEFORE adding: see the class doc on decoder lag
          if (dictSize + early == (1 << width) && width < 12) width += 1
          if (dictSize < 4096) { dict((prev, v)) = dictSize; dictSize += 1 }
          prev = v
      }
    }
    if (prev >= 0) put(prev)
    if (dictSize + early == (1 << width) && width < 12) width += 1
    put(257) // EOD
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  /** ASCII85 with the `~>` terminator (no leading `<~`). */
  def ascii85(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 5 / 4 + 4)
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var t = 0L
      var k = 0
      while (k < 4) {
        t = (t << 8) | (if (k < n) data(i + k) & 0xff else 0)
        k += 1
      }
      if (n == 4 && t == 0L) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var j = 4
        while (j >= 0) { cs(j) = ('!' + (t % 85).toInt).toChar; t /= 85; j -= 1 }
        var c = 0
        while (c < n + 1) { sb.append(cs(c)); c += 1 }
      }
      i += n
    }
    sb.append("~>")
    sb.toString.getBytes("US-ASCII")
  }
}

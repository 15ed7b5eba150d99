package graft.functions

/** The scaffolding every pure-JVM decoder in this package shares: the
  * malformed signal, the refusal policy, the size caps, fixed-width
  * byte readers, a bounded varint cursor, a bounded inflate loop, and
  * the LSB-first bit reader with its canonical prefix-code decoder
  * (Brotli and VP8L). One copy each, so a bounds rule or a cap is
  * fixed in one place.
  */
private[functions] object Decode {

  /** The one malformed signal: stackless, so a refusal costs no trace.
    * Entry points turn it into NULL through [[Refused]]. */
  object Bad extends RuntimeException("malformed input") {
    override def fillInStackTrace(): Throwable = this
  }

  /** The refusal policy: an `Exception` (`Bad`, or a bounds slip the
    * decoder's own checks missed) or a `StackOverflowError` (hostile
    * nesting) means "NULL for this row". Every other throwable, an
    * `OutOfMemoryError` included, propagates and fails the task. */
  object Refused {
    def unapply(t: Throwable): Boolean =
      t.isInstanceOf[Exception] || t.isInstanceOf[StackOverflowError]
  }

  // ---- caps --------------------------------------------------------

  /** Decoded output of one stream or image (256 MB): a header or a
    * bomb may declare any size, the row may not cost more. */
  val MaxOut: Int = 1 << 28

  /** One inflated container member (64 MB): a ZIP entry, a PDF
    * stream, a WARC body or a WOFF table. */
  val MaxInflate: Int = 64 << 20

  /** Characters of text extracted from one document (64 M). */
  val MaxText: Int = 1 << 26

  // ---- fixed-width readers -----------------------------------------
  // Each checks `[i, i + n)` against the array with an overflow-safe
  // test and throws Bad outside it.

  @inline private def check(b: Array[Byte], i: Int, n: Int): Unit =
    if (i < 0 || i > b.length - n) throw Bad

  def leU16(b: Array[Byte], i: Int): Int = {
    check(b, i, 2)
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  }
  def leI32(b: Array[Byte], i: Int): Int = {
    check(b, i, 4)
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  }
  def leU32(b: Array[Byte], i: Int): Long = leI32(b, i) & 0xffffffffL
  def leI64(b: Array[Byte], i: Int): Long = {
    check(b, i, 8)
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)
  }
  /** The same 64 bits as [[leI64]]; named for unsigned fields. */
  def leU64(b: Array[Byte], i: Int): Long = leI64(b, i)
  def leF64(b: Array[Byte], i: Int): Double =
    java.lang.Double.longBitsToDouble(leI64(b, i))

  def beU16(b: Array[Byte], i: Int): Int = {
    check(b, i, 2)
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  }
  def beI32(b: Array[Byte], i: Int): Int = {
    check(b, i, 4)
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  }
  def beU32(b: Array[Byte], i: Int): Long = beI32(b, i) & 0xffffffffL
  def beI64(b: Array[Byte], i: Int): Long = {
    check(b, i, 8)
    (beI32(b, i).toLong << 32) | (beI32(b, i + 4) & 0xffffffffL)
  }

  // ---- bounded cursor ------------------------------------------------

  /** A byte cursor over `b[pos, end)`: every read past `end` throws
    * Bad. Varints are LEB128, at most 10 bytes. */
  final class Cursor(val b: Array[Byte], var pos: Int, val end: Int) {
    def u8(): Int = {
      if (pos >= end) throw Bad
      val v = b(pos) & 0xff
      pos += 1
      v
    }
    def varint(): Long = {
      var v = 0L
      var sh = 0
      while (sh <= 63) {
        val c = u8()
        v |= (c & 0x7fL) << sh
        if ((c & 0x80) == 0) return v
        sh += 7
      }
      throw Bad
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def skip(n: Long): Unit = {
      if (n < 0 || pos + n > end) throw Bad
      pos += n.toInt
    }
    def bytes(n: Long): Array[Byte] = {
      val from = pos
      skip(n)
      java.util.Arrays.copyOfRange(b, from, pos)
    }
  }

  // ---- bounded inflate -----------------------------------------------

  /** Drain `inf` (input already set) until its stream finishes; null
    * once the output passes `cap` bytes, or when the input runs out or
    * a preset dictionary is asked for first. The caller owns `inf`. */
  def inflateCapped(inf: java.util.zip.Inflater, cap: Long,
                    sizeHint: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sizeHint)
    val buf = new Array[Byte](1 << 16)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n > 0) {
        out.write(buf, 0, n)
        if (out.size() > cap) return null
      } else if (inf.needsInput() || inf.needsDictionary()) return null
    }
    out.toByteArray
  }

  // ---- LSB-first bit reader ------------------------------------------

  /** Bits of `b[from, until)`, LSB-first within each byte (Brotli and
    * VP8L); `pos` counts bits from `from`. */
  final class Br(b: Array[Byte], from: Int, until: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    private val nbits: Long = (until - from).toLong << 3
    var pos: Long = 0L

    /** n in [0,24]. */
    def readBits(n: Int): Int = {
      if (n == 0) return 0
      if (pos + n > nbits) throw Bad
      var i = from + (pos >>> 3).toInt
      val sh = (pos & 7L).toInt
      var acc = 0L
      var k = 0
      val need = sh + n
      while (k < need) { acc |= (b(i) & 0xffL) << k; k += 8; i += 1 }
      pos += n
      ((acc >>> sh) & ((1L << n) - 1)).toInt
    }

    /** 8 bits of lookahead WITHOUT consuming, zero-padded past `until`
      * (the input of the one-level decode table): a code made up of
      * padding is caught by [[consume]]'s bound check before any
      * symbol is acted on. */
    def peek8(): Int = {
      val sh = (pos & 7L).toInt
      var acc = 0L
      var k = 0
      var j = from + (pos >>> 3).toInt
      while (k < sh + 8) {
        acc |= (if (j < until) b(j) & 0xffL else 0L) << k
        k += 8; j += 1
      }
      ((acc >>> sh) & 0xffL).toInt
    }

    def consume(n: Int): Unit = {
      if (pos + n > nbits) throw Bad
      pos += n
    }

    /** Align to the next byte boundary; the discarded padding bits
      * must be zero (Brotli's JumpToByteBoundary contract). */
    def alignZero(): Unit = {
      val rem = ((8 - (pos & 7L)) & 7L).toInt
      if (rem > 0 && readBits(rem) != 0) throw Bad
    }

    /** Index into `b` of the current byte; the reader must be aligned. */
    def byteIndex: Int = { require((pos & 7L) == 0L); from + (pos >>> 3).toInt }

    def skipBytes(n: Int): Unit = {
      if (pos + n.toLong * 8 > nbits) throw Bad
      pos += n.toLong * 8
    }

    def atEnd: Boolean = pos == nbits
  }

  // ---- canonical prefix-code decoder -----------------------------------

  val MaxCodeBits = 15

  /** Canonical prefix code over code lengths `lens` (MSB-first codes in
    * an LSB-first stream, as in DEFLATE; equal lengths ordered by
    * increasing symbol). Completeness (Kraft sum == 1) is enforced,
    * except the single-symbol code, which decodes with zero bits. */
  final class Huff(lens: Array[Int]) {
    private var single = -1
    private val count = new Array[Int](MaxCodeBits + 1)
    private val first = new Array[Int](MaxCodeBits + 1)
    private val offs = new Array[Int](MaxCodeBits + 1)
    private var symbols: Array[Int] = null
    locally {
      var nz = 0; var lastSym = -1
      var i = 0
      while (i < lens.length) {
        val l = lens(i)
        if (l < 0 || l > MaxCodeBits) throw Bad
        if (l > 0) { nz += 1; lastSym = i; count(l) += 1 }
        i += 1
      }
      if (nz == 0) throw Bad
      if (nz == 1) single = lastSym
      else {
        var space = 0L
        var l = 1
        while (l <= MaxCodeBits) { space += count(l).toLong << (MaxCodeBits - l); l += 1 }
        if (space != (1L << MaxCodeBits)) throw Bad // incomplete/oversubscribed
        symbols = new Array[Int](nz)
        val idx = new Array[Int](MaxCodeBits + 1)
        var code = 0; var off = 0
        l = 1
        while (l <= MaxCodeBits) {
          first(l) = code; offs(l) = off; idx(l) = off
          off += count(l); code = (code + count(l)) << 1; l += 1
        }
        i = 0
        while (i < lens.length) {
          if (lens(i) > 0) { symbols(idx(lens(i))) = i; idx(lens(i)) += 1 }
          i += 1
        }
      }
    }
    /** One-level fast table (the zlib-style 8-bit peek/consume): for
      * every 8-bit lookahead whose leading code is ≤ 8 bits, the
      * (symbol, length) pair; longer codes fall back to the bit walk.
      * Built once per table (256 × ≤8 steps), it turns the per-bit
      * loop into one peek + one consume. */
    private var fastSym: Array[Short] = null
    private var fastLen: Array[Byte] = null
    locally {
      if (single < 0) {
        val fs = new Array[Short](256)
        val fb = new Array[Byte](256)
        var v = 0
        while (v < 256) {
          var code = 0; var l = 0; var sym = -1
          while (sym < 0 && l < 8) {
            code = (code << 1) | ((v >>> l) & 1)
            l += 1
            if (code - first(l) < count(l)) sym = symbols(offs(l) + code - first(l))
          }
          fs(v) = sym.toShort // -1 = fall back to the bit walk
          fb(v) = l.toByte
          v += 1
        }
        fastSym = fs
        fastLen = fb
      }
    }

    def decode(br: Br): Int = {
      if (single >= 0) return single
      val look = br.peek8()
      val s = fastSym(look)
      if (s >= 0) { br.consume(fastLen(look)); return s }
      var code = 0; var l = 0
      while (l < MaxCodeBits) {
        code = (code << 1) | br.readBits(1); l += 1
        if (code - first(l) < count(l)) return symbols(offs(l) + code - first(l))
      }
      throw Bad
    }
  }
}

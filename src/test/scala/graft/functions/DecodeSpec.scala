package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins the decoders' shared scaffolding ([[Decode]]): reader values in
  * both byte orders, the bounds rule every reader shares (including the
  * index whose `i + n` overflows), the bounded cursor, the refusal
  * policy, the bounded inflate loop and the bit reader's lookahead.
  */
class DecodeSpec extends AnyFunSuite {
  import Decode._

  // high-bit bytes everywhere, so signed and unsigned readings differ
  private val b = Array(0x01, 0x82, 0xff, 0x7f, 0x80, 0x00, 0xfe, 0x93, 0x91)
    .map(_.toByte)

  private def refuses(f: => Any): Unit = {
    val e = intercept[RuntimeException](f)
    assert(e eq Bad)
  }

  test("fixed-width readers: little- and big-endian values") {
    assert(leU16(b, 1) == 65410)
    assert(beU16(b, 1) == 33535)
    assert(leI32(b, 1) == -2139095166)
    assert(leU32(b, 1) == 2155872130L)
    assert(beI32(b, 1) == -2097184896)
    assert(beU32(b, 1) == 2197782400L)
    assert(leI64(b, 1) == -7956736838524207230L)
    assert(leU64(b, 1) == leI64(b, 1))
    assert(java.lang.Long.toUnsignedString(leU64(b, 1)) == "10490007235185344386")
    assert(beI64(b, 1) == -9007340541968477295L)
    val f = Array(0, 0, 0, 0, 0, 0, 2, 0xc0).map(_.toByte)
    assert(leF64(f, 0) == -2.25)
  }

  test("every reader throws Bad outside the array, never reads past it") {
    val readers: Seq[(Int, (Array[Byte], Int) => Any)] = Seq(
      2 -> (leU16(_, _)), 2 -> (beU16(_, _)),
      4 -> (leI32(_, _)), 4 -> (leU32(_, _)), 4 -> (beI32(_, _)), 4 -> (beU32(_, _)),
      8 -> (leI64(_, _)), 8 -> (leU64(_, _)), 8 -> (beI64(_, _)), 8 -> (leF64(_, _)))
    for ((n, read) <- readers) {
      read(b, b.length - n) // the last valid index
      refuses(read(b, -1))
      refuses(read(b, Int.MinValue))
      refuses(read(b, b.length - n + 1))
      refuses(read(b, b.length))
      // i + n overflows to a negative number here
      refuses(read(b, Int.MaxValue - 1))
      refuses(read(b, Int.MaxValue))
      refuses(read(Array.emptyByteArray, 0))
    }
  }

  test("cursor: u8, LEB128 varint, zigzag, skip and bytes stay inside [pos, end)") {
    val c = new Cursor(Array(9, 0xac, 0x02, 0x03, 0x01, 5, 6, 7, 8, 0x55).map(_.toByte), 1, 9)
    assert(c.varint() == 300)
    assert(c.zigzag() == -2)
    assert(c.zigzag() == -1)
    assert(c.bytes(2).toSeq == Seq[Byte](5, 6))
    c.skip(1)
    assert(c.u8() == 8)
    assert(c.pos == c.end)
    refuses(c.u8()) // the byte at `end` is outside the cursor
    refuses(c.skip(1))
    refuses(c.skip(-1))
    refuses(c.bytes(-1))
    val z = new Cursor(Array(0, 1, 2, 3).map(_.toByte), 0, 4)
    assert(Seq(z.zigzag(), z.zigzag(), z.zigzag(), z.zigzag()) == Seq(0L, -1L, 1L, -2L))
  }

  test("cursor: a varint of 10 bytes reads, one of 11 throws Bad") {
    val ten = Array.fill[Byte](9)(0xff.toByte) :+ 0x01.toByte
    assert(new Cursor(ten, 0, ten.length).varint() == -1L)
    val eleven = Array.fill[Byte](10)(0x80.toByte) :+ 0x00.toByte
    refuses(new Cursor(eleven, 0, eleven.length).varint())
    val truncated = Array(0x80, 0x80).map(_.toByte)
    refuses(new Cursor(truncated, 0, truncated.length).varint())
  }

  test("refusal policy: Exception and StackOverflowError refuse, other errors propagate") {
    def refused(t: Throwable): Boolean = t match {
      case Refused() => true
      case _ => false
    }
    assert(refused(Bad))
    assert(refused(new ArrayIndexOutOfBoundsException))
    assert(refused(new java.util.zip.DataFormatException))
    assert(refused(new StackOverflowError))
    assert(!refused(new OutOfMemoryError))
    assert(!refused(new AssertionError))
    assert(!refused(new InternalError))
  }

  test("inflateCapped: whole stream, over the cap, truncated") {
    val data = Array.tabulate[Byte](5000)(i => (i % 7).toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](1 << 14)
    val z = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    def run(input: Array[Byte], cap: Long): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      try { inf.setInput(input); inflateCapped(inf, cap, 64) } finally inf.end()
    }
    assert(run(z, data.length).toSeq == data.toSeq)
    assert(run(z, data.length - 1) == null)
    assert(run(z.take(z.length / 2), data.length) == null)
  }

  test("bit reader: LSB-first over [from, until), peek8 zero-pads past until") {
    val bytes = Array(0xff, 0xb4, 0x0f, 0xff).map(_.toByte)
    val br = new Br(bytes, 1, 3)
    assert(br.readBits(4) == 0x4)
    assert(br.readBits(8) == 0xfb)
    assert(br.peek8() == 0x00) // 4 bits of 0x0f's top half, then padding, not 0xff
    assert(br.readBits(4) == 0)
    assert(br.atEnd)
    assert(br.peek8() == 0)
    refuses(br.readBits(1))
    refuses(br.consume(1))
  }

  test("prefix code: canonical symbols, one-symbol code, refused lengths") {
    // lengths {A:1, B:2, C:2}: codes A=0, B=10, C=11, read MSB-first
    // from an LSB-first stream; bits in stream order 0,1,0,1,1 = A B C
    val h = new Huff(Array(1, 2, 2))
    val br = new Br(Array(0x1a.toByte))
    assert(Seq(h.decode(br), h.decode(br), h.decode(br)) == Seq(0, 1, 2))
    val one = new Huff(Array(0, 0, 3))
    assert(one.decode(new Br(Array.emptyByteArray)) == 2) // reads zero bits
    refuses(new Huff(Array(1, 1, 1))) // oversubscribed
    refuses(new Huff(Array(1, 2, 0))) // incomplete
    refuses(new Huff(Array(0, 0)))
    refuses(new Huff(Array(16, 1)))
    // a code the stream ends in the middle of
    refuses(h.decode(new Br(Array.emptyByteArray)))
  }
}

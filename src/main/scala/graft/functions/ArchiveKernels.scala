package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** 7z / RAR metadata TRIAGE (round 17, VERDICT r16 #10 stretch) —
  * completing the archive-format census in the binary router the way
  * parquet triage did for data lakes: signature + header walk only,
  * CRC-verified, no payload decode (7z next-headers are usually
  * LZMA-compressed and RAR is a proprietary codec; a labeled,
  * validated census row is the honest product here).
  *
  * 7z (public 7-Zip format doc): 32-byte signature header — magic
  * `7z¼¯'\x1C`, version, CRC32 of the start-header fields, then
  * (NextHeaderOffset, NextHeaderSize, NextHeaderCRC); the next header
  * itself is CRC-checked and classified `encoded` (0x17 kEncodedHeader
  * — LZMA-packed, the common case) vs plain (0x01 kHeader).
  *
  * RAR5 (rarlab "RAR 5.0 archive format"): 8-byte signature, then
  * vint-framed blocks [CRC32][size vint][type vint][flags vint]… —
  * CRC32 covers the size field through the header end; data areas are
  * skipped by their declared size. Types counted: 2 = file; 4 =
  * encryption header (→ `encrypted`, the walk stops — everything
  * after is ciphertext); 5 = end of archive.
  *
  * RAR4 (the legacy format old crawls carry): 7-byte signature that
  * doubles as the marker block, then [CRC16][type][flags][size]
  * blocks, CRC16 = low half of CRC32 over the header from the type
  * byte; 0x8000 flags add a 4-byte data size. Type 0x74 = file,
  * 0x73 main header (flag 0x0080 = encrypted headers), 0x7B = end.
  *
  * Fail-closed: truncation, size overruns, CRC mismatches, and
  * unknown versions all return NULL.
  */
object ArchiveKernels {

  import Decode.{Bad, Cursor, Refused, leU16, leU32, leU64}

  private val MaxBlocks = 1 << 20

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    if (off < 0 || len < 0 || off + len > b.length) throw Bad
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  val SevenZipMagic: Array[Byte] =
    Array(0x37, 0x7A, 0xBC, 0xAF, 0x27, 0x1C).map(_.toByte)

  /** struct(version, next_header_size, encoded, n_pack_bytes), or
    * null. `encoded` = the next header is kEncodedHeader (0x17). */
  def sevenZipMeta(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      if (b.length < 32) throw Bad
      var i = 0
      while (i < 6) { if (b(i) != SevenZipMagic(i)) throw Bad; i += 1 }
      val major = b(6) & 0xff
      val minor = b(7) & 0xff
      if (major != 0) throw Bad
      if (leU32(b, 8) != crc32(b, 12, 20)) throw Bad // start header CRC
      val off = leU64(b, 12)
      val size = leU64(b, 20)
      val crc = leU32(b, 28)
      if (off < 0 || size < 0 || size > Int.MaxValue ||
          32 + off + size > b.length) throw Bad
      if (size > 0 && crc32(b, (32 + off).toInt, size.toInt) != crc) throw Bad
      val encoded = size > 0 && (b((32 + off).toInt) & 0xff) == 0x17
      if (size > 0 && !encoded && (b((32 + off).toInt) & 0xff) != 0x01)
        throw Bad // neither kHeader nor kEncodedHeader
      new GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$major.$minor"),
        size, encoded, off))
    } catch { case Refused() => null }
  }

  val Rar5Magic: Array[Byte] =
    Array(0x52, 0x61, 0x72, 0x21, 0x1A, 0x07, 0x01, 0x00).map(_.toByte)
  val Rar4Magic: Array[Byte] =
    Array(0x52, 0x61, 0x72, 0x21, 0x1A, 0x07, 0x00).map(_.toByte)

  /** struct(version, n_blocks, n_files, encrypted), or null. */
  def rarMeta(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      if (b.length >= 8 && (0 until 8).forall(i => b(i) == Rar5Magic(i)))
        rar5Walk(b)
      else if (b.length >= 7 && (0 until 7).forall(i => b(i) == Rar4Magic(i)))
        rar4Walk(b)
      else null
    } catch { case Refused() => null }
  }

  private def row(v: Int, blocks: Long, files: Long,
                  enc: Boolean): GenericInternalRow =
    new GenericInternalRow(Array[Any](v, blocks, files, enc))

  private def rar5Walk(b: Array[Byte]): GenericInternalRow = {
    var pos = 8
    var blocks = 0L
    var files = 0L
    var enc = false
    var done = false
    while (!done && pos < b.length) {
      if (blocks > MaxBlocks) throw Bad
      val crc = leU32(b, pos)
      val r = new Cursor(b, pos + 4, b.length) // RAR5 vints are LEB128
      val hsize = r.varint()
      val afterSize = r.pos
      if (hsize <= 0 || hsize > Int.MaxValue ||
          afterSize + hsize > b.length) throw Bad
      // CRC32 covers the size field through the header end
      if (crc32(b, pos + 4, afterSize - (pos + 4) + hsize.toInt) != crc)
        throw Bad
      val tpe = r.varint()
      val flags = r.varint()
      if ((flags & 1L) != 0) r.varint() // extra area size
      val dataSize = if ((flags & 2L) != 0) r.varint() else 0L
      if (dataSize < 0 || dataSize > Int.MaxValue) throw Bad
      blocks += 1
      tpe match {
        case 2L => files += 1
        case 4L => enc = true; done = true // headers encrypted past here
        case 5L => done = true
        case _ => ()
      }
      val next = afterSize + hsize + dataSize
      if (next > b.length || next <= pos) throw Bad
      pos = next.toInt
    }
    if (!done && !enc) throw Bad // ran off the end without an end block
    row(5, blocks, files, enc)
  }

  private def rar4Walk(b: Array[Byte]): GenericInternalRow = {
    var pos = 7
    var blocks = 0L
    var files = 0L
    var enc = false
    var done = false
    while (!done && pos < b.length) {
      if (blocks > MaxBlocks) throw Bad
      val crc = leU16(b, pos)
      val tpe = b(pos + 2) & 0xff
      val flags = leU16(b, pos + 3)
      val hsize = leU16(b, pos + 5)
      if (hsize < 7 || pos + hsize > b.length) throw Bad
      if ((crc32(b, pos + 2, hsize - 2) & 0xffff) != crc) throw Bad
      var total = hsize.toLong
      if ((flags & 0x8000) != 0) total += leU32(b, pos + 7)
      blocks += 1
      tpe match {
        case 0x74 => files += 1
        case 0x73 => if ((flags & 0x0080) != 0) { enc = true; done = true }
        case 0x7B => done = true
        case _ => ()
      }
      if (pos + total > b.length || total <= 0) throw Bad
      pos += total.toInt
    }
    row(4, blocks, files, enc)
  }

  // -----------------------------------------------------------------
  // fixture writers (triage-faithful framing; payloads are opaque)
  // -----------------------------------------------------------------
  private[graft] def build7z(packed: Array[Byte], header: Array[Byte])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(SevenZipMagic)
    out.write(0); out.write(4) // version 0.4
    val start = new Array[Byte](20)
    def le(v: Long, off: Int, n: Int): Unit =
      (0 until n).foreach(k => start(off + k) = ((v >> (8 * k)) & 0xff).toByte)
    le(packed.length.toLong, 0, 8)
    le(header.length.toLong, 8, 8)
    val hc = new java.util.zip.CRC32
    hc.update(header)
    le(hc.getValue, 16, 4)
    val sc = new java.util.zip.CRC32
    sc.update(start)
    (0 until 4).foreach(k => out.write(((sc.getValue >> (8 * k)) & 0xff).toInt))
    out.write(start)
    out.write(packed)
    out.write(header)
    out.toByteArray
  }

  private[graft] def buildRar5(fileDataSizes: Seq[Int],
                               encrypted: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Rar5Magic)
    def vb(v: Long): Array[Byte] = {
      var x = v
      val bs = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var going = true
      while (going) {
        val b7 = (x & 0x7f).toInt
        x >>>= 7
        if (x == 0) { bs += b7.toByte; going = false }
        else bs += (b7 | 0x80).toByte
      }
      bs.toArray
    }
    def block(tpe: Long, flags: Long, body: Array[Byte],
              data: Array[Byte]): Unit = {
      val hdr = vb(tpe) ++ vb(flags) ++
        (if ((flags & 2L) != 0) vb(data.length.toLong) else Array.emptyByteArray) ++
        body
      val sz = vb(hdr.length.toLong)
      val c = new java.util.zip.CRC32
      c.update(sz); c.update(hdr)
      (0 until 4).foreach(k => out.write(((c.getValue >> (8 * k)) & 0xff).toInt))
      out.write(sz); out.write(hdr); out.write(data)
    }
    if (encrypted) {
      block(4L, 0L, Array[Byte](0, 15, 1), Array.emptyByteArray)
    } else {
      block(1L, 0L, vb(0L), Array.emptyByteArray) // main header
      fileDataSizes.foreach { n =>
        block(2L, 2L, "f.bin".getBytes("US-ASCII"),
          Array.tabulate[Byte](n)(i => (i * 3).toByte))
      }
      block(5L, 0L, Array.emptyByteArray, Array.emptyByteArray)
    }
    out.toByteArray
  }
}

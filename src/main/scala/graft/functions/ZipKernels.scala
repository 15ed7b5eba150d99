package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** ZIP archive ingest (round 14) — the container office documents,
  * EPUBs, and a long tail of crawled payloads actually are (docx/
  * xlsx/pptx/epub/jar are all ZIP + XML). Central-directory-driven,
  * fail-closed, pure JVM:
  *
  *  - [[entries]]: EOCD scan from the tail (comment-tolerant),
  *    central directory walk, each entry cross-checked against its
  *    local file header — (name, method, compressed_size, size) rows
  *    in central-directory order. Header-only: no decompression (the
  *    triage read a 100 TB listing pass wants).
  *  - [[extract]]: the named entry's bytes — stored (method 0) and
  *    deflate (method 8), CRC32 AND size verified after
  *    decompression, inflate capped (the gunzip zip-bomb contract).
  *    NULL for a missing name, unsupported method, encrypted entry,
  *    or any mismatch.
  *  - Fail-closed everywhere: no/ambiguous EOCD, zip64 markers, entry
  *    counts that don't match the directory walk, offsets out of
  *    range, or a local header that disagrees with the directory make
  *    the WHOLE archive NULL — a half-readable container must be
  *    visible, never half-ingested.
  */
object ZipKernels {

  import Decode.{MaxInflate, Refused, inflateCapped, leU16, leU32}

  private val MaxEntries = 65535

  import org.apache.spark.sql.types._
  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false),
    StructField("compressed_size", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  private def sig(b: Array[Byte], i: Int, c3: Int, c4: Int): Boolean =
    i + 4 <= b.length && b(i) == 'P' && b(i + 1) == 'K' &&
      (b(i + 2) & 0xff) == c3 && (b(i + 3) & 0xff) == c4

  /** Central-directory records as (name, method, csize, usize,
    * lfhOffset, crc32), or null. Shared by [[entries]] and
    * [[extract]]. */
  private def centralDirectory(b: Array[Byte])
      : Seq[(String, Int, Long, Long, Long, Long)] = {
    if (b == null || b.length < 22) return null
    // EOCD: fixed 22 bytes + comment (<= 65535); scan backwards for the
    // LAST signature whose comment length reaches exactly the end
    var eocd = -1
    var i = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    while (i >= stop && eocd < 0) {
      if (sig(b, i, 5, 6) && i + 22 + leU16(b, i + 20) == b.length) eocd = i
      i -= 1
    }
    if (eocd < 0) return null
    if (leU16(b, eocd + 4) != 0 || leU16(b, eocd + 6) != 0) return null // multi-disk
    val n = leU16(b, eocd + 8)
    if (n != leU16(b, eocd + 10)) return null
    if (n > MaxEntries) return null
    val cdSize = leU32(b, eocd + 12)
    val cdOff = leU32(b, eocd + 16)
    if (cdOff == 0xffffffffL || n == 0xffff) return null // zip64: refuse
    if (cdOff + cdSize > eocd) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long, Long, Long)]
    var p = cdOff.toInt
    var k = 0
    while (k < n) {
      if (!sig(b, p, 1, 2)) return null
      if (p + 46 > b.length) return null
      val flags = leU16(b, p + 8)
      val method = leU16(b, p + 10)
      val crc = leU32(b, p + 16)
      val csize = leU32(b, p + 20)
      val usize = leU32(b, p + 24)
      val nameLen = leU16(b, p + 28)
      val extraLen = leU16(b, p + 30)
      val commentLen = leU16(b, p + 32)
      val lfh = leU32(b, p + 42)
      if ((flags & 0x1) != 0) return null // encrypted: refuse the archive
      if (csize == 0xffffffffL || usize == 0xffffffffL) return null // zip64
      if (p + 46 + nameLen > b.length) return null
      val name = new String(b, p + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      // local header cross-check: signature + same name
      if (!sig(b, lfh.toInt, 3, 4)) return null
      val lNameLen = leU16(b, lfh.toInt + 26)
      if (lNameLen != nameLen) return null
      val lName = new String(b, lfh.toInt + 30, lNameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      if (lName != name) return null
      out += ((name, method, csize, usize, lfh, crc))
      p += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    if (p != (cdOff + cdSize).toInt) return null // directory size mismatch
    out.toSeq
  }

  def entries(b: Array[Byte]): ArrayData = {
    val cd = try centralDirectory(b) catch { case Refused() => null }
    if (cd == null) return null
    new GenericArrayData(cd.map { case (name, method, csize, usize, _, _) =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), method, csize, usize))
    }.toArray[Any])
  }

  def extract(b: Array[Byte], nameU: UTF8String): Array[Byte] = {
    if (nameU == null) return null
    val name = nameU.toString
    try {
      val cd = centralDirectory(b)
      if (cd == null) return null
      cd.find(_._1 == name) match {
        case None => null
        case Some(e) => payloadOf(b, e)
      }
    } catch { case Refused() => null }
  }

  /** All members whose names satisfy `pred`, ONE directory scan (r17:
    * the pptx kernel reads N slide parts — per-name extract() was
    * O(parts × directory)). Null on a damaged archive or any failing
    * member payload. */
  private[functions] def extractMatching(b: Array[Byte],
      pred: String => Boolean): Seq[(String, Array[Byte])] = {
    try {
      val cd = centralDirectory(b)
      if (cd == null) return null
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
      cd.foreach { e =>
        if (pred(e._1)) {
          val d = payloadOf(b, e)
          if (d == null) return null
          out += ((e._1, d))
        }
      }
      out.toSeq
    } catch { case Refused() => null }
  }

  private def payloadOf(b: Array[Byte],
      entry: (String, Int, Long, Long, Long, Long)): Array[Byte] = {
    try {
      entry match {
        case (_, method, csize, usize, lfh, crcExpected) =>
          val p = lfh.toInt
          // data starts after the local header's own name+extra (which
          // may differ in extra length from the central copy)
          val nameLen = leU16(b, p + 26)
          val extraLen = leU16(b, p + 28)
          val dataStart = p + 30 + nameLen + extraLen
          if (dataStart + csize > b.length) return null
          if (usize > MaxInflate) return null
          val data: Array[Byte] = method match {
            case 0 =>
              if (csize != usize) return null
              java.util.Arrays.copyOfRange(b, dataStart, (dataStart + csize).toInt)
            case 8 =>
              val inf = new java.util.zip.Inflater(true)
              try {
                inf.setInput(b, dataStart, csize.toInt)
                // capped at the declared size: a longer stream is a lie
                inflateCapped(inf, usize, math.min(usize, 1L << 20).toInt.max(64))
              } finally inf.end()
            case _ => return null // unsupported method
          }
          if (data == null || data.length != usize) return null
          val crc = new java.util.zip.CRC32
          crc.update(data)
          if ((crc.getValue & 0xffffffffL) != crcExpected) return null
          data
      }
    } catch { case Refused() => null }
  }

}

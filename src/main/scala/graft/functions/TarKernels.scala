package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** TAR archive ingest (round 14) — the other container crawled
  * datasets actually ship in (`.tar.gz` via [[WarcKernels.gunzipAll]]
  * → here). POSIX ustar walk, fail-closed:
  *
  *  - 512-byte headers, octal sizes (NUL/space-terminated), data
  *    rounded up to 512; GNU/pax long-name records (typeflag 'L',
  *    'x', 'g') are consumed and applied ('L') or skipped ('x'/'g' —
  *    extended headers carry metadata this listing doesn't model);
  *  - [[entries]]: (name, typeflag, size) rows for every regular
  *    member in archive order (directories carry size 0);
  *  - [[extract]]: the named regular file's bytes, exact size;
  *  - checksum VERIFIED on every header (the unsigned-sum rule with
  *    the checksum field as spaces); a bad checksum, non-octal size,
  *    truncated member, or garbage where a header should be makes the
  *    WHOLE archive NULL. The end-of-archive marker (two zero blocks)
  *    is accepted but not required at EOF (many writers truncate it);
  *    anything else after the last member is refused.
  */
object TarKernels {

  import Decode.Refused

  import org.apache.spark.sql.types._
  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("typeflag", StringType, nullable = false),
    StructField("size", LongType, nullable = false)))

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    if (off + 512 > b.length) return false
    var i = off
    while (i < off + 512) { if (b(i) != 0) return false; i += 1 }
    true
  }

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    var seen = false
    // leading spaces/NULs tolerated, digits, then space/NUL terminator
    while (i < off + len && (b(i) == ' ' || b(i) == 0)) i += 1
    while (i < off + len && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); seen = true; i += 1
      if (v > (1L << 40)) return -1 // absurd size
    }
    while (i < off + len && (b(i) == ' ' || b(i) == 0)) i += 1
    if (!seen || i != off + len) return -1
    v
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var e = off
    while (e < off + len && b(e) != 0) e += 1
    new String(b, off, e - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    val stored = octal(b, off + 148, 8)
    if (stored < 0) return false
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else b(off + i) & 0xff)
      i += 1
    }
    sum == stored
  }

  /** Walk to (name, typeflag, size, dataOffset) rows or null. */
  private def walk(b: Array[Byte]): Seq[(String, Char, Long, Int)] = {
    if (b == null || b.length < 512) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Char, Long, Int)]
    var off = 0
    var pendingLongName: String = null
    while (off + 512 <= b.length) {
      if (isZeroBlock(b, off)) {
        // end-of-archive: the rest must be zero blocks (writers pad to
        // a blocking factor) — anything else is trailing garbage
        var p = off + 512
        while (p + 512 <= b.length) {
          if (!isZeroBlock(b, p)) return null
          p += 512
        }
        if (p != b.length) return null // ragged tail
        return out.toSeq
      }
      if (!checksumOk(b, off)) return null
      val size = octal(b, off + 124, 12)
      if (size < 0) return null
      val dataStart = off + 512
      val dataBlocks = ((size + 511) / 512).toInt
      if (dataStart + dataBlocks * 512L > b.length) return null // truncated
      val typeflag = {
        val t = b(off + 156)
        if (t == 0) '0' else t.toChar
      }
      typeflag match {
        case 'L' => // GNU long name: data is the next entry's name
          pendingLongName = cstr(b, dataStart, size.toInt)
        case 'x' | 'g' => // pax extended headers: skipped
          ()
        case _ =>
          val rawName = cstr(b, off, 100)
          val prefix = cstr(b, off + 345, 155) // ustar split-name field
          val name =
            if (pendingLongName != null) pendingLongName
            else if (prefix.nonEmpty) prefix + "/" + rawName
            else rawName
          pendingLongName = null
          if (name.isEmpty) return null
          out += ((name, typeflag, size, dataStart))
      }
      off = dataStart + dataBlocks * 512
    }
    if (off != b.length) return null // ragged tail without end marker
    out.toSeq
  }

  def entries(b: Array[Byte]): ArrayData = {
    val w = try walk(b) catch { case Refused() => null }
    if (w == null) return null
    new GenericArrayData(w.map { case (name, tf, size, _) =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), UTF8String.fromString(tf.toString), size))
    }.toArray[Any])
  }

  def extract(b: Array[Byte], nameU: UTF8String): Array[Byte] = {
    if (nameU == null) return null
    val name = nameU.toString
    try {
      val w = walk(b)
      if (w == null) return null
      w.find(e => e._1 == name && (e._2 == '0' || e._2 == '7')) match {
        case Some((_, _, size, dataStart)) =>
          java.util.Arrays.copyOfRange(b, dataStart, dataStart + size.toInt)
        case None => null
      }
    } catch { case Refused() => null }
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** OLE2 / Compound File Binary (MS-CFB) container walk + legacy
  * `.doc` text (round 16) — the format behind pre-2007 Office files
  * (.doc/.xls/.ppt), which older crawls carry in bulk; until now they
  * routed as `unknown`. Pure JVM, fail-closed like the ZIP/TAR tier.
  *
  * Reader surface (MS-CFB):
  *  - v3 (512 B) and v4 (4096 B) sector sizes; header-resident plus
  *    chained DIFAT; FAT chain walks with cycle caps;
  *  - the full directory tree (UTF-16LE names, storage/stream/root
  *    types) — [[entries]] lists every entry flat (the red-black
  *    sibling order is presentation, not content);
  *  - small streams through the miniFAT over the root entry's mini
  *    stream (64 B minisectors), large streams through the FAT —
  *    both required by real Office files.
  *
  * [[docText]] (MS-DOC, the non-complex subset): locates the
  * `WordDocument` stream, validates the FIB ident 0xA5EC, refuses
  * `fEncrypted` and `fComplex` (incremental-save piece tables need
  * the Table stream's CLX — a wrong guess would silently scramble
  * text), and decodes the contiguous [fcMin, fcMax) text range —
  * UTF-16LE when the range is NUL-dense (the Word 97 unicode form),
  * windows-1252 otherwise; `\\r` paragraph marks normalize to `\\n`.
  *
  * [[build]] is deterministic fixture tooling (the compressStore
  * tradition): a minimal v3 writer with proper FAT/DIFAT/directory/
  * miniFAT so tests and queries exercise REAL container framing.
  */
object CfbKernels {

  import Decode.{Bad, Refused, leU16, leU32}

  private val MaxSectors = 1 << 16
  private val MaxDirEntries = 4096
  private val ENDOFCHAIN = 0xFFFFFFFEL
  private val FREESECT = 0xFFFFFFFFL
  private val FATSECT = 0xFFFFFFFDL
  private val DIFSECT = 0xFFFFFFFCL

  final case class Entry(name: String, entryType: Int, start: Long,
                         size: Long)

  private final class Doc(val b: Array[Byte]) {
    if (b.length < 512) throw Bad
    if (leU32(b, 0) != 0xE011CFD0L || leU32(b, 4) != 0xE11AB1A1L) throw Bad
    val major = leU16(b, 26)
    if (major != 3 && major != 4) throw Bad
    if (leU16(b, 28) != 0xFFFE) throw Bad // byte order
    val sectorShift = leU16(b, 30)
    if ((major == 3 && sectorShift != 9) ||
        (major == 4 && sectorShift != 12)) throw Bad
    val sectorSize = 1 << sectorShift
    if (leU16(b, 32) != 6) throw Bad // mini sector shift
    val numFat = leU32(b, 44)
    val firstDir = leU32(b, 48)
    val miniCutoff = leU32(b, 56)
    val firstMiniFat = leU32(b, 60)
    val numMiniFat = leU32(b, 64)
    val firstDifat = leU32(b, 68)
    val numDifat = leU32(b, 72)
    val nSectors = (b.length - sectorSize) / sectorSize
    if (nSectors > MaxSectors) throw Bad

    private def sectorOff(s: Long): Int = {
      if (s < 0 || s >= nSectors) throw Bad
      ((s + 1) * sectorSize).toInt
    }

    /** FAT assembled from the header DIFAT + DIFAT sector chain. */
    val fat: Array[Long] = {
      val fatSectors = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < 109 && fatSectors.length < numFat) {
        val s = leU32(b, 76 + 4 * i)
        if (s != FREESECT) fatSectors += s
        i += 1
      }
      var difat = firstDifat
      var guard = 0
      val perDifat = sectorSize / 4 - 1
      while (difat != ENDOFCHAIN && difat != FREESECT) {
        if (guard > numDifat + 1 || guard > MaxSectors) throw Bad
        val off = sectorOff(difat)
        var j = 0
        while (j < perDifat && fatSectors.length < numFat) {
          val s = leU32(b, off + 4 * j)
          if (s != FREESECT) fatSectors += s
          j += 1
        }
        difat = leU32(b, off + sectorSize - 4)
        guard += 1
      }
      if (fatSectors.length < numFat) throw Bad
      val perFat = sectorSize / 4
      val out = new Array[Long](fatSectors.length * perFat)
      var k = 0
      fatSectors.foreach { fs =>
        val off = sectorOff(fs)
        var j = 0
        while (j < perFat) { out(k) = leU32(b, off + 4 * j); k += 1; j += 1 }
      }
      out
    }

    /** Bytes of a FAT chain from `start`, truncated to `size`. */
    def chainBytes(start: Long, size: Long): Array[Byte] = {
      if (size < 0 || size > b.length.toLong) throw Bad
      val out = new Array[Byte](size.toInt)
      var s = start
      var pos = 0
      var guard = 0
      while (s != ENDOFCHAIN) {
        if (guard > nSectors || s >= fat.length) throw Bad
        val off = sectorOff(s)
        val take = math.min(sectorSize.toLong, size - pos).toInt
        if (take > 0) {
          if (off + take > b.length) throw Bad
          System.arraycopy(b, off, out, pos, take)
          pos += take
        }
        s = fat(s.toInt)
        guard += 1
      }
      if (pos < size) throw Bad // chain shorter than declared size
      out
    }

    val dirEntries: Vector[Entry] = {
      // the directory chain length is implied by the FAT
      var s = firstDir
      var guard = 0
      val bytes = new java.io.ByteArrayOutputStream()
      while (s != ENDOFCHAIN) {
        if (guard > nSectors || s >= fat.length) throw Bad
        bytes.write(b, sectorOff(s), sectorSize)
        s = fat(s.toInt)
        guard += 1
      }
      val d = bytes.toByteArray
      val n = math.min(d.length / 128, MaxDirEntries)
      (0 until n).flatMap { i =>
        val off = i * 128
        val nameLen = leU16(d, off + 64)
        val tpe = d(off + 66) & 0xff
        if (tpe == 0 || nameLen < 2 || nameLen > 64) None
        else {
          val name = new String(d, off, nameLen - 2,
            java.nio.charset.StandardCharsets.UTF_16LE)
          val start = leU32(d, off + 116)
          // v3 stream sizes are 32-bit; real writers leave garbage in
          // the high half — the spec says ignore it
          val size = leU32(d, off + 120)
          Some(Entry(name, tpe, start, size))
        }
      }.toVector
    }

    private lazy val root: Entry =
      dirEntries.find(_.entryType == 5).getOrElse(throw Bad)

    private lazy val miniStream: Array[Byte] =
      chainBytes(root.start, root.size)

    private lazy val miniFat: Array[Long] = {
      if (numMiniFat == 0) Array.emptyLongArray
      else {
        val raw = chainBytes(firstMiniFat, numMiniFat * sectorSize.toLong)
        Array.tabulate(raw.length / 4)(i => leU32(raw, i * 4))
      }
    }

    def streamBytes(e: Entry): Array[Byte] = {
      if (e.entryType != 2) throw Bad
      if (e.size >= miniCutoff) chainBytes(e.start, e.size)
      else {
        val out = new Array[Byte](e.size.toInt)
        var s = e.start
        var pos = 0
        var guard = 0
        while (s != ENDOFCHAIN) {
          if (guard > miniFat.length || s < 0 || s >= miniFat.length) throw Bad
          val off = s.toInt * 64
          val take = math.min(64L, e.size - pos).toInt
          if (take > 0) {
            if (off + take > miniStream.length) throw Bad
            System.arraycopy(miniStream, off, out, pos, take)
            pos += take
          }
          s = miniFat(s.toInt)
          guard += 1
        }
        if (pos < e.size) throw Bad
        out
      }
    }
  }

  /** Flat member listing: array of struct(name, entry_type, size)
    * (entry_type 1 = storage, 2 = stream, 5 = root), or null for a
    * non-CFB / malformed blob. */
  def entries(b: Array[Byte]): GenericArrayData = {
    if (b == null) return null
    try {
      val doc = new Doc(b)
      new GenericArrayData(doc.dirEntries.map { e =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(e.name), e.entryType, e.size))
      }.toArray[Any])
    } catch { case Refused() => null }
  }

  /** One named stream's bytes from a CFB container, or null when the
    * container is malformed or the stream absent — the shared access
    * path for the Office-family kernels (.doc/.xls/.ppt). */
  private[functions] def openStream(b: Array[Byte], name: String): Array[Byte] = {
    if (b == null) return null
    try {
      val doc = new Doc(b)
      doc.dirEntries.find(e => e.entryType == 2 && e.name == name)
        .map(doc.streamBytes).orNull
    } catch { case Refused() => null }
  }

  /** Text of a non-complex, unencrypted legacy `.doc`, or null. */
  def docText(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    try {
      val doc = new Doc(b)
      val wd = doc.dirEntries
        .find(e => e.entryType == 2 && e.name == "WordDocument")
        .getOrElse(return null)
      val s = doc.streamBytes(wd)
      if (s.length < 32) return null
      if (leU16(s, 0) != 0xA5EC) return null // FIB ident
      val flags = leU16(s, 10)
      if ((flags & 0x0004) != 0) return null // fComplex: needs CLX
      if ((flags & 0x0100) != 0) return null // fEncrypted
      val fcMin = leU32(s, 24)
      val fcMax = leU32(s, 28)
      if (fcMin < 32 || fcMax < fcMin || fcMax > s.length) return null
      val len = (fcMax - fcMin).toInt
      if (len == 0) return UTF8String.fromString("")
      var nuls = 0
      var i = fcMin.toInt
      while (i < fcMax) { if (s(i) == 0) nuls += 1; i += 1 }
      // Word 97 stores unicode text as UTF-16LE: ASCII-heavy content
      // is half NULs; 8-bit text has (nearly) none
      val text =
        if (nuls * 4 > len)
          new String(s, fcMin.toInt, len,
            java.nio.charset.StandardCharsets.UTF_16LE)
        else
          new String(s, fcMin.toInt, len,
            java.nio.charset.Charset.forName("windows-1252"))
      UTF8String.fromString(text.replace('\r', '\n'))
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writer (v3): header DIFAT only, one FAT sector — caps
  // fixtures at ~64 KB of sectors, far beyond what tests need
  // -----------------------------------------------------------------
  private[graft] def build(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val SS = 512
    val cutoff = 4096
    val small = streams.filter(_._2.length < cutoff)
    val large = streams.filter(_._2.length >= cutoff)
    // mini stream: small streams padded to 64 B minisectors
    val miniChains = scala.collection.mutable.HashMap.empty[String, Int]
    val mini = new java.io.ByteArrayOutputStream()
    val miniFatEntries = scala.collection.mutable.ArrayBuffer.empty[Long]
    small.foreach { case (name, data) =>
      val startMini = miniFatEntries.length
      miniChains(name) = startMini
      val nSec = math.max(1, (data.length + 63) / 64)
      for (k <- 0 until nSec)
        miniFatEntries += (if (k == nSec - 1) ENDOFCHAIN else startMini + k + 1L)
      mini.write(data)
      val pad = nSec * 64 - data.length
      mini.write(new Array[Byte](pad))
    }
    val miniBytes = mini.toByteArray
    // sector plan: [0]=FAT, [1..d]=directory, [m]=miniFAT (if any),
    // then mini-stream sectors, then large-stream sectors
    val nDirEntries = 1 + streams.size
    val nDirSectors = math.max(1, (nDirEntries * 128 + SS - 1) / SS)
    val nMiniFatSectors = if (miniFatEntries.nonEmpty) 1 else 0
    require(miniFatEntries.length <= SS / 4, "fixture mini stream too large")
    val nMiniStreamSectors = (miniBytes.length + SS - 1) / SS
    val largeSectorCounts = large.map { case (_, d) => (d.length + SS - 1) / SS }
    val fatSector = 0
    val dirStart = 1
    val miniFatStart = dirStart + nDirSectors
    val miniStreamStart = miniFatStart + nMiniFatSectors
    val largeStart = miniStreamStart + nMiniStreamSectors
    val totalSectors = largeStart + largeSectorCounts.sum
    require(totalSectors <= SS / 4, "fixture exceeds one FAT sector")
    // FAT
    val fat = Array.fill[Long](SS / 4)(FREESECT)
    fat(fatSector) = FATSECT
    for (i <- 0 until nDirSectors)
      fat(dirStart + i) =
        if (i == nDirSectors - 1) ENDOFCHAIN else dirStart + i + 1L
    if (nMiniFatSectors == 1) fat(miniFatStart) = ENDOFCHAIN
    for (i <- 0 until nMiniStreamSectors)
      fat(miniStreamStart + i) =
        if (i == nMiniStreamSectors - 1) ENDOFCHAIN
        else miniStreamStart + i + 1L
    var at = largeStart
    val largeStarts = largeSectorCounts.map { n =>
      val s = at
      for (i <- 0 until n)
        fat(s + i) = if (i == n - 1) ENDOFCHAIN else s + i + 1L
      at += n
      s
    }
    // directory: root + flat right-sibling list
    val dir = new Array[Byte](nDirSectors * SS)
    java.util.Arrays.fill(dir, 0xFF.toByte) // FREESECT-ish padding
    def putEntry(idx: Int, name: String, tpe: Int, left: Long, right: Long,
                 child: Long, start: Long, size: Long): Unit = {
      val off = idx * 128
      java.util.Arrays.fill(dir, off, off + 128, 0.toByte)
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      require(nb.length <= 62, s"name too long: $name")
      System.arraycopy(nb, 0, dir, off, nb.length)
      def w16(o: Int, v: Int): Unit = { dir(off + o) = (v & 0xff).toByte
        dir(off + o + 1) = ((v >> 8) & 0xff).toByte }
      def w32(o: Int, v: Long): Unit = (0 until 4).foreach(k =>
        dir(off + o + k) = ((v >> (8 * k)) & 0xff).toByte)
      w16(64, nb.length + 2)
      dir(off + 66) = tpe.toByte
      dir(off + 67) = 1 // black
      w32(68, left); w32(72, right); w32(76, child)
      w32(116, start); w32(120, size); w32(124, 0L)
    }
    val rootStart =
      if (nMiniStreamSectors > 0) miniStreamStart.toLong else ENDOFCHAIN
    putEntry(0, "Root Entry", 5, FREESECT, FREESECT,
      if (streams.nonEmpty) 1L else FREESECT, rootStart, miniBytes.length)
    streams.zipWithIndex.foreach { case ((name, data), i) =>
      val (start, size) =
        if (data.length >= cutoff) {
          val li = large.indexWhere(_._1 == name)
          (largeStarts(li).toLong, data.length.toLong)
        } else (miniChains(name).toLong, data.length.toLong)
      val right = if (i + 1 < streams.size) i + 2L else FREESECT
      putEntry(i + 1, name, 2, FREESECT, right, FREESECT, start, size)
    }
    // header
    val out = new java.io.ByteArrayOutputStream()
    val header = new Array[Byte](SS)
    def h16(o: Int, v: Int): Unit = { header(o) = (v & 0xff).toByte
      header(o + 1) = ((v >> 8) & 0xff).toByte }
    def h32(o: Int, v: Long): Unit = (0 until 4).foreach(k =>
      header(o + k) = ((v >> (8 * k)) & 0xff).toByte)
    h32(0, 0xE011CFD0L); h32(4, 0xE11AB1A1L)
    h16(24, 0x3E); h16(26, 3); h16(28, 0xFFFE); h16(30, 9); h16(32, 6)
    h32(40, 0L)            // num dir sectors (v3: 0)
    h32(44, 1L)            // num FAT sectors
    h32(48, dirStart.toLong)
    h32(56, cutoff.toLong)
    h32(60, if (nMiniFatSectors == 1) miniFatStart.toLong else ENDOFCHAIN)
    h32(64, nMiniFatSectors.toLong)
    h32(68, ENDOFCHAIN)    // no DIFAT chain
    h32(72, 0L)
    h32(76, fatSector.toLong) // DIFAT[0]
    for (i <- 1 until 109) h32(76 + 4 * i, FREESECT)
    out.write(header)
    // FAT sector
    val fatBytes = new Array[Byte](SS)
    for (i <- 0 until SS / 4; k <- 0 until 4)
      fatBytes(i * 4 + k) = ((fat(i) >> (8 * k)) & 0xff).toByte
    out.write(fatBytes)
    out.write(dir)
    if (nMiniFatSectors == 1) {
      val mf = new Array[Byte](SS)
      java.util.Arrays.fill(mf, 0xFF.toByte)
      for (i <- miniFatEntries.indices; k <- 0 until 4)
        mf(i * 4 + k) = ((miniFatEntries(i) >> (8 * k)) & 0xff).toByte
      out.write(mf)
    }
    out.write(miniBytes)
    out.write(new Array[Byte](nMiniStreamSectors * SS - miniBytes.length))
    large.foreach { case (_, d) =>
      out.write(d)
      val pad = ((d.length + SS - 1) / SS) * SS - d.length
      out.write(new Array[Byte](pad))
    }
    out.toByteArray
  }

  /** Minimal non-complex `.doc` fixture: a FIB with the given text. */
  private[graft] def buildDoc(text: String, unicode: Boolean,
      complex: Boolean = false, encrypted: Boolean = false,
      extra: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val tb =
      if (unicode) text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      else text.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val fibLen = 512
    val wd = new Array[Byte](fibLen + tb.length)
    def w16(o: Int, v: Int): Unit = { wd(o) = (v & 0xff).toByte
      wd(o + 1) = ((v >> 8) & 0xff).toByte }
    def w32(o: Int, v: Long): Unit = (0 until 4).foreach(k =>
      wd(o + k) = ((v >> (8 * k)) & 0xff).toByte)
    w16(0, 0xA5EC); w16(2, 193) // nFib: Word 97
    var flags = 0
    if (complex) flags |= 0x0004
    if (encrypted) flags |= 0x0100
    w16(10, flags)
    w32(24, fibLen.toLong)            // fcMin
    w32(28, fibLen.toLong + tb.length) // fcMax
    System.arraycopy(tb, 0, wd, fibLen, tb.length)
    build(Seq("WordDocument" -> wd) ++ extra)
  }
}

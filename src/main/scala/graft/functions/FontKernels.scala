package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Web-font triage (round 17) — fonts are a steady crawl stratum
  * (every page pulls them) and their metadata is pure public framing
  * (OpenType/WOFF specs): format, family name, glyph and table
  * counts — the census row an asset pipeline groups on.
  *
  *  - TTF (sfnt 0x00010000 / `true`) and OTF (`OTTO`): table
  *    directory walk; `name` table → family (nameID 1, Windows
  *    UTF-16BE preferred, Mac Roman fallback), `maxp` → numGlyphs;
  *  - TTC (`ttcf`): the first font's directory;
  *  - WOFF (`wOFF`): same tables, zlib-inflated when compressed;
  *  - WOFF2 (`wOF2`): header-only census (format + table count) —
  *    the payload is a single Brotli stream of TRANSFORMED tables
  *    whose reconstruction is a renderer's job, not triage's.
  *
  * Fail-closed: bad magic, directory overruns, or a corrupt
  * compressed table → NULL; a font without a `name`/`maxp` table
  * keeps NULL fields (census honesty: the container is sound).
  */
object FontKernels {

  import Decode.{Bad, MaxInflate, MaxOut, Refused, beU16, beU32}

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("family", StringType, nullable = true),
    StructField("n_glyphs", IntegerType, nullable = true),
    StructField("n_tables", IntegerType, nullable = false)))

  private val MaxTables = 512

  private def tag(b: Array[Byte], i: Int): String = {
    if (i + 4 > b.length) throw Bad
    new String(b, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Family from a `name` table's bytes. */
  private def familyOf(nt: Array[Byte]): String = {
    val count = beU16(nt, 2)
    val strOff = beU16(nt, 4)
    var mac: String = null
    var win: String = null
    var i = 0
    while (i < count && i < MaxTables) {
      val rec = 6 + i * 12
      val platform = beU16(nt, rec)
      val nameId = beU16(nt, rec + 6)
      val len = beU16(nt, rec + 8)
      val off = beU16(nt, rec + 10)
      if (nameId == 1 && strOff + off + len <= nt.length) {
        if (platform == 3 && win == null && len % 2 == 0)
          win = new String(nt, strOff + off, len,
            java.nio.charset.StandardCharsets.UTF_16BE)
        else if (platform == 1 && mac == null)
          mac = new String(nt, strOff + off, len,
            java.nio.charset.StandardCharsets.ISO_8859_1)
      }
      i += 1
    }
    val f = if (win != null) win else mac
    if (f == null || f.trim.isEmpty) null else f.trim
  }

  private def row(fmt: String, family: String, glyphs: Int,
                  tables: Int): GenericInternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(fmt),
      if (family == null) null else UTF8String.fromString(family),
      if (glyphs < 0) null else glyphs,
      tables))

  /** sfnt directory at `off` in `b`: (format, family, glyphs, tables). */
  private def sfnt(b: Array[Byte], off: Int): GenericInternalRow = {
    val ver = beU32(b, off)
    val fmt = ver match {
      case 0x00010000L => "ttf"
      case 0x74727565L => "ttf" // 'true' (Apple)
      case 0x4F54544FL => "otf" // 'OTTO'
      case _ => throw Bad
    }
    val n = beU16(b, off + 4)
    if (n < 1 || n > MaxTables) throw Bad
    var name: Array[Byte] = null
    var maxp: Array[Byte] = null
    var i = 0
    while (i < n) {
      val e = off + 12 + i * 16
      val t = tag(b, e)
      val tOff = beU32(b, e + 8)
      val tLen = beU32(b, e + 12)
      if (tOff + tLen > b.length || tLen > Int.MaxValue) throw Bad
      if (t == "name")
        name = java.util.Arrays.copyOfRange(b, tOff.toInt, (tOff + tLen).toInt)
      if (t == "maxp")
        maxp = java.util.Arrays.copyOfRange(b, tOff.toInt, (tOff + tLen).toInt)
      i += 1
    }
    row(fmt,
      if (name != null) familyOf(name) else null,
      if (maxp != null && maxp.length >= 6) beU16(maxp, 4) else -1,
      n)
  }

  private def inflate(data: Array[Byte], origLen: Int): Array[Byte] = {
    if (origLen < 0 || origLen > MaxInflate) throw Bad
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new Array[Byte](origLen)
    try {
      val got = inf.inflate(out)
      if (got != origLen || !inf.finished()) throw Bad
      out
    } catch { case _: java.util.zip.DataFormatException => throw Bad }
    finally inf.end()
  }

  /** struct(format, family, n_glyphs, n_tables), or null. */
  def fontMeta(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      if (b.length < 12) return null
      tag(b, 0) match {
        case "ttcf" =>
          val nFonts = beU32(b, 8)
          if (nFonts < 1) throw Bad
          sfnt(b, beU32(b, 12).toInt) // first font's directory
        case "wOFF" =>
          val flavor = beU32(b, 4)
          val fmt = if (flavor == 0x4F54544FL) "otf" else "ttf"
          val n = beU16(b, 12)
          if (n < 1 || n > MaxTables) throw Bad
          var name: Array[Byte] = null
          var maxp: Array[Byte] = null
          var i = 0
          while (i < n) {
            val e = 44 + i * 20
            val t = tag(b, e)
            val tOff = beU32(b, e + 4)
            val compLen = beU32(b, e + 8)
            val origLen = beU32(b, e + 12)
            if (tOff + compLen > b.length) throw Bad
            if (t == "name" || t == "maxp") {
              val raw = java.util.Arrays.copyOfRange(
                b, tOff.toInt, (tOff + compLen).toInt)
              val table =
                if (compLen < origLen) inflate(raw, origLen.toInt)
                else if (compLen == origLen) raw
                else throw Bad
              if (t == "name") name = table else maxp = table
            }
            i += 1
          }
          row(s"woff-$fmt",
            if (name != null) familyOf(name) else null,
            if (maxp != null && maxp.length >= 6) beU16(maxp, 4) else -1,
            n)
        case "wOF2" =>
          // header-only census: the payload is one Brotli stream of
          // TRANSFORMED tables — reconstruction is out of triage scope
          val n = beU16(b, 12)
          if (n < 1 || n > MaxTables) throw Bad
          if (beU32(b, 8) > MaxOut) throw Bad // declared total size
          row("woff2", null, -1, n)
        case _ => sfnt(b, 0)
      }
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writers
  // -----------------------------------------------------------------
  private[graft] def buildNameTable(family: String): Array[Byte] = {
    val winBytes = family.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
    val macBytes = family.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    w16(0); w16(2); w16(6 + 2 * 12)
    // mac record first (platform 1)
    w16(1); w16(0); w16(0); w16(1); w16(macBytes.length); w16(winBytes.length)
    // windows record (platform 3)
    w16(3); w16(1); w16(0x409); w16(1); w16(winBytes.length); w16(0)
    out.write(winBytes); out.write(macBytes)
    out.toByteArray
  }

  private[graft] def buildMaxp(glyphs: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0, 1, 0, 0))
    out.write((glyphs >> 8) & 0xff); out.write(glyphs & 0xff)
    out.write(new Array[Byte](26))
    out.toByteArray
  }

  /** `base` biases table offsets for embedding in a TTC (offsets are
    * file-relative). */
  private[graft] def buildSfnt(otf: Boolean,
                               tables: Seq[(String, Array[Byte])],
                               base: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def w32(v: Long): Unit = { w16(((v >> 16) & 0xffff).toInt); w16((v & 0xffff).toInt) }
    if (otf) out.write("OTTO".getBytes("US-ASCII")) else w32(0x00010000L)
    w16(tables.size); w16(16); w16(2); w16(0)
    var off = base + 12 + tables.size * 16
    tables.foreach { case (t, data) =>
      out.write(t.getBytes("US-ASCII"))
      w32(0L) // checksum (not validated by triage)
      w32(off.toLong)
      w32(data.length.toLong)
      off += data.length
    }
    tables.foreach { case (_, d) => out.write(d) }
    out.toByteArray
  }

  private[graft] def buildWoff(otf: Boolean,
                               tables: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def w32(v: Long): Unit = { w16(((v >> 16) & 0xffff).toInt); w16((v & 0xffff).toInt) }
    val comped = tables.map { case (t, d, compress) =>
      if (compress) {
        val def_ = new java.util.zip.Deflater()
        def_.setInput(d); def_.finish()
        val buf = new Array[Byte](d.length + 64)
        val n = def_.deflate(buf); def_.end()
        val c = java.util.Arrays.copyOf(buf, n)
        if (c.length < d.length) (t, d, c) else (t, d, d)
      } else (t, d, d)
    }
    out.write("wOFF".getBytes("US-ASCII"))
    if (otf) out.write("OTTO".getBytes("US-ASCII")) else w32(0x00010000L)
    val dirLen = 44 + tables.size * 20
    val total = dirLen + comped.map(_._3.length).sum
    w32(total.toLong)
    w16(tables.size); w16(0)
    w32(12 + tables.size * 16 + tables.map(_._2.length).sum) // totalSfntSize
    w16(1); w16(0) // version
    w32(0L); w32(0L); w32(0L) // meta
    w32(0L); w32(0L) // priv
    var off = dirLen
    comped.foreach { case (t, d, c) =>
      out.write(t.getBytes("US-ASCII"))
      w32(off.toLong); w32(c.length.toLong); w32(d.length.toLong); w32(0L)
      off += c.length
    }
    comped.foreach { case (_, _, c) => out.write(c) }
    out.toByteArray
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata extraction (round 17) — the camera metadata an image
  * corpus joins and filters on (orientation for correct dhash-side
  * rotation handling, capture time, device, GPS): pure public framing
  * (EXIF is a TIFF IFD tree inside a JPEG APP1 segment or a bare TIFF).
  *
  *  - JPEG: marker walk to the first `APP1` whose payload starts
  *    `Exif\0\0`; TIFF blobs are read directly;
  *  - IFD0: Orientation (0x0112), DateTime (0x0132), Make (0x010F),
  *    Model (0x0110), the EXIF sub-IFD pointer (0x8769 —
  *    DateTimeOriginal 0x9003 preferred over IFD0's DateTime) and the
  *    GPS IFD pointer (0x8825 — latitude/longitude assembled from the
  *    3-RATIONAL degree/minute/second form with N/S/E/W signs,
  *    rounded to 1e-6 degrees);
  *  - both endiannesses; ASCII values NUL-trimmed.
  *
  * NULL when no EXIF block exists or its TIFF structure is damaged;
  * fields NULL when the block is sound but a tag is absent.
  */
object ExifKernels {

  import Decode.{Bad, Refused, beU16, beU32, leU16, leU32}

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("orientation", IntegerType, nullable = true),
    StructField("datetime", StringType, nullable = true),
    StructField("make", StringType, nullable = true),
    StructField("model", StringType, nullable = true),
    StructField("gps_lat", DoubleType, nullable = true),
    StructField("gps_lon", DoubleType, nullable = true)))

  private val MaxEntries = 512

  private final class Tiff(val b: Array[Byte], val base: Int, val end: Int) {
    if (end - base < 8) throw Bad
    val little: Boolean =
      if (b(base) == 'I' && b(base + 1) == 'I') true
      else if (b(base) == 'M' && b(base + 1) == 'M') false
      else throw Bad
    def u16(i: Int): Int = {
      val p = base + i
      if (p < base || p > end - 2) throw Bad
      if (little) leU16(b, p) else beU16(b, p)
    }
    def u32(i: Int): Long = {
      val p = base + i
      if (p < base || p > end - 4) throw Bad
      if (little) leU32(b, p) else beU32(b, p)
    }
    if (u16(2) != 42) throw Bad

    /** tag → (type, count, valueFieldOffset) for one IFD. */
    def ifd(at: Long): Map[Int, (Int, Long, Int)] = {
      if (at < 0 || at > Int.MaxValue) throw Bad
      val n = u16(at.toInt)
      if (n > MaxEntries) throw Bad
      (0 until n).map { k =>
        val e = at.toInt + 2 + k * 12
        val tag = u16(e)
        val tpe = u16(e + 2)
        val count = u32(e + 4)
        tag -> ((tpe, count, e + 8))
      }.toMap
    }

    private def typeSize(t: Int): Int = t match {
      case 1 | 2 | 7 => 1
      case 3 => 2
      case 4 | 9 => 4
      case 5 | 10 => 8
      case _ => 0
    }

    /** Where the value bytes live (inline vs offset). */
    private def valueAt(tpe: Int, count: Long, field: Int): Int = {
      val sz = typeSize(tpe)
      if (sz == 0 || count < 0 || count > (1 << 20)) throw Bad
      if (sz * count <= 4) field else u32(field).toInt
    }

    def ascii(e: (Int, Long, Int)): String = {
      val (tpe, count, field) = e
      if (tpe != 2 || count > 4096) return null
      val at = base + valueAt(tpe, count, field)
      if (at < base || at + count > end) return null
      var len = count.toInt
      while (len > 0 && b(at + len - 1) == 0) len -= 1
      new String(b, at, len, java.nio.charset.StandardCharsets.US_ASCII).trim
    }

    def short(e: (Int, Long, Int)): Int = {
      val (tpe, count, field) = e
      if (tpe != 3 || count < 1) return -1
      u16(valueAt(tpe, count, field))
    }

    def long_(e: (Int, Long, Int)): Long = {
      val (tpe, count, field) = e
      if (count < 1) return -1L
      if (tpe == 4) u32(valueAt(tpe, count, field))
      else if (tpe == 3) u16(valueAt(tpe, count, field)).toLong
      else -1L
    }

    /** `idx`-th RATIONAL of an entry as a double; NaN if unusable. */
    def rational(e: (Int, Long, Int), idx: Int): Double = {
      val (tpe, count, field) = e
      if (tpe != 5 || idx >= count) return Double.NaN
      val at = valueAt(tpe, count, field) + idx * 8
      val num = u32(at)
      val den = u32(at + 4)
      if (den == 0) return Double.NaN
      num.toDouble / den.toDouble
    }
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** struct(orientation, datetime, make, model, gps_lat, gps_lon),
    * or null when no EXIF block / damaged structure. */
  def exifMeta(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      var base = -1
      var end = -1
      if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        // JPEG: marker walk to APP1/Exif
        var i = 2
        var going = true
        while (going && i + 4 <= b.length && (b(i) & 0xff) == 0xff) {
          val m = b(i + 1) & 0xff
          if (m == 0xff) i += 1
          else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
          else {
            val len = beU16(b, i + 2)
            if (len < 2 || i + 2 + len > b.length) throw Bad
            if (m == 0xe1 && len >= 8 &&
                b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
                b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0) {
              base = i + 10
              end = i + 2 + len
              going = false
            } else if (m == 0xda) going = false // entropy data: stop
            else i += 2 + len
          }
        }
        if (base < 0) return null // a JPEG without EXIF: not an error,
        // but nothing to vouch for
      } else if (b.length >= 8 && ((b(0) == 'I' && b(1) == 'I') ||
                 (b(0) == 'M' && b(1) == 'M'))) {
        base = 0; end = b.length
      } else return null
      val t = new Tiff(b, base, end)
      val ifd0 = t.ifd(t.u32(4))
      var orientation = -1
      ifd0.get(0x0112).foreach(e => orientation = t.short(e))
      var make: String = null
      var model: String = null
      var dt: String = null
      ifd0.get(0x010F).foreach(e => make = t.ascii(e))
      ifd0.get(0x0110).foreach(e => model = t.ascii(e))
      ifd0.get(0x0132).foreach(e => dt = t.ascii(e))
      ifd0.get(0x8769).foreach { e =>
        val sub = t.ifd(t.long_(e))
        sub.get(0x9003).foreach { d =>
          val v = t.ascii(d)
          if (v != null && v.nonEmpty) dt = v
        }
      }
      var lat = Double.NaN
      var lon = Double.NaN
      ifd0.get(0x8825).foreach { e =>
        val gps = t.ifd(t.long_(e))
        def coord(refTag: Int, valTag: Int, neg: String): Double = {
          val refS = gps.get(refTag).map(t.ascii).orNull
          val v = gps.get(valTag).orNull
          if (refS == null || v == null) return Double.NaN
          val d = t.rational(v, 0)
          val m = t.rational(v, 1)
          val s = t.rational(v, 2)
          if (d.isNaN || m.isNaN || s.isNaN) return Double.NaN
          val deg = d + m / 60.0 + s / 3600.0
          if (refS.equalsIgnoreCase(neg)) -deg else deg
        }
        lat = coord(0x0001, 0x0002, "S")
        lon = coord(0x0003, 0x0004, "W")
      }
      def u(s: String): UTF8String =
        if (s == null || s.isEmpty) null else UTF8String.fromString(s)
      new GenericInternalRow(Array[Any](
        if (orientation >= 1 && orientation <= 8) orientation else null,
        u(dt), u(make), u(model),
        if (lat.isNaN) null else round6(lat),
        if (lon.isNaN) null else round6(lon)))
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writer: a real little-endian EXIF TIFF block, embeddable
  // as a JPEG APP1 via [[app1Splice]]
  // -----------------------------------------------------------------
  private[graft] def buildExif(orientation: Int, make: String, model: String,
      dateTimeOriginal: String,
      gps: Option[(Double, Double)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    // header
    out.write('I'); out.write('I'); w16(42); w32(8L)
    // plan: IFD0 @8, then EXIF sub-IFD, GPS IFD (when present), data
    val n0 = if (gps.isDefined) 6 else 5
    val ifd0End = 8 + 2 + n0 * 12 + 4
    val exifAt = ifd0End
    val exifEnd = exifAt + 2 + 1 * 12 + 4
    val gpsAt = exifEnd
    val nGps = if (gps.isDefined) 4 else 0
    val gpsEnd = gpsAt + (if (gps.isDefined) 2 + nGps * 12 + 4 else 0)
    var dataAt = gpsEnd
    val data = new java.io.ByteArrayOutputStream()
    def asciiEntry(tag: Int, s: String): Array[Byte] = {
      val bs = s.getBytes("US-ASCII") :+ 0.toByte
      val e = new java.io.ByteArrayOutputStream()
      def e16(v: Int): Unit = { e.write(v & 0xff); e.write((v >> 8) & 0xff) }
      def e32(v: Long): Unit = { e16((v & 0xffff).toInt); e16(((v >> 16) & 0xffff).toInt) }
      e16(tag); e16(2); e32(bs.length.toLong)
      if (bs.length <= 4) {
        e.write(java.util.Arrays.copyOf(bs, 4))
      } else {
        e32(dataAt.toLong)
        data.write(bs)
        dataAt += bs.length
      }
      e.toByteArray
    }
    def shortEntry(tag: Int, v: Int): Array[Byte] = {
      val e = new java.io.ByteArrayOutputStream()
      def e16(x: Int): Unit = { e.write(x & 0xff); e.write((x >> 8) & 0xff) }
      def e32(x: Long): Unit = { e16((x & 0xffff).toInt); e16(((x >> 16) & 0xffff).toInt) }
      e16(tag); e16(3); e32(1L); e16(v); e16(0)
      e.toByteArray
    }
    def longEntry(tag: Int, v: Long): Array[Byte] = {
      val e = new java.io.ByteArrayOutputStream()
      def e16(x: Int): Unit = { e.write(x & 0xff); e.write((x >> 8) & 0xff) }
      def e32(x: Long): Unit = { e16((x & 0xffff).toInt); e16(((x >> 16) & 0xffff).toInt) }
      e16(tag); e16(4); e32(1L); e32(v)
      e.toByteArray
    }
    def rationalsEntry(tag: Int, vs: Seq[(Long, Long)]): Array[Byte] = {
      val e = new java.io.ByteArrayOutputStream()
      def e16(x: Int): Unit = { e.write(x & 0xff); e.write((x >> 8) & 0xff) }
      def e32(x: Long): Unit = { e16((x & 0xffff).toInt); e16(((x >> 16) & 0xffff).toInt) }
      e16(tag); e16(5); e32(vs.length.toLong); e32(dataAt.toLong)
      val d = new java.io.ByteArrayOutputStream()
      vs.foreach { case (num, den) =>
        def d16(x: Int): Unit = { d.write(x & 0xff); d.write((x >> 8) & 0xff) }
        def d32(x: Long): Unit = { d16((x & 0xffff).toInt); d16(((x >> 16) & 0xffff).toInt) }
        d32(num); d32(den)
      }
      data.write(d.toByteArray)
      dataAt += vs.length * 8
      e.toByteArray
    }
    def dms(v: Double): Seq[(Long, Long)] = {
      val a = math.abs(v)
      val d = a.toLong
      val m = ((a - d) * 60).toLong
      val s = math.rint(((a - d) * 60 - m) * 60 * 100).toLong
      Seq((d, 1L), (m, 1L), (s, 100L))
    }
    // IFD0
    w16(n0)
    out.write(shortEntry(0x0112, orientation))
    out.write(asciiEntry(0x010F, make))
    out.write(asciiEntry(0x0110, model))
    out.write(asciiEntry(0x0132, "1999:01:01 00:00:00")) // superseded
    out.write(longEntry(0x8769, exifAt.toLong))
    if (gps.isDefined) out.write(longEntry(0x8825, gpsAt.toLong))
    w32(0L)
    // EXIF sub-IFD: DateTimeOriginal
    w16(1)
    out.write(asciiEntry(0x9003, dateTimeOriginal))
    w32(0L)
    // GPS IFD
    gps.foreach { case (lat, lon) =>
      w16(nGps)
      out.write(asciiEntry(0x0001, if (lat < 0) "S" else "N"))
      out.write(rationalsEntry(0x0002, dms(lat)))
      out.write(asciiEntry(0x0003, if (lon < 0) "W" else "E"))
      out.write(rationalsEntry(0x0004, dms(lon)))
      w32(0L)
    }
    out.write(data.toByteArray)
    out.toByteArray
  }

  /** Splice an EXIF block into a JPEG as its first APP1 segment. */
  private[graft] def app1Splice(jpeg: Array[Byte],
                                exif: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "not a JPEG")
    val payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ exif
    val len = payload.length + 2
    require(len <= 0xffff, "exif too large")
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }
}

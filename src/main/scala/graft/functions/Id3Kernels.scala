package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** ID3 tag extraction (round 17) — the metadata lane of the MP3 tier.
  * Layer III PCM decode needs the ISO 11172-3 Huffman tables, which
  * are not available in this environment (SCALING.md records that gap
  * honestly); the TAGS are pure public framing and carry what a
  * corpus pipeline actually joins on: title/artist/album/year.
  *
  *  - ID3v2.2 (3-char frame ids, 3-byte sizes), v2.3 (4-char ids,
  *    plain 4-byte sizes) and v2.4 (syncsafe frame sizes): syncsafe
  *    tag length, tag- and frame-level unsynchronization reversed
  *    (FF 00 → FF), text-frame encodings 0–3 (latin-1, UTF-16 with
  *    BOM, UTF-16BE, UTF-8), compressed/encrypted frames skipped;
  *  - ID3v1 / v1.1: the 128-byte `TAG` trailer, latin-1,
  *    NUL/space-trimmed — used as a per-field fallback when the v2
  *    tag lacks a field (the common real-world layering);
  *  - mapping: TIT2/TT2 → title, TPE1/TP1 → artist, TALB/TAL →
  *    album, TYER/TDRC/TYE → year.
  *
  * NULL when the blob carries no ID3 tag at all or the v2 framing is
  * structurally damaged.
  */
object Id3Kernels {

  import Decode.{Bad, Refused, beI32}

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("album", StringType, nullable = true),
    StructField("year", StringType, nullable = true)))

  private def syncsafe(b: Array[Byte], i: Int): Int = {
    if (((b(i) | b(i + 1) | b(i + 2) | b(i + 3)) & 0x80) != 0) throw Bad
    ((b(i) & 0x7f) << 21) | ((b(i + 1) & 0x7f) << 14) |
      ((b(i + 2) & 0x7f) << 7) | (b(i + 3) & 0x7f)
  }

  private def unsync(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    while (i < b.length) {
      out.write(b(i))
      if ((b(i) & 0xff) == 0xff && i + 1 < b.length && b(i + 1) == 0) i += 2
      else i += 1
    }
    out.toByteArray
  }

  /** A text frame payload: encoding byte + data, NUL-terminated lists
    * reduced to the first value. */
  private def textPayload(d: Array[Byte]): String = {
    if (d.length < 1) return ""
    val enc = d(0) & 0xff
    val body = java.util.Arrays.copyOfRange(d, 1, d.length)
    val s = enc match {
      case 0 => new String(body, java.nio.charset.Charset.forName("windows-1252"))
      case 1 => new String(body, java.nio.charset.StandardCharsets.UTF_16)
      case 2 => new String(body, java.nio.charset.StandardCharsets.UTF_16BE)
      case 3 => new String(body, java.nio.charset.StandardCharsets.UTF_8)
      case _ => throw Bad
    }
    val nul = s.indexOf('\u0000')
    (if (nul >= 0) s.substring(0, nul) else s).trim
  }

  private def v1Field(b: Array[Byte], off: Int, len: Int): String = {
    val s = new String(b, off, len,
      java.nio.charset.Charset.forName("windows-1252"))
    val nul = s.indexOf('\u0000')
    val t = (if (nul >= 0) s.substring(0, nul) else s).trim
    if (t.isEmpty) null else t
  }

  /** struct(title, artist, album, year), or null when no tag. */
  def id3Tags(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      var title: String = null
      var artist: String = null
      var album: String = null
      var year: String = null
      var any = false
      // ---- ID3v2 at the front
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
        val major = b(3) & 0xff
        if (major < 2 || major > 4) throw Bad
        val flags = b(5) & 0xff
        val size = syncsafe(b, 6)
        if (10 + size > b.length) throw Bad
        var tag = java.util.Arrays.copyOfRange(b, 10, 10 + size)
        if ((flags & 0x80) != 0) tag = unsync(tag) // tag-level unsync
        var p = 0
        if ((flags & 0x40) != 0) { // extended header: skip by its size
          if (major == 4) p = syncsafe(tag, 0)
          else p = beI32(tag, 0) + 4
          if (p < 4 || p > tag.length) throw Bad
        }
        val idLen = if (major == 2) 3 else 4
        val hdrLen = if (major == 2) 6 else 10
        var going = true
        while (going && p + hdrLen <= tag.length) {
          if (tag(p) == 0) going = false // zero padding starts
          else {
            val id = new String(tag, p, idLen, "US-ASCII")
            val fsize =
              if (major == 2)
                ((tag(p + 3) & 0xff) << 16) | ((tag(p + 4) & 0xff) << 8) |
                  (tag(p + 5) & 0xff)
              else if (major == 4) syncsafe(tag, p + idLen)
              else beI32(tag, p + idLen)
            val fflags = if (major == 2) 0 else tag(p + 9) & 0xff
            if (fsize < 0 || p + hdrLen + fsize > tag.length) throw Bad
            var data = java.util.Arrays.copyOfRange(
              tag, p + hdrLen, p + hdrLen + fsize)
            // v2.4 frame-level unsync; compressed/encrypted skipped
            val skip = major >= 3 && (fflags & 0x0C) != 0
            if (major == 4 && (fflags & 0x02) != 0) data = unsync(data)
            if (!skip) id match {
              case "TIT2" | "TT2" => title = textPayload(data)
              case "TPE1" | "TP1" => artist = textPayload(data)
              case "TALB" | "TAL" => album = textPayload(data)
              case "TYER" | "TDRC" | "TYE" =>
                year = textPayload(data).take(4)
              case _ => ()
            }
            p += hdrLen + fsize
          }
        }
        any = true
      }
      // ---- ID3v1 trailer: per-field fallback
      if (b.length >= 128 && b(b.length - 128) == 'T' &&
          b(b.length - 127) == 'A' && b(b.length - 126) == 'G') {
        val off = b.length - 128
        if (title == null) title = v1Field(b, off + 3, 30)
        if (artist == null) artist = v1Field(b, off + 33, 30)
        if (album == null) album = v1Field(b, off + 63, 30)
        if (year == null) year = v1Field(b, off + 93, 4)
        any = true
      }
      if (!any) return null
      def u(s: String): UTF8String =
        if (s == null || s.isEmpty) null else UTF8String.fromString(s)
      new GenericInternalRow(Array[Any](u(title), u(artist), u(album), u(year)))
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writers
  // -----------------------------------------------------------------
  private[graft] def buildV2(major: Int, frames: Seq[(String, String, Int)],
                             padding: Int = 16): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    frames.foreach { case (id, value, enc) =>
      val data = enc match {
        case 0 => Array(0.toByte) ++
          value.getBytes(java.nio.charset.Charset.forName("windows-1252"))
        case 1 => Array(1.toByte) ++
          value.getBytes(java.nio.charset.StandardCharsets.UTF_16)
        case 3 => Array(3.toByte) ++
          value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      body.write(id.getBytes("US-ASCII"))
      if (major == 2) {
        body.write((data.length >> 16) & 0xff)
        body.write((data.length >> 8) & 0xff)
        body.write(data.length & 0xff)
      } else if (major == 4) {
        body.write((data.length >> 21) & 0x7f); body.write((data.length >> 14) & 0x7f)
        body.write((data.length >> 7) & 0x7f); body.write(data.length & 0x7f)
        body.write(0); body.write(0)
      } else {
        body.write((data.length >> 24) & 0xff); body.write((data.length >> 16) & 0xff)
        body.write((data.length >> 8) & 0xff); body.write(data.length & 0xff)
        body.write(0); body.write(0)
      }
      body.write(data)
    }
    body.write(new Array[Byte](padding))
    val tag = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes("US-ASCII"))
    out.write(major); out.write(0); out.write(0)
    out.write((tag.length >> 21) & 0x7f); out.write((tag.length >> 14) & 0x7f)
    out.write((tag.length >> 7) & 0x7f); out.write(tag.length & 0x7f)
    out.write(tag)
    out.toByteArray
  }

  private[graft] def buildV1(title: String, artist: String, album: String,
                             year: String): Array[Byte] = {
    val t = new Array[Byte](128)
    System.arraycopy("TAG".getBytes("US-ASCII"), 0, t, 0, 3)
    def put(s: String, off: Int, len: Int): Unit = {
      val bs = s.getBytes(java.nio.charset.Charset.forName("windows-1252"))
      System.arraycopy(bs, 0, t, off, math.min(bs.length, len))
    }
    put(title, 3, 30); put(artist, 33, 30); put(album, 63, 30)
    put(year, 93, 4)
    t
  }

  /** A valid CBR MPEG1 Layer III frame chain (headers + dummy
    * payload): `n` frames at 128 kbps / 44100 Hz stereo — tiles
    * exactly, so [[MediaKernels]]' triage walk accepts it. */
  private[graft] def buildFrames(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val frameLen = 144000 * 128 / 44100 // 417, padding 0
    (0 until n).foreach { i =>
      out.write(0xFF); out.write(0xFB) // MPEG1 Layer III, no CRC
      out.write(0x90) // bitrate 128 (idx 9), rate 44100 (idx 0), pad 0
      out.write(0x00) // stereo
      val fill = new Array[Byte](frameLen - 4)
      var k = 0
      while (k < fill.length) { fill(k) = ((i * 7 + k) & 0x7f).toByte; k += 1 }
      out.write(fill)
    }
    out.toByteArray
  }
}

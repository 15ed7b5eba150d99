package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fail-closed contract, property-tested: EVERY binary decoder in
  * the engine must return (None | null | a value) on ARBITRARY bytes —
  * never throw. At 100 TB one uncaught exception in a kernel is a
  * failed executor task and a dead job, so the contract is pinned not
  * just on the hand-picked corrupt shapes in each format's spec but on
  * thousands of adversarial inputs: pure noise, truncations of valid
  * files at every prefix length, bit-flips inside valid files (headers
  * included), and magic-preserving splices of one format's body onto
  * another's signature. Deterministic seed — a failure reproduces. */
class DecoderFuzzSpec extends AnyFunSuite {
  import graft.functions._
  import org.apache.spark.unsafe.types.UTF8String

  private val rnd = new scala.util.Random(0xD15EA5E)

  private val member = UTF8String.fromString("a.txt")

  /** Every public byte-level decoder entry point, by name. */
  private val entryPoints: Seq[(String, Array[Byte] => Any)] = Seq(
    "RasterKernels.decode" -> (b => RasterKernels.decode(b)),
    "JpegKernels.decode" -> (b => JpegKernels.decode(b)),
    "PngKernels.decode" -> (b => PngKernels.decode(b)),
    "GifKernels.decode" -> (b => GifKernels.decode(b)),
    "GifKernels.frames" -> (b => GifKernels.frames(b)),
    "TiffKernels.decode" -> (b => TiffKernels.decode(b)),
    "AudioKernels.decode" -> (b => AudioKernels.decode(b)),
    "MediaKernels.imageMeta" -> (b => MediaKernels.imageMeta(b)),
    "MediaKernels.audioMeta" -> (b => MediaKernels.audioMeta(b)),
    "MediaKernels.videoMeta" -> (b => MediaKernels.videoMeta(b)),
    "MediaKernels.videoTrackStats" -> (b => MediaKernels.videoTrackStats(b)),
    "MediaKernels.mjpegFrames" -> (b => MediaKernels.mjpegFrames(b)),
    "ZstdKernels.decompress" -> (b => ZstdKernels.decompress(b)),
    "BrotliKernels.decompress" -> (b => BrotliKernels.decompress(b)),
    "Lz4Kernels.decompress" -> (b => Lz4Kernels.decompress(b)),
    "LzwKernels.decompress" -> (b => LzwKernels.decompress(b)),
    "WebpKernels.decode" -> (b => WebpKernels.decode(b)),
    "PdfKernels.meta" -> (b => PdfKernels.meta(b)),
    "PdfKernels.images" -> (b => PdfKernels.images(b)),
    "PdfKernels.text" -> (b => PdfKernels.text(b)),
    "CfbKernels.entries" -> (b => CfbKernels.entries(b)),
    "CfbKernels.docText" -> (b => CfbKernels.docText(b)),
    "XlsKernels.cells" -> (b => XlsKernels.cells(b)),
    "PptKernels.pptText" -> (b => PptKernels.pptText(b)),
    "ZipKernels.entries" -> (b => ZipKernels.entries(b)),
    "ZipKernels.extract" -> (b => ZipKernels.extract(b, member)),
    "TarKernels.entries" -> (b => TarKernels.entries(b)),
    "TarKernels.extract" -> (b => TarKernels.extract(b, member)),
    "ArchiveKernels.sevenZipMeta" -> (b => ArchiveKernels.sevenZipMeta(b)),
    "ArchiveKernels.rarMeta" -> (b => ArchiveKernels.rarMeta(b)),
    "EmlKernels.mboxMessages" -> (b => EmlKernels.mboxMessages(b)),
    "EmlKernels.emlParts" -> (b => EmlKernels.emlParts(b)),
    "RtfKernels.rtfText" -> (b => RtfKernels.rtfText(b)),
    "ExifKernels.exifMeta" -> (b => ExifKernels.exifMeta(b)),
    "Id3Kernels.id3Tags" -> (b => Id3Kernels.id3Tags(b)),
    "FlacKernels.decode" -> (b => FlacKernels.decode(b)),
    "FlacKernels.streamInfo" -> (b => FlacKernels.streamInfo(b)),
    "FontKernels.fontMeta" -> (b => FontKernels.fontMeta(b)),
    "ParquetKernels.meta" -> (b => ParquetKernels.meta(b)),
    "WarcKernels.gunzipAll" -> (b => WarcKernels.gunzipAll(b)),
    "AvroKernels.meta" -> (b => AvroKernels.meta(b)),
    "XlsxKernels.cells" -> (b => XlsxKernels.cells(b)),
    "PptxKernels.pptxText" -> (b => PptxKernels.pptxText(b)))

  private def decodersDontThrow(b: Array[Byte], label: String): Unit =
    for ((name, decode) <- entryPoints) {
      try decode(b)
      catch {
        case e: Throwable =>
          fail(s"$name on $label (${b.length} bytes, head ${b.take(24).map(x => f"${x & 0xff}%02x").mkString}) threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }

  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def zipOf(members: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    members.foreach { case (name, content) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def deflated(b: Array[Byte], gzip: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out =
      if (gzip) new java.util.zip.GZIPOutputStream(bos)
      else new java.util.zip.DeflaterOutputStream(bos)
    out.write(b); out.close()
    bos.toByteArray
  }

  private val text =
    (0 until 12).map(i => s"row $i: the quick brown fox jumps over the lazy dog\n").mkString

  /** Brotli streams from the reference encoder (BrotliSpec's fixture). */
  private def brotliRef(label: String, q: Int, lgwin: Int, mode: String): Array[Byte] = {
    val src = scala.io.Source.fromFile("fixtures/brotli_ref_streams.tsv", "UTF-8")
    try unhex(src.getLines().map(_.split('\t'))
      .find(r => r.length == 5 && r(0) == label && r(1) == q.toString &&
        r(2) == lgwin.toString && r(3) == mode).get(4))
    finally src.close()
  }

  private def pdf: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def obj(body: Array[Byte]): Unit = {
      offsets += out.size()
      out.write(ascii(s"${offsets.size} 0 obj "))
      out.write(body)
      out.write(ascii(" endobj\n"))
    }
    val content = deflated(ascii("BT /F1 12 Tf 72 700 Td (fuzz me) Tj ET"), gzip = false)
    val px = Array.tabulate[Byte](2 * 2 * 3)(i => (i * 20).toByte)
    out.write(ascii("%PDF-1.4\n"))
    obj(ascii("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(ascii("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
    obj(ascii("<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im1 5 0 R >> >> >>"))
    obj(ascii(s"<< /Filter /FlateDecode /Length ${content.length} >> stream\n") ++
      content ++ ascii("\nendstream"))
    obj(ascii("<< /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
      s"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length ${px.length} >> stream\n") ++
      px ++ ascii("\nendstream"))
    val xref = out.size()
    out.write(ascii(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n"))
    offsets.foreach(o => out.write(ascii(f"$o%010d 00000 n \n")))
    out.write(ascii(s"trailer << /Size ${offsets.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF"))
    out.toByteArray
  }

  private def tar: Array[Byte] = {
    val data = ascii("hello tar member\n")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = System.arraycopy(ascii(s), 0, h, off, s.length)
    put(0, "a.txt")
    put(100, "0000644 "); put(108, "0000000 "); put(116, "0000000 ")
    put(124, f"${data.length}%011o "); put(136, "00000000000 ")
    h(156) = '0'.toByte
    put(257, "ustar 00")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    put(148, f"${h.map(_ & 0xff).sum}%06o  ")
    h ++ java.util.Arrays.copyOf(data, 512) ++ new Array[Byte](1024)
  }

  /** One-frame FLAC: 8-bit mono, 16 samples, one VERBATIM subframe. */
  private def flac: Array[Byte] = {
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var n = 0
    def put(width: Int, v: Long): Unit = {
      var i = width - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L); n += 1
        if (n == 8) { bits.write(acc.toInt); acc = 0; n = 0 }
        i -= 1
      }
    }
    put(8, 0x80); put(24, 34)               // last block, STREAMINFO
    put(16, 16); put(16, 16); put(24, 0); put(24, 0)
    put(20, 8000); put(3, 0); put(5, 7); put(36, 16)
    put(64, 0); put(64, 0)                  // MD5 unset
    val head = ascii("fLaC") ++ bits.toByteArray
    bits.reset()
    put(16, 0xfff8); put(4, 6); put(4, 4)   // sync; 8-bit block size; 8 kHz
    put(4, 0); put(3, 1); put(1, 0)         // mono, 8-bit
    put(8, 0); put(8, 15)                   // frame 0; block size - 1
    val fh = bits.toByteArray
    val frame = fh ++ Array(FlacKernels.crc8(fh, 0, fh.length).toByte, 0x02.toByte) ++
      Array.tabulate[Byte](16)(i => (i * 9 - 60).toByte)
    val crc = FlacKernels.crc16(frame, 0, frame.length)
    head ++ frame ++ Array((crc >> 8).toByte, crc.toByte)
  }

  /** Thrift-compact FileMetaData: version 1, one schema element, 3
    * rows, no row groups. */
  private def parquet: Array[Byte] = {
    val footer = unhex("1502" + "191c" + "480161" + "00" + "1606" + "190c" + "00")
    val n = footer.length
    ascii("PAR1") ++ footer ++ Array(n.toByte, 0, 0, 0).map(_.toByte) ++ ascii("PAR1")
  }

  private def avro: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def vz(v: Long): Unit = {
      var u = (v << 1) ^ (v >> 63)
      while ((u & ~0x7fL) != 0) { bos.write(((u & 0x7f) | 0x80).toInt); u >>>= 7 }
      bos.write(u.toInt)
    }
    def bs(x: Array[Byte]): Unit = { vz(x.length); bos.write(x) }
    val sync = Array.tabulate[Byte](16)(i => (i * 3 + 1).toByte)
    bos.write(ascii("Obj\u0001"))
    vz(1); bs(ascii("avro.schema")); bs(ascii("\"bytes\"")); vz(0)
    bos.write(sync)
    for (k <- 1 to 2) { vz(k); vz(3); bos.write(Array[Byte](1, 2, 3)); bos.write(sync) }
    bos.toByteArray
  }

  private val eml = "From: Ada <ada@example.org>\r\nSubject: fuzz\r\n" +
    "MIME-Version: 1.0\r\nContent-Type: multipart/mixed; boundary=XX\r\n\r\n" +
    "--XX\r\nContent-Type: text/plain\r\nContent-Transfer-Encoding: base64\r\n\r\n" +
    "aGVsbG8gd29ybGQ=\r\n--XX\r\nContent-Type: text/html; charset=iso-8859-1\r\n" +
    "Content-Transfer-Encoding: quoted-printable\r\n\r\n<p>caf=E9</p>\r\n--XX--\r\n"

  /** Valid files for the decoders beyond the media set, each built the
    * way its own spec builds one; the test below checks each decodes. */
  private def containerSeeds: Seq[(String, Array[Byte], Array[Byte] => Any)] = {
    val jpeg = validSeeds.find(_._1 == "jpeg").get._2
    Seq(
      ("zstd", unhex(
        "28b52ffd6407022504005285131870cf0360aa5fababfefad5f0ffbffb636549" +
        "2440a8faebbdeeddeea63b093d68514217fdf974efb5e6cef72dd0b4e990fcc1" +
        "584638b65acf53f4540c5f8f3074df16dc184b25715528169aefdb1da810c8d6" +
        "69bf0380151436071018308ef2ff7f3e489ae3c7ff5366e022460b5022633b02" +
        "44f80247c640784668c0c80af15370251a5c"), ZstdKernels.decompress(_)),
      ("brotli-html", brotliRef("html", 11, 22, "text"), BrotliKernels.decompress(_)),
      ("brotli-dict", brotliRef("dict-words", 11, 22, "generic"), BrotliKernels.decompress(_)),
      ("brotli-utf8", brotliRef("utf8", 5, 18, "generic"), BrotliKernels.decompress(_)),
      ("lz4", unhex(
        "04224d186440a7b6000000f116726f7720303a2074686520717569636b206272" +
        "6f776e20666f78206a756d7073206f7665721f00906c617a7920646f673b1d00" +
        "203d300b00303d300a40001f3140002011314000113240001f32400020113440" +
        "00113440001f3340002011394000113140001f34c00021113641001133410" +
        "01f35410020173841011f36400020173241011f37c10021173542011f384100" +
        "21173343011f394100270243012f3130c400270386020f870221803220646f67" +
        "3d320a00000000075f75c2"), Lz4Kernels.decompress(_)),
      ("lzw", LzwKernels.compress(ascii(text)), LzwKernels.decompress(_)),
      ("webp", WebpKernels.encodeLossless(5, 4,
        Array.tabulate(20)(i => 0xff000000 | (i * 0x0b0703))), WebpKernels.decode(_)),
      ("pdf", pdf, PdfKernels.text(_)),
      ("doc", CfbKernels.buildDoc("fuzz legacy word\rsecond", unicode = false),
        CfbKernels.docText(_)),
      ("xls", XlsKernels.build(Seq(Seq(XlsKernels.XSst(0, 0, "shared"),
        XlsKernels.XNum(1, 1, 2.5)))), XlsKernels.cells(_)),
      ("ppt", PptKernels.build(PptKernels.textChars("Title"),
        PptKernels.textBytes("bullet one")), PptKernels.pptText(_)),
      ("zip", zipOf("a.txt" -> ("hello zip member " * 4), "b/c.txt" -> "second"),
        ZipKernels.extract(_, member)),
      ("tar", tar, TarKernels.extract(_, member)),
      ("7z", ArchiveKernels.build7z(Array[Byte](1, 2, 3), Array[Byte](0x01)),
        ArchiveKernels.sevenZipMeta(_)),
      ("rar5", ArchiveKernels.buildRar5(Seq(4, 4)), ArchiveKernels.rarMeta(_)),
      ("rar4", KernelReferences.buildRar4(1), ArchiveKernels.rarMeta(_)),
      ("eml", ascii(eml), EmlKernels.emlParts(_)),
      ("mbox", ascii("From ada@example.org Mon Jan  1 10:00:00 2024\n" + eml),
        EmlKernels.mboxMessages(_)),
      ("rtf", ascii("{\\rtf1\\ansi {\\b bold} plain \\'e9\\par next}"),
        RtfKernels.rtfText(_)),
      ("exif", ExifKernels.app1Splice(jpeg, ExifKernels.buildExif(6, "Acme", "Shooter",
        "2020:01:02 03:04:05", Some((51.5, -0.125)))), ExifKernels.exifMeta(_)),
      ("id3", Id3Kernels.buildV2(3, Seq(("TIT2", "Title", 0), ("TPE1", "Artist", 1))),
        Id3Kernels.id3Tags(_)),
      ("flac", flac, FlacKernels.decode(_)),
      ("ttf", FontKernels.buildSfnt(otf = false, Seq(
        "name" -> FontKernels.buildNameTable("Fuzz"), "maxp" -> FontKernels.buildMaxp(9))),
        FontKernels.fontMeta(_)),
      ("woff", FontKernels.buildWoff(otf = false, Seq(
        ("name", FontKernels.buildNameTable("Webby"), true),
        ("maxp", FontKernels.buildMaxp(9), false))), FontKernels.fontMeta(_)),
      ("parquet", parquet, ParquetKernels.meta(_)),
      ("gzip", deflated(ascii(text), gzip = true) ++ deflated(ascii("tail"), gzip = true),
        WarcKernels.gunzipAll(_)),
      ("avro", avro, AvroKernels.meta(_)),
      ("xlsx", zipOf("xl/worksheets/sheet1.xml" -> ("<worksheet><sheetData>" +
        "<row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c><c r=\"B1\"><v>2.5</v></c></row>" +
        "</sheetData></worksheet>"),
        "xl/sharedStrings.xml" -> "<sst><si><t>name</t></si></sst>"), XlsxKernels.cells(_)),
      ("pptx", zipOf("ppt/slides/slide1.xml" ->
        "<p:sld><p:txBody><a:p><a:t>slide text</a:t></a:p></p:txBody></p:sld>"),
        PptxKernels.pptxText(_)))
  }

  /** Seed corpus: one small VALID file per format (the specs verify
    * these decode; here they are mutation material). */
  private def validSeeds: Seq[(String, Array[Byte])] = {
    def imgBytes(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val img = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 9) img.setRGB(x, y, (x * 31 + y) << 8)
    val gray = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 7; x <- 0 until 9) gray.getRaster.setSample(x, y, 0, x + y)
    val wav = {
      val b = java.nio.ByteBuffer.allocate(44 + 32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + 32).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      b.put("data".getBytes).putInt(32)
      (0 until 16).foreach(i => b.putShort((i * 1000 - 8000).toShort))
      b.array()
    }
    val wavExt = {
      // WAVE_FORMAT_EXTENSIBLE stereo 24-bit PCM (round 12): the GUID
      // wrapper path gets its own mutation material
      val frames = 8
      val dataLen = frames * 2 * 3
      val b = java.nio.ByteBuffer.allocate(68 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(60 + dataLen).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(40)
        .putShort(0xfffe.toShort).putShort(2).putInt(8000).putInt(8000 * 6)
        .putShort(6).putShort(24).putShort(22).putShort(24).putInt(0)
        .putShort(1) // SubFormat: inner tag PCM
      Array(0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
        0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71).foreach(x => b.put(x.toByte))
      b.put("data".getBytes).putInt(dataLen)
      (0 until frames * 2).foreach { i =>
        val v = (i - 8) * 65536
        b.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
          .put(((v >> 16) & 0xff).toByte)
      }
      b.array()
    }
    val mkv = { // minimal valid WebM (EBML) container — r13 triage arm
      def by(xs: Int*) = xs.map(_.toByte).toArray
      val head = by(0x1a, 0x45, 0xdf, 0xa3, 0x87, 0x42, 0x82, 0x84) ++
        "webm".getBytes("US-ASCII")
      val bits = java.lang.Float.floatToIntBits(321.5f)
      val info = by(0x15, 0x49, 0xa9, 0x66, 0x8f,
        0x2a, 0xd7, 0xb1, 0x84, 0x00, 0x0f, 0x42, 0x40,
        0x44, 0x89, 0x84, bits >>> 24, (bits >> 16) & 0xff,
        (bits >> 8) & 0xff, bits & 0xff)
      val tracks = by(0x16, 0x54, 0xae, 0x6b, 0x85,
        0xae, 0x83, 0xd7, 0x81, 0x01)
      head ++ by(0x18, 0x53, 0x80, 0x67,
        0x80 | (info.length + tracks.length)) ++ info ++ tracks
    }
    val ogg = { // minimal valid OGG-Vorbis stream — r13 triage arm
      def le32(v: Int) = (0 to 3).map(s => ((v >> (8 * s)) & 0xff).toByte).toArray
      def le64(v: Long) = (0 to 7).map(s => ((v >> (8 * s)) & 0xff).toByte).toArray
      def page(ht: Int, gr: Long, seq: Int, pay: Array[Byte]) =
        "OggS".getBytes("US-ASCII") ++ Array(0.toByte, ht.toByte) ++
          le64(gr) ++ le32(7) ++ le32(seq) ++ le32(0) ++
          Array(1.toByte, pay.length.toByte) ++ pay
      val id = Array(1.toByte) ++ "vorbis".getBytes("US-ASCII") ++ le32(0) ++
        Array(2.toByte) ++ le32(44100) ++ le32(0) ++ le32(0) ++ le32(0) ++
        Array(0x66.toByte, 1.toByte)
      page(2, 0L, 0, id) ++ page(4, 9600L, 1, Array.fill(40)(0x5a.toByte))
    }
    Seq(
      "png" -> imgBytes(img, "png"),
      "gif" -> imgBytes(img, "gif"),
      "jpeg" -> imgBytes(gray, "jpg"),
      "bmp" -> imgBytes(img, "bmp"),
      "tiff" -> imgBytes(img, "tiff"),
      "wav" -> wav,
      "wavext" -> wavExt,
      "mkv" -> mkv,
      "ogg" -> ogg)
  }

  private def allSeeds: Seq[(String, Array[Byte])] =
    validSeeds ++ containerSeeds.map(s => (s._1, s._2))

  test("every container seed is a valid file for its own decoder") {
    for ((name, seed, decode) <- containerSeeds) {
      val out = decode(seed)
      assert(out != null && out != None, s"$name seed did not decode")
    }
  }

  test("pure noise never throws (random lengths, random bytes)") {
    for (i <- 0 until 600) {
      val len = rnd.nextInt(300)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      decodersDontThrow(b, s"noise#$i")
    }
  }

  test("magic-prefixed noise never throws (headers promise, bodies lie)") {
    val magics = Seq(
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      "GIF89a".getBytes("US-ASCII"),
      Array(0xff, 0xd8).map(_.toByte),
      "BM".getBytes("US-ASCII"),
      "II*\u0000".getBytes("US-ASCII"),
      "MM\u0000*".getBytes("US-ASCII"),
      "RIFF".getBytes("US-ASCII"),
      ".snd".getBytes("US-ASCII"),
      "FORMxxxxAIFF".getBytes("US-ASCII"),
      Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte), // EBML (r13)
      "OggS".getBytes("US-ASCII"),                 // OGG (r13)
      Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte), // zstd
      Array(0x04, 0x22, 0x4d, 0x18).map(_.toByte), // lz4
      Array(0x1f, 0x9d, 0x90).map(_.toByte),       // .Z (LZW)
      "RIFF\u0000\u0000\u0000\u0000WEBPVP8L".getBytes("US-ASCII"),
      "%PDF-1.4\n".getBytes("US-ASCII"),
      Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte), // CFB
      "PK\u0003\u0004".getBytes("US-ASCII"),
      ArchiveKernels.SevenZipMagic,
      ArchiveKernels.Rar5Magic,
      ArchiveKernels.Rar4Magic,
      "From a@b Mon Jan  1 10:00:00 2024\nFrom: ".getBytes("US-ASCII"),
      "From: a@b\r\nContent-Type: multipart/mixed; boundary=X\r\n\r\n--X\r\n"
        .getBytes("US-ASCII"),
      "{\\rtf1 ".getBytes("US-ASCII"),
      Array(0xff, 0xd8, 0xff, 0xe1, 0x00, 0x40, 'E', 'x', 'i', 'f', 0, 0, 'I', 'I', 42, 0)
        .map(_.toByte),
      "ID3\u0003\u0000\u0000".getBytes("US-ASCII"),
      "fLaC\u0000\u0000\u0000\u0022".getBytes("US-ASCII"),
      Array(0, 1, 0, 0).map(_.toByte),             // TrueType
      "OTTO".getBytes("US-ASCII"),
      "wOFF".getBytes("US-ASCII"),
      "ttcf".getBytes("US-ASCII"),
      "PAR1".getBytes("US-ASCII"),
      Array(0x1f, 0x8b, 0x08, 0x00).map(_.toByte), // gzip
      "Obj\u0001".getBytes("US-ASCII"))            // Avro
    for (m <- magics; i <- 0 until 80) {
      val tail = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(tail)
      decodersDontThrow(m ++ tail, s"magic+noise#$i")
    }
  }

  test("every truncation of every valid seed never throws") {
    for ((name, seed) <- allSeeds; cut <- 0 to seed.length)
      decodersDontThrow(seed.take(cut), s"$name-trunc@$cut")
  }

  test("bit-flips inside valid seeds never throw") {
    for ((name, seed) <- allSeeds; i <- 0 until 400) {
      val b = seed.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 0 until flips) {
        val at = rnd.nextInt(b.length)
        b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
      }
      decodersDontThrow(b, s"$name-flip#$i")
    }
  }

  test("cross-format splices never throw") {
    val seeds = allSeeds
    for (i <- 0 until 300) {
      val (_, a) = seeds(rnd.nextInt(seeds.size))
      val (_, c) = seeds(rnd.nextInt(seeds.size))
      val cut = rnd.nextInt(a.length)
      decodersDontThrow(a.take(cut) ++ c.drop(rnd.nextInt(c.length)),
        s"splice#$i")
    }
  }
}

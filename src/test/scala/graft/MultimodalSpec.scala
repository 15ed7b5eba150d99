package graft

import graft.operators.Multimodal
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val media = Seq(
    (1L, "some media payload one"),
    (2L, "some media payload two"),
    (3L, "")
  ).toDF("id", "txt").withColumn("blob", encode(col("txt"), "UTF-8"))

  test("featurize: schema, byte counts, fixed dim, deterministic") {
    val out = Multimodal.featurize(media, "id", "blob", dim = 4,
      decoder = MultimodalSpec.stub)
    assert(out.columns.toSeq == Seq("media_id", "n_bytes", "feature"))
    val rows = out.select("media_id", "n_bytes")
      .as[(Long, Long)].collect().toMap
    assert(rows == Map(1L -> 22L, 2L -> 22L, 3L -> 0L))
    val f1 = out.filter(col("media_id") === 1).select("feature").as[Seq[Float]].collect().head
    val f2 = Multimodal.featurize(media, "id", "blob", dim = 4,
      decoder = MultimodalSpec.stub)
      .filter(col("media_id") === 1).select("feature").as[Seq[Float]].collect().head
    assert(f1.size == 4 && f1 == f2)
    assert(f1.forall(v => v >= -1.0f && v <= 1.0f))
  }

  test("different payloads give different stub features") {
    val out = Multimodal.featurize(media, "id", "blob", dim = 8,
      decoder = MultimodalSpec.stub)
      .select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    assert(out(1L) != out(2L))
  }

  test("imageMeta parses real PNG/GIF/BMP/JPEG headers, rejects junk and truncation") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
      b.array()
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("BM".getBytes).position(14)
      b.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER (DIB size 40)
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(30)
      b.put(Array(0xff, 0xd8).map(_.toByte))                 // SOI
      b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16)    // APP0, 16-byte segment
      b.position(2 + 2 + 16)
      b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(8)     // SOF0
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.array()
    }
    val pngBadChunk = { // valid signature, first chunk is not IHDR
      val c = png(10, 10); c(12) = 'J'; c(13) = 'U'; c(14) = 'N'; c(15) = 'K'; c
    }
    val bmpCoreHeader = { // OS/2 BITMAPCOREHEADER (DIB size 12): dims
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("BM".getBytes).position(14) // live at other offsets — reject
      b.putInt(12).putShort(100).putShort(50)
      b.array()
    }
    val rows = Seq(
      (1L, png(640, 480)), (2L, gif(320, 200)), (3L, bmp(800, 600)),
      (4L, jpeg(1024, 768)), (5L, "not an image at all".getBytes),
      (6L, png(9, 9).take(12)), (7L, null.asInstanceOf[Array[Byte]]),
      (8L, pngBadChunk), (9L, bmpCoreHeader), (10L, gif(0, 200)))
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.imageMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("png", 640, 480)))
    assert(out(2L) == (("gif", 320, 200)))
    assert(out(3L) == (("bmp", 800, 600)))
    assert(out(4L) == (("jpeg", 1024, 768)))
    assert(out(5L) == null) // unknown magic
    assert(out(6L) == null) // truncated before IHDR dims
    assert(out(7L) == null) // null blob
    assert(out(8L) == null) // PNG signature but non-IHDR first chunk
    assert(out(9L) == null) // OS/2 core-header BMP: offsets differ, reject
    assert(out(10L) == null) // GIF with a zero logical-screen dimension
  }

  test("imageMeta triages WEBP: VP8X canvas, VP8L packed, VP8 keyframe dims; " +
      "wrong-variant signatures and interframes refused") {
    def riff(tag: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(20 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(12 + payload.length).put("WEBP".getBytes)
      b.put(tag.getBytes("ISO-8859-1")).putInt(payload.length).put(payload)
      b.array()
    }
    def le24(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte)
    val vp8x = riff("VP8X", Array[Byte](0, 0, 0, 0) ++ le24(799) ++ le24(599))
    val vp8l = { // 1920x1080: w-1=1919=0x77F, h-1=1079=0x437
      val w1 = 1919; val h1 = 1079
      val b0 = (w1 & 0xff).toByte
      val b1 = (((w1 >> 8) & 0x3f) | ((h1 & 0x3) << 6)).toByte
      val b2 = ((h1 >> 2) & 0xff).toByte
      val b3 = ((h1 >> 10) & 0xf).toByte
      riff("VP8L", Array[Byte](0x2f, b0, b1, b2, b3, 0, 0, 0))
    }
    def vp8(keyframe: Boolean, goodStart: Boolean, w: Int, h: Int) =
      riff("VP8 ", Array[Byte](if (keyframe) 0 else 1, 0, 0,
        (if (goodStart) 0x9d else 0x11).toByte, 0x01, 0x2a,
        (w & 0xff).toByte, ((w >> 8) & 0x3f).toByte,
        (h & 0xff).toByte, ((h >> 8) & 0x3f).toByte))
    val rows = Seq(
      (1L, vp8x), (2L, vp8l), (3L, vp8(keyframe = true, goodStart = true, 640, 480)),
      (4L, vp8(keyframe = false, goodStart = true, 640, 480)), // interframe
      (5L, vp8(keyframe = true, goodStart = false, 640, 480)), // bad start code
      (6L, riff("VP8L", Array[Byte](0x30, 1, 2, 3, 4, 0, 0, 0))), // bad VP8L sig
      (7L, riff("ALPH", new Array[Byte](8))), // unknown first chunk
      (8L, vp8x.take(20))) // truncated
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.imageMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("webp", 800, 600)))
    assert(out(2L) == (("webp", 1920, 1080)))
    assert(out(3L) == (("webp", 640, 480)))
    assert(out(4L) == null)
    assert(out(5L) == null)
    assert(out(6L) == null)
    assert(out(7L) == null)
    assert(out(8L) == null)
  }

  test("imageMeta triages SVG (r17): width/height attrs (px ok), " +
    "viewBox fallback, XML prolog/comment/doctype tolerated, " +
    "dimensionless and non-svg XML refused") {
    def b(s: String) = s.getBytes("UTF-8")
    val rows = Seq(
      (1L, b("""<svg width="640" height="480"><rect/></svg>""")),
      (2L, b("<?xml version=\"1.0\"?>\n<!-- c -->\n<!DOCTYPE svg>\n" +
        "<svg xmlns=\"http://www.w3.org/2000/svg\" width=\"120px\" " +
        "height=\"80px\"/>")),
      (3L, b("""<svg viewBox="0 0 300.5 150"><g/></svg>""")),
      (4L, b("""<svg width="100%" height="50%"><g/></svg>""")), // dimensionless
      (5L, b("""<html><svg width="9" height="9"/></html>""")), // not root
      (6L, b("""<svgg width="5" height="5"/>""")), // name boundary
      (7L, Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        b("""<svg width="7" height="8"></svg>""")))
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.imageMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("svg", 640, 480)))
    assert(out(2L) == (("svg", 120, 80)))
    assert(out(3L) == (("svg", 301, 150))) // viewBox rounds to nearest
    assert(out(4L) == null)
    assert(out(5L) == null)
    assert(out(6L) == null)
    assert(out(7L) == (("svg", 7, 8)))
  }

  test("audioMeta parses a real WAV header with a LIST chunk between fmt and data") {
    def wav(channels: Int, rate: Int, bits: Int, dataBytes: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + 24 + 12 + 8 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
        .putInt(rate).putInt(rate * channels * bits / 8)
        .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      b.put("LIST".getBytes).putInt(4).put("INFO".getBytes) // non-adjacent chunks
      b.put("data".getBytes).putInt(dataBytes)
      b.array()
    }
    val adpcm = { // wFormatTag 0x11 (IMA ADPCM): frames aren't bits-derivable
      val c = wav(2, 44100, 4, 1000)
      c(20) = 0x11.toByte; c(21) = 0x00
      c
    }
    val shortFmt = { // fmt chunk declaring only 8 content bytes
      val c = wav(2, 44100, 16, 16)
      c(16) = 8; c
    }
    val truncated = { // declared 1 s of data (176400 B), 3/4 cut off
      val full = wav(2, 44100, 16, 44100 * 4)
      full.take(full.length - 132300)
    }
    val rows = Seq(
      (1L, wav(2, 44100, 16, 44100 * 4)),      // 1 second stereo 16-bit
      (2L, "RIFFjunk".getBytes),               // RIFF but not WAVE
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, adpcm), (5L, shortFmt), (6L, truncated))
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.audioMeta(col("blob")).as("m"))
      .select(col("id"), col("m.channels"), col("m.sample_rate"), col("m.n_frames"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2, 44100, 44100L))) // n_frames / rate = exactly 1 s
    assert(out(2L) == null)
    assert(out(3L) == null)
    assert(out(4L) == null) // compressed payload: a bits-derived count would lie
    assert(out(5L) == null) // fmt chunk too short to carry the PCM fields
    // truncated blob: frame count reflects the bytes actually present
    // (declared size claimed 1 s; only a quarter of the data survived)
    assert(out(6L) == ((2, 44100, 11025L)))
  }

  test("audioMeta triages FLAC from STREAMINFO alone: no frame bytes needed, " +
      "format tag 'flac', declared total passes through") {
    // fLaC + last-block STREAMINFO(34): stereo, 44100 Hz, 16-bit,
    // 192 declared samples — and NOT ONE frame byte, the point of the
    // triage tier (the decode tier refuses this same blob)
    def si(rate: Int, ch: Int, bits: Int, total: Long): Array[Byte] = {
      val b = new scala.collection.mutable.ArrayBuffer[Byte]
      b ++= "fLaC".getBytes
      b ++= Array[Byte](0x80.toByte, 0, 0, 34)
      b ++= Array[Byte](0, 0xC0.toByte, 0, 0xC0.toByte) // min/max blocksize 192
      b ++= Array.fill[Byte](6)(0) // min/max frame size unknown
      b += (rate >> 12).toByte
      b += ((rate >> 4) & 0xff).toByte
      b += (((rate & 0xf) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)).toByte
      b += ((((bits - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte
      b += ((total >> 24) & 0xff).toByte
      b += ((total >> 16) & 0xff).toByte
      b += ((total >> 8) & 0xff).toByte
      b += (total & 0xff).toByte
      b ++= Array.fill[Byte](16)(0) // MD5
      b.toArray
    }
    val rows = Seq(
      (1L, si(44100, 2, 16, 192L)),
      (2L, si(8000, 1, 16, 0L)),          // 0 = declared-unknown, in-spec
      (3L, si(44100, 2, 16, 192L).take(20))) // truncated head: refuse
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.audioMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.channels"),
        col("m.sample_rate"), col("m.bits_per_sample"), col("m.n_frames"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))))
      .toMap
    assert(out(1L) == (("flac", 2, 44100, 16, 192L)))
    assert(out(2L) == (("flac", 1, 8000, 16, 0L)))
    assert(out(3L) == null)
    // decode of the frameless blob refuses (declared 192, zero present):
    // triage and decode answer DIFFERENT questions on the same bytes
    assert(graft.functions.FlacKernels.decode(si(44100, 2, 16, 192L)).isEmpty)
  }

  test("audioMeta triages MP3 by walking the frame chain: CBR, VBR, ID3v2 skip; " +
      "partial tail / false sync / Layer II refused") {
    // one Layer III frame: 4-byte header + zero payload to the exact
    // frame length the header implies
    def frame(ver: Int, kbps: Int, brIdx: Int, sr: Int, srIdx: Int,
              mono: Boolean, padding: Int = 0): Array[Byte] = {
      val len = (if (ver == 3) 144000 else 72000) * kbps / sr + padding
      val out = new Array[Byte](len)
      out(0) = 0xff.toByte
      out(1) = (0xe0 | (ver << 3) | (1 << 1) | 1).toByte // layer III bits=01
      out(2) = ((brIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
      out(3) = (if (mono) 0xc0 else 0x00).toByte
      out
    }
    val cbr = frame(3, 128, 9, 44100, 0, mono = true) ++
      frame(3, 128, 9, 44100, 0, mono = true) ++
      frame(3, 128, 9, 44100, 0, mono = true, padding = 1)
    val vbr = frame(3, 128, 9, 44100, 0, mono = false) ++
      frame(3, 192, 11, 44100, 0, mono = false) // bitrate varies: in-spec
    val id3 = {
      val tagBody = 100
      val h = Array[Byte]('I', 'D', '3', 4, 0, 0,
        0, 0, 0, tagBody.toByte) // syncsafe 100
      h ++ new Array[Byte](tagBody) ++ frame(0, 8, 1, 8000, 2, mono = true)
    }
    val partial = cbr.take(cbr.length - 50)     // truncated tail frame
    val falseSync = frame(3, 128, 9, 44100, 0, mono = true) ++
      Array.fill[Byte](40)(0x55)                // junk after a valid frame
    val layerII = {
      val f = frame(3, 128, 9, 44100, 0, mono = true)
      f(1) = (0xe0 | (3 << 3) | (2 << 1) | 1).toByte; f
    }
    val rateDrift = frame(3, 128, 9, 44100, 0, mono = true) ++
      frame(3, 128, 9, 48000, 1, mono = true)   // rate changes mid-stream
    val rows = Seq((1L, cbr), (2L, vbr), (3L, id3), (4L, partial),
      (5L, falseSync), (6L, layerII), (7L, rateDrift))
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.audioMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.channels"),
        col("m.sample_rate"), col("m.bits_per_sample"), col("m.n_frames"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))))
      .toMap
    assert(out(1L) == (("mp3", 1, 44100, 0, 3 * 1152L)))
    assert(out(2L) == (("mp3", 2, 44100, 0, 2 * 1152L)))
    assert(out(3L) == (("mp3", 1, 8000, 0, 576L))) // MPEG2.5: 576/frame
    assert(out(4L) == null) // partial tail: refuse, don't shorten
    assert(out(5L) == null) // frames must tile to the last byte
    assert(out(6L) == null) // Layer II outside triage scope
    assert(out(7L) == null) // inconsistent rate mid-chain
  }

  test("videoMeta parses a real MP4 box tree: brand, mvhd v0, track count") {
    def box(typ: String, content: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + content.length)
      b.putInt(8 + content.length).put(typ.getBytes("ISO-8859-1")).put(content)
      b.array()
    }
    val ftyp = box("ftyp", {
      val c = java.nio.ByteBuffer.allocate(8)
      c.put("isom".getBytes).putInt(0); c.array()
    })
    val mvhd = box("mvhd", {
      // version 0: ver+flags, creation, modification, timescale, duration
      val c = java.nio.ByteBuffer.allocate(100)
      c.putInt(0).putInt(0).putInt(0).putInt(600).putInt(1200) // 2 seconds
      c.array()
    })
    val moov = box("moov", mvhd ++ box("trak", Array.emptyByteArray)
      ++ box("trak", Array.emptyByteArray))
    val mp4 = ftyp ++ box("free", Array.emptyByteArray) ++ moov
    val rows = Seq((1L, mp4), (2L, "GIF89a definitely not mp4".getBytes),
      (3L, null.asInstanceOf[Array[Byte]]))
    val out = rows.toDF("id", "blob")
      .select(col("id"), Kernels.videoMeta(col("blob")).as("m"))
      .select(col("id"), col("m.format"), col("m.timescale"), col("m.duration"),
        col("m.n_tracks"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(out(1L) == (("isom", 600L, 1200L, 2)))
    assert(out(2L) == null)
    assert(out(3L) == null)
  }

  test("videoTrackStats: per-track mdhd/hdlr/stsz walk, both stsz layouts") {
    def box(typ: String, content: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + content.length)
      b.putInt(8 + content.length).put(typ.getBytes("ISO-8859-1")).put(content)
      b.array()
    }
    def be(ints: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * ints.length)
      ints.foreach(b.putInt); b.array()
    }
    val ftyp = box("ftyp", be(0x69736f6d, 0)) // "isom"
    // video trak: mdhd v0 (ts 90000, dur 180000) + hdlr "vide" + stsz
    // VARIABLE table of 3 samples (100, 200, 50)
    val hdlr = (h: String) =>
      box("hdlr", be(0, 0) ++ h.getBytes("ISO-8859-1") ++ be(0, 0, 0) ++ Array(0.toByte))
    val trakV = box("trak", box("mdia",
      box("mdhd", be(0, 0, 0, 90000, 180000, 0)) ++ hdlr("vide") ++
        box("minf", box("stbl", box("stsz", be(0, 0, 3, 100, 200, 50))))))
    // audio trak: FIXED sample size 4 × 1000 samples
    val trakA = box("trak", box("mdia",
      box("mdhd", be(0, 0, 0, 48000, 96000, 0)) ++ hdlr("soun") ++
        box("minf", box("stbl", box("stsz", be(0, 4, 1000))))))
    // a trak with no mdia at all: row present, all fields NULL
    val trakEmpty = box("trak", box("free", Array.emptyByteArray))
    // stsz table DECLARING 5 samples but truncated after 2 entries:
    // n_samples reads, total_bytes must be NULL, not a partial sum
    val trakTrunc = box("trak", box("mdia",
      box("mdhd", be(0, 0, 0, 90000, 90000, 0)) ++ hdlr("vide") ++
        box("minf", box("stbl", box("stsz", be(0, 0, 5, 100, 200))))))
    val mp4 = ftyp ++ box("moov", trakV ++ trakA ++ trakEmpty ++ trakTrunc)
    val rows = Seq((1L, mp4), (2L, "not a container".getBytes),
      (3L, null.asInstanceOf[Array[Byte]]))
    val out = rows.toDF("id", "blob")
      .select(col("id"),
        posexplode_outer(Kernels.videoTrackStats(col("blob")))
          .as(Seq("ti", "t")))
      .select(col("id"), col("ti"), col("t.handler"), col("t.timescale"),
        col("t.duration"), col("t.n_samples"), col("t.total_bytes"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)) ->
        (1 to 6).map(i => if (r.isNullAt(i)) null else r.get(i)).tail).toMap
    assert(out((1L, 0)) == Seq("vide", 90000L, 180000L, 3L, 350L))
    assert(out((1L, 1)) == Seq("soun", 48000L, 96000L, 1000L, 4000L))
    assert(out((1L, 2)) == Seq(null, null, null, null, null))
    assert(out((1L, 3)) == Seq("vide", 90000L, 90000L, 5L, null))
    assert(out((2L, -1)) == Seq(null, null, null, null, null)) // non-BMFF
    assert(out((3L, -1)) == Seq(null, null, null, null, null)) // null blob
  }

  test("G.711 expansion hits the published anchor values; WAV decode routes by format tag") {
    import graft.functions.AudioKernels
    // µ-law: 0xFF/0x7F are ±silence (0), 0x00/0x80 are the spec's
    // extreme magnitudes ±32124
    assert(AudioKernels.ulawToLinear(0xff) == 0)
    assert(AudioKernels.ulawToLinear(0x7f) == 0)
    assert(AudioKernels.ulawToLinear(0x00) == -32124)
    assert(AudioKernels.ulawToLinear(0x80) == 32124)
    // A-law: 0x55/0xD5 are ∓8 (the smallest magnitudes), 0x2A/0xAA the
    // extremes ±32256
    assert(AudioKernels.alawToLinear(0x55) == -8)
    assert(AudioKernels.alawToLinear(0xd5) == 8)
    assert(AudioKernels.alawToLinear(0x2a) == -32256)
    assert(AudioKernels.alawToLinear(0xaa) == 32256)
    // monotonicity within a positive µ-law segment: decreasing byte
    // value (after complement) must not decrease magnitude
    val mags = (0x80 to 0xff).map(b => AudioKernels.ulawToLinear(b))
    assert(mags.zip(mags.tail).forall { case (a, b) => a >= b },
      "positive µ-law magnitudes must be non-increasing in byte value")

    // WAV routing: format 7 bytes expand via µ-law (NOT read as PCM)
    def wav(fmt: Int, data: Array[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(fmt.toShort).putShort(1)
      bb.putInt(8000).putInt(8000).putShort(1).putShort(8)
      bb.put("data".getBytes).putInt(data.length)
      data.foreach(d => bb.put(d.toByte))
      bb.array()
    }
    val mu = AudioKernels.decode(wav(7, Array(0x00, 0xff))).get
    assert(mu.nFrames == 2 && mu.peak == 32124 / 32768.0 &&
      mu.meanAbs == (32124 / 32768.0) / 2)
    val al = AudioKernels.decode(wav(6, Array(0x2a, 0x55))).get
    assert(al.peak == 32256 / 32768.0 && al.meanAbs == (32256 + 8) / 32768.0 / 2)
    // G.711 requires 8-bit samples — a 16-bit µ-law header is refused
    val bad = wav(7, Array(0, 0))
    bad(34) = 16 // bits-per-sample field
    assert(AudioKernels.decode(bad).isEmpty)
  }

  test("mjpegFrames: multi-chunk stsc/stco demux, codec gate, structural refusals") {
    def box(typ: String, content: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + content.length)
      b.putInt(8 + content.length).put(typ.getBytes("ISO-8859-1")).put(content)
      b.array()
    }
    def be(ints: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * ints.length)
      ints.foreach(b.putInt); b.array()
    }
    val hdlr = box("hdlr",
      be(0, 0) ++ "vide".getBytes("ISO-8859-1") ++ be(0, 0, 0) ++ Array(0.toByte))
    def stsd(fourcc: String) =
      box("stsd", be(0, 1) ++ be(8) ++ fourcc.getBytes("ISO-8859-1"))
    // five planted "frames": distinct recognizable payloads of sizes
    // 3, 4, 2, 5, 1 — chunk 1 holds frames 0-1, chunk 2 holds 2-3,
    // chunk 3 holds frame 4 (two stsc runs: 2-per-chunk then 1)
    val payloads = Seq("AAA", "BBBB", "CC", "DDDDD", "E").map(_.getBytes)
    val ftyp = box("ftyp", be(0x69736f6d, 0))
    val mdatContent = payloads.flatten.toArray
    val mdat = box("mdat", mdatContent)
    val base = ftyp.length + 8 // mdat content offset
    val off1 = base                                   // AAA BBBB
    val off2 = base + 7                               // CC DDDDD
    val off3 = base + 14                              // E
    def stbl(fourcc: String) = box("stbl",
      stsd(fourcc) ++
        box("stsz", be(0, 0, 5, 3, 4, 2, 5, 1)) ++
        box("stsc", be(0, 2, /*run1*/ 1, 2, 1, /*run2*/ 3, 1, 1)) ++
        box("stco", be(0, 3, off1, off2, off3)))
    def mp4(fourcc: String) = ftyp ++ mdat ++
      box("moov", box("trak", box("mdia",
        box("mdhd", be(0, 0, 0, 90000, 450000, 0)) ++ hdlr ++
          box("minf", stbl(fourcc)))))
    val frames = graft.functions.MediaKernels.mjpegFrames(mp4("jpeg"))
    assert(frames != null && frames.numElements() == 5)
    (0 until 5).foreach { i =>
      assert(java.util.Arrays.equals(
        frames.getBinary(i), payloads(i)), s"frame $i")
    }
    // compressed-codec track: honest NULL, not garbage slices
    assert(graft.functions.MediaKernels.mjpegFrames(mp4("avc1")) == null)
    // structural refusals: declared samples the chunks can't hold, and
    // a sample range outside the blob
    def refusalMp4(stszInts: Seq[Int], stscInts: Seq[Int], stcoInts: Seq[Int]) = {
      val tables = stsd("jpeg") ++ box("stsz", be(stszInts: _*)) ++
        box("stsc", be(stscInts: _*)) ++ box("stco", be(stcoInts: _*))
      ftyp ++ mdat ++ box("moov", box("trak", box("mdia",
        box("mdhd", be(0, 0, 0, 90000, 1, 0)) ++ hdlr ++
          box("minf", box("stbl", tables)))))
    }
    // declared samples the chunks can't hold
    val tooMany = refusalMp4(
      Seq(0, 0, 9, 3, 4, 2, 5, 1, 1, 1, 1, 1),
      Seq(0, 1, 1, 2, 1), Seq(0, 3, off1, off2, off3))
    assert(graft.functions.MediaKernels.mjpegFrames(tooMany) == null)
    // sample range outside the blob
    val outOfRange = refusalMp4(
      Seq(0, 0, 1, 100000), Seq(0, 1, 1, 1, 1), Seq(0, 1, off1))
    assert(graft.functions.MediaKernels.mjpegFrames(outOfRange) == null)
    // non-BMFF and null
    assert(graft.functions.MediaKernels.mjpegFrames("junk".getBytes) == null)
    assert(graft.functions.MediaKernels.mjpegFrames(null) == null)
  }

  test("media walkers survive crafted and degenerate headers (no crash, no garbage)") {
    // WAV with a junk chunk whose size is Int.MaxValue-16: an Int cursor
    // would wrap negative and throw ArrayIndexOutOfBounds
    val craftedWav = {
      val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
      b.put("junk".getBytes).putInt(Int.MaxValue - 16)
      b.array()
    }
    // content-less ftyp followed by a valid moov: the brand must NOT be
    // read from the next box's bytes
    val emptyFtyp = {
      val b = java.nio.ByteBuffer.allocate(8 + 8 + 8 + 28)
      b.putInt(8).put("ftyp".getBytes)       // zero-content ftyp
      b.putInt(8 + 8 + 28).put("moov".getBytes)
      b.putInt(8 + 28).put("mvhd".getBytes)
      b.putInt(0).putInt(0).putInt(0).putInt(600).putInt(1200)
      b.array()
    }
    // mvhd v0 with the all-ones "unknown duration" sentinel
    val unknownDur = {
      val b = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 28)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.putInt(8 + 8 + 28).put("moov".getBytes)
      b.putInt(8 + 28).put("mvhd".getBytes)
      b.putInt(0).putInt(0).putInt(0).putInt(600).putInt(0xffffffff)
      b.array()
    }
    val out = Seq((1L, craftedWav), (2L, emptyFtyp), (3L, unknownDur))
      .toDF("id", "blob")
      .select(col("id"),
        Kernels.audioMeta(col("blob")).as("a"),
        Kernels.videoMeta(col("blob")).as("v"))
      .collect().map(r => r.getLong(0) -> ((r.isNullAt(1), r.isNullAt(2)))).toMap
    assert(out(1L) == ((true, true)))  // crafted size: NULL, not a crash
    assert(out(2L) == ((true, true)))  // empty ftyp: no garbage brand
    assert(out(3L) == ((true, true)))  // unknown-duration sentinel: NULL
  }

  // ---- real raster decode (RasterKernels via Multimodal.raster) ----

  import graft.functions.RasterKernels

  /** Hand-assembled 24-bpp BI_RGB BMP; `topDown` stores a negative
    * height; rows are 4-byte padded (w=2 -> 2 pad bytes per row). */
  private def bmp(w: Int, h: Int, px: Seq[(Int, Int, Int)],
                  topDown: Boolean = false): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val size = 54 + rowSize * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(24).putInt(0).putInt(rowSize * h)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    for (r <- 0 until h) {
      for (x <- 0 until w) {
        val (pr, pg, pb) = px(r * w + x)
        b.put(pb.toByte).put(pg.toByte).put(pr.toByte)
      }
      for (_ <- 3 * w until rowSize) b.put(0xEE.toByte) // padding ignored
    }
    b.array()
  }

  test("BMP decode: padded rows, bottom-up and top-down, exact means") {
    val px = Seq((10, 20, 30), (50, 60, 70), (90, 100, 110), (130, 140, 150))
    for (topDown <- Seq(false, true)) {
      val r = RasterKernels.decode(bmp(2, 2, px, topDown)).get
      assert(r.width == 2 && r.height == 2)
      assert(r.meanR == 70.0 && r.meanG == 80.0 && r.meanB == 90.0)
    }
    // padding bytes (0xEE) must not leak into the means: w=3 pads 3/row
    val px3 = Seq.fill(3)((8, 16, 24))
    val r3 = RasterKernels.decode(bmp(3, 1, px3)).get
    assert(r3.meanR == 8.0 && r3.meanG == 16.0 && r3.meanB == 24.0)
  }

  test("PPM decode: comments in header, exact means; maxval != 255 rejected") {
    val hdr = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")
    val pix = Array(10, 20, 30, 50, 60, 70).map(_.toByte)
    val r = RasterKernels.decode(hdr ++ pix).get
    assert(r.width == 2 && r.height == 1)
    assert(r.meanR == 30.0 && r.meanG == 40.0 && r.meanB == 50.0)
    val wide = "P6\n2 1\n65535\n".getBytes("US-ASCII") ++ pix
    assert(RasterKernels.decode(wide).isEmpty)
  }

  test("PGM P5 decode: grayscale means reported on all three channels") {
    val hdr = "P5\n# gray\n4 1\n255\n".getBytes("US-ASCII")
    val pix = Array(10, 20, 30, 40).map(_.toByte)
    val r = RasterKernels.decode(hdr ++ pix).get
    assert(r.width == 4 && r.height == 1)
    assert(r.meanR == 25.0 && r.meanG == 25.0 && r.meanB == 25.0)
    // 1 byte/px, not 3: a P6-sized payload check would wrongly refuse
    assert(RasterKernels.decode(hdr ++ pix.take(3)).isEmpty) // short 1 px
    val wide = "P5\n4 1\n65535\n".getBytes("US-ASCII") ++ pix
    assert(RasterKernels.decode(wide).isEmpty)
  }

  test("truncated/unsupported rasters decode to None, never throw") {
    val good = bmp(2, 2, Seq.fill(4)((1, 2, 3)))
    assert(RasterKernels.decode(good.take(20)).isEmpty)        // header cut
    assert(RasterKernels.decode(good.dropRight(1)).isEmpty)    // pixels cut
    val ppm = "P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(RasterKernels.decode(ppm).isEmpty)                  // 1 of 2 pixels
    val bpp8 = good.clone(); bpp8(28) = 8                      // not 24-bpp
    assert(RasterKernels.decode(bpp8).isEmpty)
    assert(RasterKernels.decode(Array[Byte]()).isEmpty)
    assert(RasterKernels.decode(null).isEmpty)
  }

  test("WAV PCM decode: exact stats, stereo interleave, chunk walk, strict truncation") {
    import graft.functions.AudioKernels
    def wav(bits: Int, channels: Int, rate: Int, samples: Seq[Int],
            extraChunk: Boolean = false): Array[Byte] = {
      val bps = bits / 8
      val dataLen = samples.length * bps
      val extra = if (extraChunk) 12 else 0
      val buf = java.nio.ByteBuffer.allocate(44 + extra + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + extra + dataLen).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
        .putInt(rate).putInt(rate * channels * bps)
        .putShort((channels * bps).toShort).putShort(bits.toShort)
      if (extraChunk) buf.put("LIST".getBytes).putInt(4).put("INFO".getBytes)
      buf.put("data".getBytes).putInt(dataLen)
      samples.foreach { s =>
        if (bits == 16) buf.putShort(s.toShort) else buf.put(s.toByte)
      }
      buf.array()
    }
    // 16-bit mono: [16384, -8192, 8192, -16384] -> |v| in {0.5, 0.25}
    val m = AudioKernels.decode(
      wav(16, 1, 8000, Seq(16384, -8192, 8192, -16384))).get
    assert(m.channels == 1 && m.sampleRate == 8000 && m.bits == 16 &&
      m.nFrames == 4)
    assert(m.meanAbs == 0.375 && m.peak == 0.5 &&
      m.meanSq == (0.25 + 0.0625 + 0.0625 + 0.25) / 4)
    // stereo 8-bit with a LIST chunk between fmt and data: 2 frames of
    // (128+64, 128-64) -> every |v| = 0.5
    val s = AudioKernels.decode(
      wav(8, 2, 44100, Seq(192, 64, 192, 64), extraChunk = true)).get
    assert(s.channels == 2 && s.nFrames == 2 && s.meanAbs == 0.5 &&
      s.peak == 0.5 && s.meanSq == 0.25)
    // strict truncation: audioMeta would report surviving frames, but
    // decode must refuse rather than compute stats over half the data
    val full = wav(16, 1, 8000, Seq(100, 200, 300, 400))
    assert(AudioKernels.decode(full.dropRight(2)).isEmpty)
    // unsupported payloads: IEEE float (tag 3) and a crafted chunk size
    // that would overflow an Int cursor. 24-bit PCM joined the integer
    // family in round 12 (exact stats pinned in AudioContainersSpec) —
    // re-declaring these bytes as 24-bit must now DECODE, reading the
    // 8 data bytes as 2 whole 3-byte frames
    val floatTag = full.clone(); floatTag(20) = 3
    assert(AudioKernels.decode(floatTag).isEmpty)
    val deep = full.clone(); deep(34) = 24
    assert(AudioKernels.decode(deep).exists(p => p.bits == 24 && p.nFrames == 2))
    val hugeChunk = full.clone()
    hugeChunk(40) = -1; hugeChunk(41) = -1; hugeChunk(42) = -1; hugeChunk(43) = -1
    assert(AudioKernels.decode(hugeChunk).isEmpty) // declared 4 GiB data
    assert(AudioKernels.decode(null).isEmpty)
  }

  test("crafted BMP headers with overflowing fields decode to None, never throw") {
    def leInt(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    val good = bmp(1, 1, Seq((1, 2, 3)))
    // 14 + dibSize overflows Int: dataOffset=-64 would pass a 32-bit
    // `dataOffset < 14 + dibSize` check and index b(-64)
    val negOffset = good.clone()
    leInt(negOffset, 10, -64); leInt(negOffset, 14, 0x7FFFFFFF)
    assert(RasterKernels.decode(negOffset).isEmpty)
    // 3 * width overflows Int to a negative rowSize: the bounds check
    // would pass and the pixel loop run off the array
    val hugeWidth = good.clone()
    leInt(hugeWidth, 18, 0x2AAAAAAB)
    assert(RasterKernels.decode(hugeWidth).isEmpty)
    // Int.MinValue survives a 32-bit math.abs as negative: the pixel
    // loop would be skipped and a bogus Some(h = -2147483648) returned
    val minHeight = good.clone()
    leInt(minHeight, 22, Int.MinValue)
    assert(RasterKernels.decode(minHeight).isEmpty)
    // PNM with i32-max dimensions: 3*w*h overflows Long past the bounds
    // check — must refuse, not run the pixel loop off the array
    val hugePnm = "P6 2147483647 2147483647 255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3)
    assert(RasterKernels.decode(hugePnm).isEmpty)
  }

  test("raster decoder in featurize: real features for rasters, empty for the rest") {
    val blobs = Seq(
      (1L, bmp(2, 1, Seq((10, 20, 30), (30, 40, 50)))),
      (2L, "P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](5, 6, 7)),
      (3L, "not an image".getBytes("US-ASCII")))
    val df = blobs.toDF("id", "blob")
    val out = Multimodal.featurize(df, "id", "blob", dim = 5,
        decoder = Multimodal.raster)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(out(1L) == Seq(2f, 1f, 20f, 30f, 40f))
    assert(out(2L) == Seq(1f, 1f, 5f, 6f, 7f))
    assert(out(3L).isEmpty)
    // raster decode where the format allows it, stub pseudo-features
    // for the rest: same rasters, a full-width vector for the text blob
    val rasterOrStub: Multimodal.Decoder = (bs, dim) => bs.map { b =>
      val r = Multimodal.raster(Seq(b), dim).head
      if (r.nonEmpty) r else MultimodalSpec.stub(Seq(b), dim).head
    }
    val mixed = Multimodal.featurize(df, "id", "blob", dim = 5,
        decoder = rasterOrStub)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(mixed(1L) == out(1L) && mixed(2L) == out(2L))
    assert(mixed(3L).length == 5 && mixed(3L) != out(3L))
  }
}

object MultimodalSpec {
  /** Deterministic pseudo-feature batch decoder: stands in for a
    * codec-bound decode + embed (compressed-codec video has no real
    * decoder), so featurize's plumbing is exercisable without codecs. */
  val stub: graft.operators.Multimodal.Decoder = (blobs, dim) => blobs.map(stubOne(_, dim))

  private def stubOne(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // deterministic FNV-ish rolling hash
    var i = 0
    while (i < bytes.length) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
    var d = 0
    while (d < dim) {
      // murmur3 finalizer so low-bit payload differences avalanche
      var x = h ^ (0x9e3779b97f4a7c15L * (d + 1))
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33
      // top 52 bits -> [0, 1) -> [-1, 1)
      out(d) = ((x >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
      d += 1
    }
    out
  }
}

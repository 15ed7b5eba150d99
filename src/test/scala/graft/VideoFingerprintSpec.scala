package graft

import graft.functions.MediaKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** [[MediaKernels.videoDhash64]] — the temporal luma-envelope video
  * fingerprint. Pins: container invariance (the same per-frame luma
  * sequence fingerprints identically from an MJPEG MP4 and an animated
  * GIF — the integer floor-luma contract), near-dup bounds, the
  * fail-closed NULLs, and the banded-pair integration.
  */
class VideoFingerprintSpec extends AnyFunSuite {

  // ---- MJPEG MP4 builder (the q_video_frames construction, bytes) --
  private def be32(v: Int): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** One flat-gray single-MCU JPEG: decoded pixel value = 128 + v. */
  private def grayJpeg(v: Int): Array[Byte] = {
    require(v >= 0 && v <= 127)
    val (head, _, _, _) = Queries.jpegFixture
    unhex(head) ++ Array((((v >> 2) + 224) & 0xff).toByte,
      (((v & 3) * 64 + 43) & 0xff).toByte, 0xff.toByte, 0xd9.toByte)
  }

  private def mjpegMp4(vals: Seq[Int]): Array[Byte] = {
    val frames = vals.map(grayJpeg)
    val fLen = frames.head.length
    require(frames.forall(_.length == fLen))
    val n = vals.size
    val mdat = be32(8 + n * fLen) ++ ascii("mdat") ++ frames.flatten
    val z = be32(0)
    val stsd = be32(24) ++ ascii("stsd") ++ z ++ be32(1) ++ be32(8) ++ ascii("jpeg")
    val stsz = be32(20) ++ ascii("stsz") ++ z ++ be32(fLen) ++ be32(n)
    val stsc = be32(28) ++ ascii("stsc") ++ z ++ be32(1) ++ be32(1) ++ be32(n) ++ be32(1)
    val stco = be32(20) ++ ascii("stco") ++ z ++ be32(1) ++ be32(24)
    val stbl = be32(100) ++ ascii("stbl") ++ stsd ++ stsz ++ stsc ++ stco
    val minf = be32(108) ++ ascii("minf") ++ stbl
    val hdlr = be32(33) ++ ascii("hdlr") ++ z ++ z ++ ascii("vide") ++
      z ++ z ++ z ++ Array(0.toByte)
    val mdhd = be32(32) ++ ascii("mdhd") ++ z ++ z ++ z ++ be32(90000) ++
      be32(12000) ++ z
    val mdia = be32(181) ++ ascii("mdia") ++ mdhd ++ hdlr ++ minf
    val trak = be32(189) ++ ascii("trak") ++ mdia
    val mvhd = be32(108) ++ ascii("mvhd") ++ z ++ z ++ z ++ be32(600) ++
      be32(2400) ++ Array.fill(80)(0.toByte)
    val moov = be32(305) ++ ascii("moov") ++ mvhd ++ trak
    be32(16) ++ ascii("ftyp") ++ ascii("isom") ++ z ++ mdat ++ moov
  }

  // ---- animated GIF builder (GifSpec conventions) ------------------
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
  private def flatPalette(l: Int): Array[Byte] = {
    val p = new Array[Byte](128 * 3)
    p(0) = l.toByte; p(1) = l.toByte; p(2) = l.toByte
    p
  }
  private def lzwLiteral(idx: Seq[Int]): Array[Byte] = {
    val codes = ArrayBuffer[Int](0x80)
    idx.grouped(100).foreach { g => codes ++= g; codes += 0x80 }
    codes(codes.size - 1) = 0x81
    val out = ArrayBuffer[Byte](7.toByte)
    codes.map(_.toByte).grouped(255).foreach { blk =>
      out += blk.size.toByte; out ++= blk
    }
    out += 0
    out.toArray
  }

  /** Animated GIF whose frame f is a flat 2x2 of gray `lumas(f)`. */
  private def animatedGif(lumas: Seq[Int]): Array[Byte] = {
    val frames = lumas.flatMap { l =>
      Array(0x2c.toByte) ++ le16(0) ++ le16(0) ++ le16(2) ++ le16(2) ++
        Array((0x80 | 0x06).toByte) ++ flatPalette(l) ++
        lzwLiteral(Seq(0, 0, 0, 0))
    }
    "GIF89a".getBytes("US-ASCII") ++ le16(2) ++ le16(2) ++
      Array(0.toByte, 0.toByte, 0.toByte) ++ frames ++ Array(0x3b.toByte)
  }

  private val pattern: Seq[Int] = (0 until 68).map { f =>
    val v = (f * 197 + 31) % 65521
    (v * v) % 65521 % 32 + 32
  }

  test("the same luma sequence fingerprints identically from MJPEG " +
    "MP4 and animated GIF (container invariance)") {
    val hMp4 = MediaKernels.videoDhash64(mjpegMp4(pattern))
    // GIF frames carry the DECODED lumas (128 + v), same envelope
    val hGif = MediaKernels.videoDhash64(animatedGif(pattern.map(_ + 128)))
    assert(hMp4 != null && hGif != null)
    assert(hMp4 == hGif, s"mp4=$hMp4 gif=$hGif")
  }

  test("near-dup: two perturbed frames move at most 4 envelope bits; " +
    "a different video moves many") {
    val h0 = MediaKernels.videoDhash64(mjpegMp4(pattern)).longValue
    val twin = pattern.updated(0, (pattern(0) + 8) % 32 + 32)
      .updated(40, (pattern(40) + 8) % 32 + 32)
    val h1 = MediaKernels.videoDhash64(mjpegMp4(twin)).longValue
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 4)
    val other = pattern.map(v => (v * 7 + 11) % 32 + 32)
    val h2 = MediaKernels.videoDhash64(mjpegMp4(other)).longValue
    assert(java.lang.Long.bitCount(h0 ^ h2) > 6)
  }

  test("short videos produce a well-defined blocky envelope; " +
    "single-frame and junk are NULL") {
    assert(MediaKernels.videoDhash64(mjpegMp4(Seq(40, 50, 60, 35))) != null)
    assert(MediaKernels.videoDhash64(mjpegMp4(Seq(40))) == null)
    assert(MediaKernels.videoDhash64("garbage".getBytes) == null)
    assert(MediaKernels.videoDhash64(null) == null)
    assert(MediaKernels.videoDhash64(Array.emptyByteArray) == null)
    // truncated container: the frame walk refuses blob-wide
    val full = mjpegMp4(pattern)
    assert(MediaKernels.videoDhash64(full.take(200)) == null)
  }

  test("videoNearDupPairs pairs the planted twin through the banded core") {
    val spark = SparkSpec.session
    import spark.implicits._
    val twin = pattern.updated(3, (pattern(3) + 8) % 32 + 32)
    val rows = Seq(
      (1L, mjpegMp4(pattern)),
      (2L, mjpegMp4(twin)),
      (3L, "junk".getBytes))
    val pairs = graft.operators.Dedup
      .sketchPairs(rows.toDF("doc_id", "video"),
        Kernels.videoDhash64(col("video")), "doc_id",
        maxHamming = 6, bands = 8, keyBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}

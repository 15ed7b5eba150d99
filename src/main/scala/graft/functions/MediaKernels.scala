package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Container-header parsing for binary media columns — REAL (not
  * stubbed) metadata extraction that needs no codec: image dimensions
  * live in fixed header fields (PNG IHDR, GIF logical screen
  * descriptor, BMP info header) or in the first SOF marker (JPEG), all
  * readable in a few dozen bytes. This is the triage pass a multimodal
  * pipeline runs over every blob BEFORE spending decode budget:
  * filter by dimensions/format, route by type, drop truncated files.
  * Pixel decoding stays behind [[graft.operators.Multimodal.Decoder]].
  */
object MediaKernels {

  import Decode.{beI32, beI64, beU16, leI32, leI64, leU16}

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))

  /** (format, channels, sample_rate, bits_per_sample, n_frames) from a
    * WAV/RIFF header, or NULL for non-WAV / truncated blobs. Walks the
    * chunk list for `fmt ` and `data` (they need not be adjacent —
    * LIST/INFO chunks commonly sit between), so duration is derivable
    * as n_frames / sample_rate without decoding anything.
    */
  // Layer III bitrates (kbps) by version group; index 0 = free-format
  // (frame length not derivable from the header -> refuse), 15 = bad
  private val Mp3BitratesV1 = Array(
    -1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
  private val Mp3BitratesV2 = Array(
    -1, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, -1)
  private val Mp3Rates = Array( // [version 2.5, reserved, 2, 1][rateIdx]
    Array(11025, 12000, 8000, -1), Array(-1, -1, -1, -1),
    Array(22050, 24000, 16000, -1), Array(44100, 48000, 32000, -1))

  /** MPEG Layer III frame-header walk from `start`: every frame header
    * must be valid with a consistent (version, rate, mode) — bitrate
    * and padding MAY vary per frame (VBR is in-spec) — and the frames
    * must tile the payload exactly to the last byte: a blob whose tail
    * is not a whole valid frame (truncated crawl, concatenated junk,
    * false sync) is refused outright rather than triaged with a
    * shortened duration it cannot vouch for. A standard ID3v1 trailer
    * (the 128-byte "TAG" block at EOF — near-universal in crawled
    * audio) and the 227-byte "TAG+" extended block preceding it are
    * trimmed BEFORE the tiling demand (r14, ADVICE r13): they are tag
    * metadata, not frame data, and refusing every ID3v1-tagged file
    * defeated the triage goal. */
  private def mp3Meta(b: Array[Byte], start: Int): InternalRow = {
    var end = b.length
    if (end - start >= 128 + 4 &&
        b(end - 128) == 'T' && b(end - 127) == 'A' && b(end - 126) == 'G') {
      end -= 128
      if (end - start >= 227 + 4 && b(end - 227) == 'T' &&
          b(end - 226) == 'A' && b(end - 225) == 'G' && b(end - 224) == '+')
        end -= 227
    }
    var p = start
    var version = -1; var rate = -1; var channels = -1
    var frames = 0L
    while (p + 4 <= end) {
      if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xe0) != 0xe0) return null
      val ver = (b(p + 1) >> 3) & 0x3   // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      val layer = (b(p + 1) >> 1) & 0x3 // 1 = Layer III
      if (ver == 1 || layer != 1) return null
      val brIdx = (b(p + 2) >> 4) & 0xf
      val srIdx = (b(p + 2) >> 2) & 0x3
      val padding = (b(p + 2) >> 1) & 0x1
      val mode = (b(p + 3) >> 6) & 0x3 // 3 = mono
      val kbps = (if (ver == 3) Mp3BitratesV1 else Mp3BitratesV2)(brIdx)
      val sr = Mp3Rates(ver)(srIdx)
      if (kbps <= 0 || sr <= 0) return null
      val ch = if (mode == 3) 1 else 2
      if (frames == 0L) { version = ver; rate = sr; channels = ch }
      else if (ver != version || sr != rate || ch != channels) return null
      val frameLen = (if (ver == 3) 144000 else 72000) * kbps / sr + padding
      if (frameLen <= 4) return null
      if (p + frameLen > end) return null // partial tail frame
      p += frameLen
      frames += 1L
    }
    if (frames == 0L || p != end) return null
    val spf = if (version == 3) 1152L else 576L
    new GenericInternalRow(Array[Any](
      UTF8String.fromString("mp3"), channels, rate, 0, frames * spf))
  }

  def audioMeta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 36) return null
    // FLAC triage (r13): STREAMINFO is a pure header read — channels/
    // rate/bits/declared total samples with the decoder's own
    // validation (shared walk), no frame touched. n_frames here is the
    // header's DECLARATION (0 = unknown is in-spec for streamed
    // encodes); the decode tier (AudioKernels.decodePcm -> FlacKernels)
    // is what verifies the payload, mirroring the WAV split between
    // this triage row and the CRC-checked decode.
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      return FlacKernels.streamInfo(b).map { case (ch, rate, bits, total) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString("flac"), ch, rate, bits, total))
      }.orNull
    // MP3 triage (r13): MPEG Layer III frame-header walk — the most
    // common audio container in crawled corpora carries no global
    // header at all, so triage IS the frame chain: skip an optional
    // ID3v2 tag, then demand that VALID Layer III headers with a
    // consistent (version, rate, mode) tile the payload end to end
    // (a trailing partial frame is a truncated crawl blob -> NULL,
    // never a duration the walk cannot vouch for). bits_per_sample = 0:
    // MP3 has no PCM bit depth — 0 is the declared "not a PCM notion"
    // sentinel, mirroring FLAC's declared-unknown total.
    val mp3Start =
      if (b(0) == 'I' && b(1) == 'D' && b(2) == '3' && b.length >= 10) {
        // ID3v2: 4-byte syncsafe size after a 6-byte header prefix
        if ((((b(6) | b(7) | b(8) | b(9)) & 0x80)) != 0) -1
        else 10 + ((b(6) & 0x7f) << 21) + ((b(7) & 0x7f) << 14) +
          ((b(8) & 0x7f) << 7) + (b(9) & 0x7f)
      } else 0
    if (mp3Start >= 0 && mp3Start + 4 <= b.length &&
        (b(mp3Start) & 0xff) == 0xff && (b(mp3Start + 1) & 0xe0) == 0xe0)
      return mp3Meta(b, mp3Start)
    // OGG triage (r13): Vorbis/Opus identification headers, page walk
    if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S')
      return oggMeta(b)
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return null
    var formatTag = -1
    var channels = -1
    var rate = -1
    var bits = -1
    var blockAlign = -1
    var dataLen = -1L
    // cursor arithmetic in Long: RIFF sizes are unsigned 32-bit (2-4 GiB
    // data chunks are in-spec), and an Int advance would overflow on a
    // crafted size and crash or cycle the walk. size >= 0 always, so
    // the cursor strictly advances by >= 8 — no hang is possible.
    var i = 12L
    while (i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val j = i.toInt // safe: i + 8 <= b.length <= Int.MaxValue
      val isFmt = b(j) == 'f' && b(j + 1) == 'm' && b(j + 2) == 't' && b(j + 3) == ' '
      val isData = b(j) == 'd' && b(j + 1) == 'a' && b(j + 2) == 't' && b(j + 3) == 'a'
      val size = leI32(b, j + 4).toLong & 0xffffffffL
      if (isFmt) {
        // trust the field offsets only if the chunk DECLARES the 16
        // PCM-header bytes (a shorter declared size would read the next
        // chunk's bytes as rate/bits) and the buffer holds them
        if (size < 16 || j + 8 + 16 > b.length) return null
        formatTag = leU16(b, j + 8)
        channels = leU16(b, j + 10)
        rate = leI32(b, j + 12)
        blockAlign = leU16(b, j + 20)
        bits = leU16(b, j + 22)
      } else if (isData) {
        // clamp to the bytes actually present past the data header: a
        // truncated blob must report its REAL frame count, not the
        // pre-truncation duration its stale declared size implies
        dataLen = math.min(size, (b.length - (j + 8)).toLong)
      }
      i += 8L + size + (size & 1L) // chunks are word-aligned
    }
    // PCM family only (1 = PCM, 3 = IEEE float, 0xFFFE = extensible):
    // compressed payloads (ADPCM, GSM, MP3-in-WAV) pack multiple samples
    // per byte, so a bits-derived frame count would be silently wrong
    if (formatTag != 1 && formatTag != 3 && formatTag != 0xfffe) return null
    if (channels <= 0 || rate <= 0 || bits <= 0 || dataLen < 0) return null
    // nBlockAlign is the authoritative bytes-per-frame the header itself
    // declares; fall back to channels * bytes-per-sample if it's zeroed
    val bytesPerFrame =
      if (blockAlign > 0) blockAlign.toLong
      else channels.toLong * (bits / 8).max(1)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString("wav"), channels, rate, bits, dataLen / bytesPerFrame))
  }

  // ---- Matroska / WebM (EBML) triage -------------------------------

  /** Leading-zeros length of an EBML vint whose first byte is `first`
    * (1..8); -1 for the invalid all-zero byte. */
  private def ebmlVintLen(first: Int): Int = {
    if (first == 0) return -1
    var mask = 0x80; var n = 1
    while ((first & mask) == 0) { mask >>= 1; n += 1 }
    n
  }

  /** Element header at `i` within `[i, end)`: Array(id, size, bodyStart),
    * id with its marker bits (the conventional spelling, 0x1A45DFA3…),
    * size -1 for the reserved all-ones "unknown size". Null on any
    * bounds or syntax violation. */
  private def ebmlHeader(b: Array[Byte], i: Int, end: Int): Array[Long] = {
    if (i < 0 || i >= end) return null
    val idLen = ebmlVintLen(b(i) & 0xff)
    if (idLen < 1 || idLen > 4 || i + idLen > end) return null
    var id = 0L
    var k = 0
    while (k < idLen) { id = (id << 8) | (b(i + k) & 0xff); k += 1 }
    val j = i + idLen
    if (j >= end) return null
    val szLen = ebmlVintLen(b(j) & 0xff)
    if (szLen < 1 || szLen > 8 || j + szLen > end) return null
    var size = (b(j) & 0xff & (0xff >>> szLen)).toLong
    var allOnes = size == (0xffL >>> szLen)
    k = 1
    while (k < szLen) {
      val v = (b(j + k) & 0xff).toLong
      if (v != 0xffL) allOnes = false
      size = (size << 8) | v
      k += 1
    }
    Array(id, if (allOnes) -1L else size, (j + szLen).toLong)
  }

  private def ebmlUint(b: Array[Byte], from: Int, len: Int): Long = {
    if (len < 1 || len > 8) return -1L
    var v = 0L
    var k = 0
    while (k < len) { v = (v << 8) | (b(from + k) & 0xff); k += 1 }
    v
  }

  /** (format = DocType, timescale = ticks/second, duration in ticks,
    * n_tracks) from a Matroska/WebM container, or NULL — the EBML arm
    * of [[videoMeta]]'s triage. Reads the EBML header (DocType,
    * default "matroska" per spec), then the Segment's Info
    * (TimestampScale, default 1,000,000 ns/tick → timescale 1000;
    * Duration, a float element, floored to ticks) and Tracks
    * (TrackEntry count). An unknown-size Segment (live/streamed
    * muxing) extends to end-of-blob; an unknown-size CHILD (a
    * streaming Cluster) ends the walk — Info and Tracks precede
    * clusters in any seekable file. Fail-closed: any bounds/syntax
    * violation, a missing Info, or a missing/non-finite Duration is
    * NULL, mirroring the BMFF arm's timescale/duration demand.
    * IDs per the public Matroska/EBML registry (RFC 8794).
    */
  private def mkvMeta(b: Array[Byte]): InternalRow = {
    val n = b.length
    val h = ebmlHeader(b, 0, n)
    if (h == null || h(0) != 0x1a45dfa3L || h(1) < 0) return null
    val hEnd = h(2) + h(1)
    if (hEnd > n) return null
    var docType = "matroska"
    var i = h(2)
    while (i < hEnd) {
      val e = ebmlHeader(b, i.toInt, hEnd.toInt)
      if (e == null || e(1) < 0) return null
      val bodyEnd = e(2) + e(1)
      if (bodyEnd > hEnd) return null
      if (e(0) == 0x4282L)
        docType = new String(b, e(2).toInt, e(1).toInt,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim.toLowerCase
      i = bodyEnd
    }
    if (docType.isEmpty) return null
    val sg = ebmlHeader(b, hEnd.toInt, n)
    if (sg == null || sg(0) != 0x18538067L) return null
    val segEnd = if (sg(1) < 0) n.toLong else sg(2) + sg(1)
    if (segEnd > n) return null

    var tsScale = 1000000L // ns per tick, Matroska default
    var durTicks = -1L
    var sawInfo = false
    var tracks = 0
    var c = sg(2)
    var walking = true
    while (walking && c < segEnd) {
      val e = ebmlHeader(b, c.toInt, segEnd.toInt)
      if (e == null) return null
      else if (e(1) < 0) walking = false // streaming Cluster: stop, keep what precedes
      else {
        val bodyEnd = e(2) + e(1)
        if (bodyEnd > segEnd) return null
        if (e(0) == 0x1549a966L) { // Info
          sawInfo = true
          var j = e(2)
          while (j < bodyEnd) {
            val f = ebmlHeader(b, j.toInt, bodyEnd.toInt)
            if (f == null || f(1) < 0) return null
            val fEnd = f(2) + f(1)
            if (fEnd > bodyEnd) return null
            if (f(0) == 0x2ad7b1L) {
              tsScale = ebmlUint(b, f(2).toInt, f(1).toInt)
              if (tsScale <= 0) return null
            } else if (f(0) == 0x4489L) {
              val d =
                if (f(1) == 4L) java.lang.Float.intBitsToFloat(beI32(b, f(2).toInt)).toDouble
                else if (f(1) == 8L) java.lang.Double.longBitsToDouble(beI64(b, f(2).toInt))
                else return null
              if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d) || d < 0)
                return null
              durTicks = math.floor(d).toLong
            }
            j = fEnd
          }
        } else if (e(0) == 0x1654ae6bL) { // Tracks
          var j = e(2)
          while (j < bodyEnd) {
            val f = ebmlHeader(b, j.toInt, bodyEnd.toInt)
            if (f == null || f(1) < 0) return null
            val fEnd = f(2) + f(1)
            if (fEnd > bodyEnd) return null
            if (f(0) == 0xaeL) tracks += 1
            j = fEnd
          }
        }
        c = bodyEnd
      }
    }
    if (!sawInfo || durTicks < 0) return null
    val ticksPerSec = 1000000000L / tsScale
    // a declared scale above 1 s/tick would floor to 0 ticks/sec —
    // nonsense downstream arithmetic; refuse like the BMFF arm does
    if (ticksPerSec <= 0) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(docType), ticksPerSec, durTicks, tracks))
  }

  // ---- OGG (Vorbis / Opus) triage ----------------------------------

  /** (format, channels, sample_rate, 0, n_frames = last granule
    * position) from an OGG stream, or NULL — the OGG arm of
    * [[audioMeta]]'s triage. Pages must tile the blob end to end with
    * one logical stream (a shared serial) — a trailing partial page is
    * a truncated crawl blob → NULL, the MP3 walk's contract. The codec
    * is identified from the first packet: a Vorbis identification
    * header (version 0; channels/rate at their fixed offsets) or an
    * OpusHead (major version 0; granule units are 48 kHz BY SPEC, so
    * sample_rate reports 48000 — the declared input rate is a remux
    * hint, not the clock the granule counts in). bits_per_sample = 0:
    * lossy codecs have no PCM depth (the MP3 sentinel). The granule of
    * the last page that completes a packet (granule ≠ -1) is the
    * stream's declared total samples; page CRCs are not verified —
    * triage routes, the decode tier vouches.
    */
  private def oggMeta(b: Array[Byte]): InternalRow = {
    var i = 0
    var serial = 0
    var first = true
    var lastGranule = 0L
    var fmt: String = null
    var channels = -1
    var rate = -1
    while (i < b.length) {
      if (i + 27 > b.length) return null
      if (!(b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S'))
        return null
      if (b(i + 4) != 0) return null // stream structure version
      val granule = leI64(b, i + 6)
      val ser = leI32(b, i + 14)
      if (first) serial = ser
      else if (ser != serial) return null // multiplexed: not a triage row
      val nSegs = b(i + 26) & 0xff
      if (i + 27 + nSegs > b.length) return null
      var payload = 0
      var k = 0
      while (k < nSegs) { payload += b(i + 27 + k) & 0xff; k += 1 }
      val body = i + 27 + nSegs
      if (body + payload > b.length) return null // truncated page
      if (first) {
        if (payload >= 30 && b(body) == 1 && b(body + 1) == 'v' &&
          b(body + 2) == 'o' && b(body + 3) == 'r' && b(body + 4) == 'b' &&
          b(body + 5) == 'i' && b(body + 6) == 's') {
          if (leI32(b, body + 7) != 0) return null // vorbis_version
          fmt = "vorbis"
          channels = b(body + 11) & 0xff
          rate = leI32(b, body + 12)
        } else if (payload >= 19 && b(body) == 'O' && b(body + 1) == 'p' &&
          b(body + 2) == 'u' && b(body + 3) == 's' && b(body + 4) == 'H' &&
          b(body + 5) == 'e' && b(body + 6) == 'a' && b(body + 7) == 'd') {
          if (((b(body + 8) & 0xff) >> 4) != 0) return null // incompatible major
          fmt = "opus"
          channels = b(body + 9) & 0xff
          rate = 48000
        } else return null
        first = false
      }
      if (granule >= 0) lastGranule = granule
      i = body + payload
    }
    if (fmt == null || channels <= 0 || rate <= 0) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(fmt), channels, rate, 0, lastGranule))
  }

  /** (format = major brand, timescale, duration, n_tracks) from an
    * ISO-BMFF (MP4/MOV) container, or NULL for non-BMFF / truncated /
    * corrupt blobs. Walks the top-level box list for `ftyp` and `moov`,
    * then `moov`'s children for `mvhd` (version 0 and 1 layouts) and
    * `trak` count — seconds = duration / timescale, no codec touched.
    * Cursor strictly advances (64-bit and to-end box sizes handled), so
    * a crafted size can't hang the executor.
    */
  /** Visit every ISO-BMFF box in `[from, to)`:
    * onEach(type, contentStart, contentEnd). Cursor strictly advances
    * (64-bit and to-end box sizes handled), so a crafted size can't
    * hang the executor. Shared by [[videoMeta]] and
    * [[videoTrackStats]]. */
  private def walkBoxes(b: Array[Byte], from: Int, to: Int)
                       (onEach: (String, Int, Int) => Unit): Unit = {
    var i = from
    while (i + 8 <= to) {
      val size32 = beI32(b, i).toLong & 0xffffffffL
      val typ = new String(b, i + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      var hdr = 8L
      var size = size32
      if (size32 == 1) {
        if (i + 16 > to) return
        size = beI64(b, i + 8); hdr = 16
      } else if (size32 == 0) size = (to - i).toLong
      if (size < hdr || i + size > Int.MaxValue) return // corrupt: stop walking
      onEach(typ, i + hdr.toInt, math.min(to.toLong, i + size).toInt)
      i = (i + size).toInt
    }
  }

  def videoMeta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // Matroska/WebM triage (r13): the other big crawl video container
    if (b(0) == 0x1a.toByte && b(1) == 0x45.toByte &&
        b(2) == 0xdf.toByte && b(3) == 0xa3.toByte)
      return mkvMeta(b)
    def walk(from: Int, to: Int)(onEach: (String, Int, Int) => Unit): Unit =
      walkBoxes(b, from, to)(onEach)
    var brand: String = null
    var moovStart = -1
    var moovEnd = -1
    walk(0, b.length) { (typ, start, end) =>
      if (typ == "ftyp" && start + 4 <= end && brand == null)
        brand = new String(b, start, 4, java.nio.charset.StandardCharsets.ISO_8859_1).trim
      if (typ == "moov" && moovStart < 0) { moovStart = start; moovEnd = end }
    }
    if (brand == null || moovStart < 0) return null

    var timescale = -1L
    var duration = -1L
    var tracks = 0
    walk(moovStart, moovEnd) { (typ, start, end) =>
      if (typ == "mvhd" && timescale < 0) {
        val version = if (start < b.length) b(start) & 0xff else -1
        if (version == 0 && start + 20 <= end) {
          timescale = beI32(b, start + 12).toLong & 0xffffffffL
          duration = beI32(b, start + 16).toLong & 0xffffffffL
          // all-ones is ISO-BMFF's "unknown duration" sentinel
          // (fragmented files) — report NULL like the v1 layout does
          if (duration == 0xffffffffL) duration = -1L
        } else if (version == 1 && start + 32 <= end) {
          timescale = beI32(b, start + 20).toLong & 0xffffffffL
          duration = beI64(b, start + 24)
        }
      }
      if (typ == "trak") tracks += 1
    }
    if (timescale <= 0 || duration < 0) return null
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(brand), timescale, duration, tracks))
  }

  /** Per-track ISO-BMFF container stats — the keyframe-free video
    * features: one row per `trak` box with (handler, media timescale,
    * media duration, sample count, total sample bytes), so per-track
    * duration-seconds and average bitrate are one arithmetic step away
    * WITHOUT touching a codec. NULL for non-BMFF blobs (no ftyp/moov);
    * a track missing its `mdhd`/`hdlr`/`stsz` reports NULL for those
    * fields — the row stays, so the absence is visible rather than the
    * track silently vanishing.
    *
    * `stsz` covers both layouts: fixed sample_size (bytes =
    * size × count, overflow-guarded) and the per-sample table (summed
    * with the box bound enforced; a table truncated short of its
    * declared count yields NULL bytes, not a partial sum that reads as
    * a smaller file).
    */
  def videoTrackStats(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (b == null || b.length < 16) return null
    var brand = false
    var moovS = -1
    var moovE = -1
    walkBoxes(b, 0, b.length) { (t, s, e) =>
      if (t == "ftyp" && s + 4 <= e) brand = true
      if (t == "moov" && moovS < 0) { moovS = s; moovE = e }
    }
    if (!brand || moovS < 0) return null
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    walkBoxes(b, moovS, moovE) { (t, s, e) =>
      if (t == "trak") {
        var handler: UTF8String = null
        var ts = -1L
        var dur = -1L
        var nSamples = -1L
        var totBytes = -1L
        walkBoxes(b, s, e) { (t2, s2, e2) =>
          if (t2 == "mdia") walkBoxes(b, s2, e2) { (t3, s3, e3) =>
            if (t3 == "mdhd" && ts < 0) {
              val version = if (s3 < b.length) b(s3) & 0xff else -1
              if (version == 0 && s3 + 20 <= e3) {
                ts = beI32(b, s3 + 12).toLong & 0xffffffffL
                dur = beI32(b, s3 + 16).toLong & 0xffffffffL
                if (dur == 0xffffffffL) dur = -1L // unknown-duration sentinel
              } else if (version == 1 && s3 + 32 <= e3) {
                ts = beI32(b, s3 + 20).toLong & 0xffffffffL
                dur = beI64(b, s3 + 24)
              }
            }
            if (t3 == "hdlr" && handler == null && s3 + 12 <= e3)
              handler = UTF8String.fromString(
                new String(b, s3 + 8, 4, java.nio.charset.StandardCharsets.ISO_8859_1).trim)
            if (t3 == "minf") walkBoxes(b, s3, e3) { (t4, s4, e4) =>
              if (t4 == "stbl") walkBoxes(b, s4, e4) { (t5, s5, e5) =>
                if (t5 == "stsz" && nSamples < 0 && s5 + 12 <= e5) {
                  val fixed = beI32(b, s5 + 4).toLong & 0xffffffffL
                  val cnt = beI32(b, s5 + 8).toLong & 0xffffffffL
                  nSamples = cnt
                  if (fixed != 0) {
                    if (cnt == 0 || fixed <= Long.MaxValue / cnt)
                      totBytes = fixed * cnt
                  } else {
                    var sum = 0L
                    var i = 0
                    while (i < cnt && s5 + 12 + 4 * i + 4 <= e5) {
                      sum += beI32(b, s5 + 12 + 4 * i).toLong & 0xffffffffL
                      i += 1
                    }
                    if (i == cnt) totBytes = sum // else: truncated table
                  }
                }
              }
            }
          }
        }
        rows += new GenericInternalRow(Array[Any](handler,
          if (ts > 0) ts else null, if (dur >= 0) dur else null,
          if (nSamples >= 0) nSamples else null,
          if (totBytes >= 0) totBytes else null))
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** Video FRAME extraction for MJPEG tracks — sample bytes sliced out
    * of the container so each frame is an independent baseline JPEG
    * that [[JpegKernels]] decodes: the ISO-BMFF sample machinery
    * (`stsd` codec gate, `stsz` sizes, `stsc` sample-to-chunk runs,
    * `stco`/`co64` chunk offsets) with NO codec work of its own.
    *
    * Scope: tracks whose first `stsd` entry is `jpeg`/`mjpa`
    * (QuickTime-style motion JPEG — every sample self-contained);
    * compressed-codec tracks (avc1, hvc1, …) return NULL, the same
    * honest refusal the JPEG decoder gives progressive scans. Any
    * structural inconsistency — missing table, sample range outside
    * the blob, `stsc` not starting at chunk 1, declared samples the
    * chunks cannot hold — returns NULL for the whole blob rather than
    * a partial frame list that would read as a shorter video.
    * Declared-count caps (4096 samples/chunks/runs) bound the work a
    * crafted header can demand; the copied bytes are bounded by the
    * blob itself.
    */
  /** Integer floor-luma mean accumulator (the dHash luma convention:
    * (299r+587g+114b)/1000 per pixel, floored) for per-frame video
    * fingerprints. */
  private final class LumaSink extends RasterKernels.PixelSink {
    var sum = 0L
    var n = 0L
    def begin(w: Int, h: Int): Boolean = true
    def add(x: Int, y: Int, r: Int, g: Int, b: Int): Unit = {
      sum += (299 * r + 587 * g + 114 * b) / 1000
      n += 1
    }
    def luma: Long = sum / n
  }

  /** 64-bit temporal luma-envelope fingerprint of a video blob (round
    * 16) — the audio energy-envelope trick on the frame axis: every
    * frame's integer mean floor-luma is computed through the REAL
    * frame decoders (MJPEG MP4 samples via [[mjpegFrames]] +
    * [[JpegKernels]]; animated GIF frames AS STORED via
    * [[GifKernels.frames]]'s pixel sink), 65 positions are sampled
    * along the frame sequence (pos i = i·n/65 — n ≥ 65 samples evenly,
    * shorter videos repeat frames into a blocky but well-defined
    * envelope), and bit i is set iff luma(i) < luma(i+1). Re-encodes
    * and frame-accurate trims land within a few bits; content
    * reorderings move many. Single-frame blobs, undecodable
    * containers and ANY undecodable frame are null — the
    * partial-frame-list stance of both frame walkers. */
  def videoDhash64(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 6) return null
    val lumas: Array[Long] =
      if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
        val sinks = scala.collection.mutable.ArrayBuffer.empty[LumaSink]
        GifKernels.frames(b,
            (_, _, _) => { val s = new LumaSink; sinks += s; s }) match {
          case None => return null
          case Some(_) => sinks.map(_.luma).toArray
        }
      } else {
        val fr = mjpegFrames(b)
        if (fr == null) return null
        val n = fr.numElements()
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          val s = new LumaSink
          if (!RasterKernels.decodeTo(fr.getBinary(i), s) || s.n == 0)
            return null
          out(i) = s.luma
          i += 1
        }
        out
      }
    val n = lumas.length
    if (n < 2) return null
    var h = 0L
    var i = 0
    while (i < 64) {
      val a = lumas((i.toLong * n / 65).toInt)
      val c = lumas(((i + 1).toLong * n / 65).toInt)
      if (a < c) h |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  def mjpegFrames(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (b == null || b.length < 16) return null
    val MaxEntries = 4096
    var brand = false
    var moovS = -1
    var moovE = -1
    walkBoxes(b, 0, b.length) { (t, s, e) =>
      if (t == "ftyp" && s + 4 <= e) brand = true
      if (t == "moov" && moovS < 0) { moovS = s; moovE = e }
    }
    if (!brand || moovS < 0) return null
    // first MJPEG trak wins; others (sound, compressed video) skipped
    var found = false
    var fixedSize = -1L
    var nSamples = -1L
    var sizes: Array[Long] = null
    var offsets: Array[Long] = null
    var runs: Array[(Long, Long)] = null // (first_chunk 1-based, samples_per_chunk)
    walkBoxes(b, moovS, moovE) { (t, s, e) =>
      if (t == "trak" && !found) {
        var mjpeg = false
        var fx = -1L
        var ns = -1L
        var sz: Array[Long] = null
        var off: Array[Long] = null
        var rn: Array[(Long, Long)] = null
        walkBoxes(b, s, e) { (t2, s2, e2) =>
          if (t2 == "mdia") walkBoxes(b, s2, e2) { (t3, s3, e3) =>
            if (t3 == "minf") walkBoxes(b, s3, e3) { (t4, s4, e4) =>
              if (t4 == "stbl") walkBoxes(b, s4, e4) { (t5, s5, e5) =>
                if (t5 == "stsd" && s5 + 16 <= e5) {
                  val fourcc = new String(b, s5 + 12, 4,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
                  mjpeg = fourcc == "jpeg" || fourcc == "mjpa"
                }
                if (t5 == "stsz" && ns < 0 && s5 + 12 <= e5) {
                  fx = beI32(b, s5 + 4).toLong & 0xffffffffL
                  ns = beI32(b, s5 + 8).toLong & 0xffffffffL
                  if (fx == 0) {
                    if (ns <= MaxEntries && s5 + 12 + 4 * ns <= e5) {
                      sz = Array.tabulate(ns.toInt)(i =>
                        beI32(b, s5 + 12 + 4 * i).toLong & 0xffffffffL)
                    } else ns = -2 // truncated table / over cap: poison
                  }
                }
                if (t5 == "stco" && off == null && s5 + 8 <= e5) {
                  val n = beI32(b, s5 + 4).toLong & 0xffffffffL
                  if (n <= MaxEntries && s5 + 8 + 4 * n <= e5)
                    off = Array.tabulate(n.toInt)(i =>
                      beI32(b, s5 + 8 + 4 * i).toLong & 0xffffffffL)
                }
                if (t5 == "co64" && off == null && s5 + 8 <= e5) {
                  val n = beI32(b, s5 + 4).toLong & 0xffffffffL
                  if (n <= MaxEntries && s5 + 8 + 8 * n <= e5)
                    off = Array.tabulate(n.toInt)(i => beI64(b, s5 + 8 + 8 * i))
                }
                if (t5 == "stsc" && rn == null && s5 + 8 <= e5) {
                  val n = beI32(b, s5 + 4).toLong & 0xffffffffL
                  if (n <= MaxEntries && s5 + 8 + 12 * n <= e5)
                    rn = Array.tabulate(n.toInt)(i => (
                      beI32(b, s5 + 8 + 12 * i).toLong & 0xffffffffL,
                      beI32(b, s5 + 12 + 12 * i).toLong & 0xffffffffL))
                }
              }
            }
          }
        }
        if (mjpeg) {
          found = true
          fixedSize = fx; nSamples = ns; sizes = sz; offsets = off; runs = rn
        }
      }
    }
    if (!found || nSamples < 0 || nSamples > MaxEntries) return null
    if (fixedSize == 0 && sizes == null) return null
    if (offsets == null || runs == null) return null
    if (runs.isEmpty || runs(0)._1 != 1) return null // stsc must cover chunk 1
    val frames = new scala.collection.mutable.ArrayBuffer[Any](nSamples.toInt)
    var sample = 0
    var run = 0
    var chunk = 1L
    while (chunk <= offsets.length && sample < nSamples) {
      while (run + 1 < runs.length && runs(run + 1)._1 <= chunk) run += 1
      val spc = runs(run)._2
      var off = offsets(chunk.toInt - 1)
      var i = 0L
      while (i < spc && sample < nSamples) {
        val len = if (fixedSize != 0) fixedSize else sizes(sample)
        if (off < 0 || len <= 0 || off + len > b.length) return null
        frames += java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
        off += len; i += 1; sample += 1
      }
      chunk += 1
    }
    if (sample < nSamples) return null // chunks can't hold the declared count
    new org.apache.spark.sql.catalyst.util.GenericArrayData(frames.toArray)
  }

  /** (format, width, height) from the blob's container header, or NULL
    * when the blob matches no known magic / is truncated before its
    * dimension fields. Formats: png, gif, bmp, jpeg, tiff.
    */
  def imageMeta(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // TIFF: II*/MM* then the first IFD's ImageWidth(256)/ImageLength(257)
    // entries (SHORT or LONG, count 1 — inline in the value field)
    if (b.length >= 8 && ((b(0) == 'I' && b(1) == 'I') ||
        (b(0) == 'M' && b(1) == 'M'))) {
      val header = TiffKernels.Header.read(b)
      if (header == null) return null
      import header.{u16, u32}
      var w = -1L; var h = -1L
      var e = 0
      while (e < header.entries) {
        val at = header.entry(e)
        val tag = u16(at)
        if (tag == 256 || tag == 257) {
          val typ = u16(at + 2)
          // count must be 1: a LONG with count>1 (or SHORT with count>2)
          // stores an OFFSET in the value field, not the dimension —
          // trusting it reports garbage dims for a blob TiffKernels
          // itself refuses (its values() caps these tags at count 1)
          val cnt = u32(at + 4)
          val v =
            if (cnt != 1L) -1L
            else if (typ == 3) u16(at + 8).toLong
            else if (typ == 4) u32(at + 8)
            else -1L
          if (tag == 256) w = v else h = v
        }
        e += 1
      }
      return if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
        row("tiff", w.toInt, h.toInt)
      else null
    }
    // WEBP (r13): RIFF/WEBP, dims from the FIRST payload chunk — each
    // of the three in-spec first chunks packs them differently, and a
    // wrong-variant read reports garbage dims, so every branch checks
    // its own signature bytes and fails closed. Sizes are 14-bit
    // (VP8/VP8L) or 24-bit-minus-one (VP8X) fields: always positive by
    // construction except the VP8 lossy zero case, checked explicitly.
    if (b.length >= 25 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P') {
      val tag = new String(Array(b(12), b(13), b(14), b(15)), "ISO-8859-1")
      if (tag == "VP8X") {
        // extended header: 24-bit LE canvas dims minus one at 24/27
        if (b.length < 30) return null
        val w = 1 + ((b(24) & 0xff) | ((b(25) & 0xff) << 8) | ((b(26) & 0xff) << 16))
        val h = 1 + ((b(27) & 0xff) | ((b(28) & 0xff) << 8) | ((b(29) & 0xff) << 16))
        return row("webp", w, h)
      }
      if (tag == "VP8L") {
        // lossless: 0x2F signature, then 14-bit w-1 / 14-bit h-1 packed LE
        if ((b(20) & 0xff) != 0x2f) return null
        val w = 1 + ((b(21) & 0xff) | ((b(22) & 0x3f) << 8))
        val h = 1 + (((b(22) & 0xff) >> 6) | ((b(23) & 0xff) << 2) |
          ((b(24) & 0x0f) << 10))
        return row("webp", w, h)
      }
      if (tag == "VP8 ") {
        // lossy: 3-byte frame tag (bit 0 must be 0 = keyframe — dims
        // exist only in keyframes), start code 9D 01 2A, 14-bit LE dims
        if (b.length < 30) return null
        if ((b(20) & 0x1) != 0) return null
        if ((b(23) & 0xff) != 0x9d || (b(24) & 0xff) != 0x01 ||
            (b(25) & 0xff) != 0x2a) return null
        val w = ((b(26) & 0xff) | ((b(27) & 0xff) << 8)) & 0x3fff
        val h = ((b(28) & 0xff) | ((b(29) & 0xff) << 8)) & 0x3fff
        return if (w > 0 && h > 0) row("webp", w, h) else null
      }
      return null
    }
    // PNG: 8-byte magic, then the IHDR chunk (tag verified — a corrupt
    // blob keeping only the signature must not yield garbage dims);
    // width/height BE at 16/20, spec-valid only when positive
    if (b.length >= 24 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a && b(7) == 0x0a) {
      if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return null
      val w = beI32(b, 16); val h = beI32(b, 20)
      return if (w > 0 && h > 0) row("png", w, h) else null
    }
    // GIF87a / GIF89a: logical screen w/h LE at 6/8; zero dims are
    // corrupt (same truthfulness contract as the PNG/BMP branches)
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      val w = leU16(b, 6); val h = leU16(b, 8)
      return if (w > 0 && h > 0) row("gif", w, h) else null
    }
    // BMP: "BM" + a BITMAPINFOHEADER-family DIB (size >= 40 at 14) —
    // the OS/2 BITMAPCOREHEADER packs 16-bit dims at other offsets and
    // must not be misread; w at 18, h at 22 (negative = top-down rows,
    // report magnitude)
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M') {
      if (leI32(b, 14) < 40) return null
      val w = leI32(b, 18); val h = math.abs(leI32(b, 22))
      return if (w > 0 && h > 0) row("bmp", w, h) else null
    }
    // JPEG: SOI then marker segments; dimensions in the first SOFn
    // (C0-CF except C4 DHT / C8 JPG / CC DAC): height BE at +5, width +7
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length && (b(i) & 0xff) == 0xff) {
        val m = b(i + 1) & 0xff
        if (m == 0xff) { i += 1 } // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) { i += 2 } // standalone
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (i + 8 < b.length) return row("jpeg", beU16(b, i + 7), beU16(b, i + 5))
          else return null // truncated before the SOF dimension fields
        } else {
          i += 2 + beU16(b, i + 2) // skip the segment (length includes itself)
        }
      }
      return null
    }
    // SVG (r17): the one vector format crawls carry in volume — XML
    // text, so "dimensions" are the root <svg> tag's width/height
    // attributes (plain or px-suffixed integers) falling back to the
    // viewBox extent; percentage/em/unitless-float sizings without a
    // viewBox are genuinely dimensionless and refuse.
    locally {
      val head = new String(b, 0, math.min(b.length, 4096),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      var i = 0
      if (b.length >= 3 && (b(0) & 0xff) == 0xef &&
          (b(1) & 0xff) == 0xbb && (b(2) & 0xff) == 0xbf) i = 3 // UTF-8 BOM
      while (i < head.length && Character.isWhitespace(head.charAt(i))) i += 1
      if (head.startsWith("<?xml", i)) {
        val e = head.indexOf("?>", i)
        if (e < 0) return null
        i = e + 2
      }
      var at = head.indexOf("<svg", i)
      while (at >= 0 && at + 4 < head.length &&
             !(head.charAt(at + 4) == ' ' || head.charAt(at + 4) == '>' ||
               head.charAt(at + 4) == '\n' || head.charAt(at + 4) == '\t' ||
               head.charAt(at + 4) == '\r'))
        at = head.indexOf("<svg", at + 4)
      if (at >= 0) {
        // only leading whitespace/comments/doctype may precede <svg
        var p = i
        var clean = true
        while (clean && p < at) {
          if (Character.isWhitespace(head.charAt(p))) p += 1
          else if (head.startsWith("<!--", p)) {
            val e = head.indexOf("-->", p + 4)
            if (e < 0 || e + 3 > at) clean = false else p = e + 3
          } else if (head.startsWith("<!", p)) {
            val e = head.indexOf('>', p + 2)
            if (e < 0 || e + 1 > at) clean = false else p = e + 1
          } else clean = false
        }
        if (!clean) return null
        val gt = head.indexOf('>', at + 4)
        if (gt < 0) return null
        val tag = head.substring(at + 4, gt)
        def attrOf(name: String): String = {
          val k = name + "="
          var j = 0
          while (j >= 0 && j < tag.length) {
            j = tag.indexOf(k, j)
            if (j < 0) return null
            val before = if (j == 0) ' ' else tag.charAt(j - 1)
            if (Character.isWhitespace(before)) {
              val q = tag.charAt(j + k.length)
              if (q == '"' || q == '\'') {
                val e = tag.indexOf(q, j + k.length + 1)
                if (e < 0) return null
                return tag.substring(j + k.length + 1, e).trim
              }
            }
            j += k.length
          }
          null
        }
        def px(v: String): Int = {
          if (v == null) return -1
          val t = if (v.endsWith("px")) v.dropRight(2).trim else v
          if (t.nonEmpty && t.forall(_.isDigit) && t.length <= 7) t.toInt
          else -1
        }
        val w = px(attrOf("width"))
        val h = px(attrOf("height"))
        if (w > 0 && h > 0) return row("svg", w, h)
        val vb = attrOf("viewBox")
        if (vb != null) {
          val parts = vb.trim.split("[ ,]+")
          if (parts.length == 4) {
            try {
              val vw = math.floor(parts(2).toDouble + 0.5).toInt
              val vh = math.floor(parts(3).toDouble + 0.5).toInt
              if (vw > 0 && vh > 0) return row("svg", vw, vh)
            } catch { case _: NumberFormatException => () }
          }
        }
        return null
      }
    }
    null
  }

  /** Per-row feature decode for [[graft.operators.Multimodal.featurize]]:
    * invokes the caller's batch-shaped decoder with a singleton batch and
    * unwraps the single feature vector as an unsafe float array. Called
    * from the `decode_features` codegen expression — the decoder object
    * rides along as an expression reference, so the decode stays inside
    * whole-stage codegen with no RDD round-trip.
    */
  def decodeFeatures(decoder: scala.Function2[Seq[Array[Byte]], Int, Seq[Array[Float]]],
                     blob: Array[Byte], dim: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val feats = decoder(Seq(blob), dim)
    require(feats.length == 1,
      s"decoder returned ${feats.length} feature vectors for 1 blob")
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(feats.head)
  }
}

package graft.functions

/** Pure-JVM FLAC decode (round 13 stretch) — the most common lossless
  * container in real audio corpora, implemented from the public format
  * specification (xiph.org / RFC 9639): STREAMINFO metadata, frame
  * headers with CRC-8, subframes (CONSTANT, VERBATIM, FIXED orders 0-4,
  * LPC orders 1-32), partitioned Rice residuals (4- and 5-bit
  * parameters, escape codes), wasted bits, stereo decorrelation
  * (left/side, right/side, mid/side), and the frame CRC-16. Output is
  * the same [[AudioKernels.Pcm]] amplitude summary the WAV/AU/AIFF
  * decoders produce, so FLAC blobs ride the existing
  * [[graft.operators.Multimodal.pcm]] featurize path unchanged.
  *
  * Fail-closed like every kernel in this family: wrong magic, reserved
  * bit patterns, CRC mismatches (header CRC-8 or frame CRC-16),
  * truncated data, unsupported bit depths, or a sample-count
  * disagreement with STREAMINFO all return None — statistics over a
  * misdecoded stream would be silently wrong in exactly the way a
  * feature pipeline cannot detect. All size arithmetic stays in Long
  * ([[RasterKernels]]'s overflow lesson).
  */
object FlacKernels {

  import Decode.{Bad, Refused, beU16}

  /** MSB-first bit reader over the blob. */
  private final class BitReader(b: Array[Byte]) {
    var bytePos: Int = 0
    var bitPos: Int = 0 // 0..7, next bit = (b(bytePos) >> (7 - bitPos)) & 1

    def aligned: Boolean = bitPos == 0
    def align(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }

    def readBit(): Int = {
      if (bytePos >= b.length) throw Bad
      val v = (b(bytePos) >> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      v
    }

    /** n-bit unsigned, n in [0, 57] (fits a Long with slack). */
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    /** n-bit two's-complement signed. */
    def readSigned(n: Int): Long = {
      if (n == 0) return 0L
      val u = readBits(n)
      if ((u & (1L << (n - 1))) != 0) u - (1L << n) else u
    }

    /** FLAC unary: count of 0 bits before the terminating 1. */
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) {
        q += 1
        if (q > (1 << 24)) throw Bad // a >16M quotient is corrupt, not data
      }
      q
    }
  }

  /** CRC-8, poly 0x07, init 0 (FLAC frame-header CRC). */
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 (FLAC frame CRC). */
  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  private val FixedBlockSizes = Array(
    -1, 192, 576, 1152, 2304, 4608, -6, -7, // -6/-7: from end of header
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
  private val FixedRates = Array(
    0, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000, -12, -13, -14, -1)

  def decode(b: Array[Byte]): Option[AudioKernels.Pcm] = decode(b, null)

  /** Decode with an optional [[AudioKernels.SampleSink]] (round 16):
    * samples delivered INTERLEAVED (the WAV order, regardless of
    * FLAC's channel-major frame layout) and 16-bit-normalized; an
    * unknown STREAMINFO total (0) aborts a sinked decode — the
    * fingerprint needs the count up front. */
  def decode(b: Array[Byte],
             sink: AudioKernels.SampleSink): Option[AudioKernels.Pcm] = {
    if (b == null || b.length < 42) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    try Some(decodeStream(b, sink)) catch { case Refused() => None }
  }

  /** Header-only STREAMINFO read for the codec-free triage tier
    * ([[MediaKernels.audioMeta]]): (channels, sample_rate,
    * bits_per_sample, total_samples) without touching a single frame —
    * same magic/first-block/length/range validation as [[decode]]
    * (shared [[metaWalk]]), so triage and decode can never disagree on
    * what is a well-formed stream head. `total_samples` is the value
    * the header DECLARES (0 = unknown is in-spec for streamed encodes);
    * an n_frames this tier reports is a claim about the header, not the
    * payload — the decode tier is what verifies frames. */
  def streamInfo(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 42) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    try {
      val (_, rate, channels, bits, total) = metaWalk(b)
      Some((channels, rate, bits, total))
    } catch { case Refused() => None }
  }

  /** The metadata-block walk both tiers share: validates STREAMINFO
    * comes first with length 34, walks to the end of the block list,
    * and returns (first frame offset, rate, channels, bits, total). */
  private def metaWalk(b: Array[Byte]): (Long, Int, Int, Int, Long) = {
    var p = 4L
    var last = false
    var siRate = -1; var siChannels = -1; var siBits = -1
    var siTotal = -1L
    var first = true
    while (!last) {
      if (p + 4 > b.length) throw Bad
      val h = b(p.toInt) & 0xff
      last = (h & 0x80) != 0
      val btype = h & 0x7f
      val len = ((b(p.toInt + 1) & 0xff) << 16) | ((b(p.toInt + 2) & 0xff) << 8) |
        (b(p.toInt + 3) & 0xff)
      if (btype == 127) throw Bad // invalid block type
      if (first) {
        if (btype != 0 || len != 34) throw Bad // STREAMINFO first, length 34
        val s = p.toInt + 4
        if (s + 34 > b.length) throw Bad
        // packed 8 bytes at s+10: 20-bit rate, 3-bit ch-1, 5-bit bps-1,
        // 36-bit total samples
        val hi = ((b(s + 10) & 0xffL) << 12) | ((b(s + 11) & 0xffL) << 4) |
          ((b(s + 12) & 0xffL) >> 4)
        siRate = hi.toInt
        siChannels = (((b(s + 12) & 0xff) >> 1) & 0x7) + 1
        siBits = (((b(s + 12) & 0x1) << 4) | ((b(s + 13) & 0xff) >> 4)) + 1
        siTotal = ((b(s + 13) & 0xfL) << 32) | ((b(s + 14) & 0xffL) << 24) |
          ((b(s + 15) & 0xffL) << 16) | ((b(s + 16) & 0xffL) << 8) |
          (b(s + 17) & 0xffL)
        if (siRate <= 0 || siBits < 4 || siBits > 32) throw Bad
        first = false
      }
      p += 4L + len
      if (p > b.length) throw Bad
    }
    if (first) throw Bad // no metadata block at all
    (p, siRate, siChannels, siBits, siTotal)
  }

  private def decodeStream(b: Array[Byte],
      sink: AudioKernels.SampleSink = null): AudioKernels.Pcm = {
    val (p0, siRate, siChannels, siBits, siTotal) = metaWalk(b)
    if (sink != null) {
      if (siTotal == 0) throw Bad // unknown total: no sinked decode
      if (!sink.begin(siChannels, siRate, siTotal * siChannels)) throw Bad
    }
    var p = p0

    // ---- frames until EOF
    var sumAbs = 0.0
    var sumSq = 0.0
    var peak = 0.0
    var totalFrames = 0L // interchannel samples
    val norm = math.pow(2.0, siBits - 1)
    while (p < b.length) {
      val frameStart = p.toInt
      val r = new BitReader(b)
      r.bytePos = frameStart
      // 15-bit sync 0b111111111111100 + 1-bit blocking strategy
      if (r.readBits(14) != 0x3ffe) throw Bad
      if (r.readBit() != 0) throw Bad // reserved
      val variableBlocking = r.readBit() == 1
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chAssign = r.readBits(4).toInt
      val ssCode = r.readBits(3).toInt
      if (r.readBit() != 0) throw Bad // reserved
      // UTF-8-coded frame (or sample) number — validate shape
      readUtf8Number(r, if (variableBlocking) 7 else 6)
      val blockSize = bsCode match {
        case 0 => throw Bad
        case 6 => r.readBits(8).toInt + 1
        case 7 => r.readBits(16).toInt + 1
        case c => FixedBlockSizes(c)
      }
      val rate = srCode match {
        case 0 => siRate
        case 12 => r.readBits(8).toInt * 1000
        case 13 => r.readBits(16).toInt
        case 14 => r.readBits(16).toInt * 10
        case 15 => throw Bad
        case c => FixedRates(c)
      }
      if (rate != siRate) throw Bad // a rate change mid-stream is corrupt here
      val bps = ssCode match {
        case 0 => siBits
        case 1 => 8
        case 2 => 12
        case 3 => throw Bad
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
      }
      if (bps != siBits) throw Bad
      val channels = if (chAssign < 8) chAssign + 1 else 2
      if (chAssign > 10) throw Bad
      if (channels != siChannels) throw Bad
      // header CRC-8 covers everything up to (excluding) the crc byte
      if (!r.aligned) throw Bad // header fields are byte-aligned by spec
      val crcPos = r.bytePos
      if (crc8(b, frameStart, crcPos) != (b(crcPos) & 0xff)) throw Bad
      r.bytePos = crcPos + 1

      // ---- subframes
      val samples = Array.ofDim[Long](channels, blockSize)
      var ch = 0
      while (ch < channels) {
        val sideBit = chAssign match {
          case 8 => if (ch == 1) 1 else 0  // left/side
          case 9 => if (ch == 0) 1 else 0  // right(side stored first)/side
          case 10 => if (ch == 1) 1 else 0 // mid/side
          case _ => 0
        }
        decodeSubframe(r, samples(ch), blockSize, bps + sideBit)
        ch += 1
      }
      // stereo decorrelation
      chAssign match {
        case 8 => // left/side: right = left - side
          var i = 0
          while (i < blockSize) {
            samples(1)(i) = samples(0)(i) - samples(1)(i); i += 1
          }
        case 9 => // side/right: left = side + right
          var i = 0
          while (i < blockSize) {
            samples(0)(i) = samples(0)(i) + samples(1)(i); i += 1
          }
        case 10 => // mid/side
          var i = 0
          while (i < blockSize) {
            val side = samples(1)(i)
            val mid = (samples(0)(i) << 1) | (side & 1L)
            samples(0)(i) = (mid + side) >> 1
            samples(1)(i) = (mid - side) >> 1
            i += 1
          }
        case _ => ()
      }
      // footer: align + CRC-16 over the whole frame
      r.align()
      val footPos = r.bytePos
      val want = beU16(b, footPos)
      if (crc16(b, frameStart, footPos) != want) throw Bad
      p = footPos + 2L

      // accumulate stats
      ch = 0
      while (ch < channels) {
        var i = 0
        val s = samples(ch)
        while (i < blockSize) {
          val v = s(i) / norm
          val a = math.abs(v)
          sumAbs += a
          sumSq += v * v
          if (a > peak) peak = a
          i += 1
        }
        ch += 1
      }
      if (sink != null) {
        // interleaved delivery (i-major) so WAV and FLAC of the same
        // audio fingerprint identically; 16-bit normalization by shift
        var i = 0
        while (i < blockSize) {
          ch = 0
          while (ch < channels) {
            val s = samples(ch)(i)
            val v16 =
              if (siBits >= 16) (s >> (siBits - 16)).toInt
              else (s << (16 - siBits)).toInt
            sink.add(v16)
            ch += 1
          }
          i += 1
        }
      }
      totalFrames += blockSize
    }
    if (totalFrames == 0) throw Bad
    if (siTotal != 0 && siTotal != totalFrames) throw Bad
    val nSamples = totalFrames * siChannels
    AudioKernels.Pcm(siChannels, siRate, siBits, totalFrames,
      sumAbs / nSamples, sumSq / nSamples, peak)
  }

  /** UTF-8-style coded frame/sample number (FLAC extends UTF-8 to 36
    * bits / 7 bytes). Returns the value; malformed continuation → bad. */
  private def readUtf8Number(r: BitReader, maxExtra: Int): Long = {
    val b0 = r.readBits(8).toInt
    var extra = 0
    var v = 0L
    if ((b0 & 0x80) == 0) return b0.toLong
    var mask = 0x40
    while ((b0 & mask) != 0) { extra += 1; mask >>= 1 }
    if (extra < 1 || extra > maxExtra) throw Bad
    v = (b0 & (mask - 1)).toLong
    var i = 0
    while (i < extra) {
      val c = r.readBits(8).toInt
      if ((c & 0xc0) != 0x80) throw Bad
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  private def decodeSubframe(r: BitReader, out: Array[Long],
                             blockSize: Int, bps: Int): Unit = {
    if (bps < 1 || bps > 33) throw Bad
    if (r.readBit() != 0) throw Bad // zero padding bit
    val t = r.readBits(6).toInt
    var wasted = 0
    if (r.readBit() == 1) { wasted = 1 + r.readUnary() }
    val ebps = bps - wasted
    if (ebps < 1) throw Bad
    t match {
      case 0 => // CONSTANT
        val v = r.readSigned(ebps)
        var i = 0
        while (i < blockSize) { out(i) = v; i += 1 }
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { out(i) = r.readSigned(ebps); i += 1 }
      case o if o >= 8 && o <= 12 => // FIXED order 0-4
        val order = o - 8
        if (order > blockSize) throw Bad
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        decodeResiduals(r, out, blockSize, order)
        applyFixed(out, blockSize, order)
      case o if o >= 32 => // LPC order 1-32
        val order = (o & 31) + 1
        if (order > blockSize) throw Bad
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        val precRaw = r.readBits(4).toInt
        if (precRaw == 15) throw Bad // 0b1111 is invalid per spec
        val precision = precRaw + 1
        val shift = r.readSigned(5).toInt
        if (shift < 0) throw Bad // negative shift is reserved in practice
        val coefs = new Array[Long](order)
        i = 0
        while (i < order) { coefs(i) = r.readSigned(precision); i += 1 }
        decodeResiduals(r, out, blockSize, order)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j) * out(i - 1 - j); j += 1 }
          out(i) = out(i) + (acc >> shift)
          i += 1
        }
      case _ => throw Bad // reserved subframe types
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
  }

  /** Partitioned Rice residuals written INTO out(order until blockSize). */
  private def decodeResiduals(r: BitReader, out: Array[Long],
                              blockSize: Int, order: Int): Unit = {
    val method = r.readBits(2).toInt // 0: 4-bit params, 1: 5-bit params
    if (method > 1) throw Bad
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val pOrder = r.readBits(4).toInt
    val nPart = 1 << pOrder
    if (blockSize % nPart != 0) throw Bad
    val perPart = blockSize >> pOrder
    if (perPart < order) throw Bad // partition 0 holds perPart - order residuals
    var idx = order
    var part = 0
    while (part < nPart) {
      val n = if (part == 0) perPart - order else perPart
      if (n < 0) throw Bad
      val param = r.readBits(pBits).toInt
      if (param == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < n) { out(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < n) {
          val q = r.readUnary().toLong
          val u = (q << param) | r.readBits(param)
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag decode
          idx += 1; i += 1
        }
      }
      part += 1
    }
  }

  private def applyFixed(out: Array[Long], blockSize: Int, order: Int): Unit = {
    var i = order
    order match {
      case 0 => ()
      case 1 => while (i < blockSize) { out(i) += out(i - 1); i += 1 }
      case 2 => while (i < blockSize) {
        out(i) += 2 * out(i - 1) - out(i - 2); i += 1 }
      case 3 => while (i < blockSize) {
        out(i) += 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3); i += 1 }
      case 4 => while (i < blockSize) {
        out(i) += 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4); i += 1 }
      case _ => throw Bad
    }
  }
}

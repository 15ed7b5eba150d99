package graft.functions

/** Sample decode for the audio formats that need NO codec library —
  * integer PCM (8-bit unsigned, 16/24-bit signed LE), ITU-T G.711
  * companded telephony audio (µ-law, format 7; A-law, format 6), and
  * (round 11) IMA/DVI ADPCM (format 0x11, mono — the 4-bit speech
  * codec of voicemail/telephony archives) inside a WAV/RIFF container.
  * WAVE_FORMAT_EXTENSIBLE (0xFFFE, round 12) unwraps to the inner
  * SubFormat GUID tag — the wrapper real-world corpora carry for
  * >2-channel and 24-bit PCM — and fails closed on non-KSDATAFORMAT
  * GUIDs.
  * G.711 expansion is pure table arithmetic from the public spec
  * (segment + mantissa + bias) and ADPCM is the public IMA step/index
  * recurrence, so telephony corpora decode for real; the honest stub
  * shrinks to the genuinely codec-bound formats (MP3/AAC/Opus), which
  * this sandbox cannot decode. The audio analog of [[RasterKernels]]:
  * amplitude statistics come from real sample iteration.
  *
  * Every parse failure — wrong magic, compressed/float payloads,
  * unsupported bit depth, truncated data — returns None rather than
  * throwing: a corrupt blob must cost a NULL feature row, never a task.
  * All header-derived arithmetic stays in Long ([[RasterKernels]]'s
  * overflow lesson): RIFF sizes are unsigned 32-bit and
  * attacker-controlled.
  */
object AudioKernels {

  import Decode.{beI32, beU16, leI32, leU16}

  /** Decoded summary over all interleaved samples, amplitudes
    * normalized to [-1, 1]: 16-bit as v/32768, 8-bit as (v-128)/128.
    * `meanAbs`/`meanSq`/`peak` are exact IEEE-double statistics;
    * rms = sqrt(meanSq) is left to callers so the stored stats stay
    * closed-form rationals (float-exact for dyadic inputs).
    */
  final case class Pcm(channels: Int, sampleRate: Int, bits: Int,
                       nFrames: Long, meanAbs: Double, meanSq: Double,
                       peak: Double)

  /** Per-sample consumer (round 16) — the audio twin of
    * [[RasterKernels.PixelSink]]: `begin` once with the stream shape
    * and the TOTAL interleaved sample count (false aborts the decode,
    * e.g. unknown FLAC totals); `add` every sample exactly once, in
    * INTERLEAVED order, normalized to a signed 16-bit integer
    * (8-bit << 8, 24-bit >> 8, mu/A-law through their linear tables,
    * FLAC shifted by |bps-16|) — integer-exact and decoder-invariant,
    * so the same audio fingerprints identically from WAV and FLAC. */
  trait SampleSink {
    def begin(channels: Int, sampleRate: Int, nSamples: Long): Boolean
    def add(v16: Int): Unit
  }

  /** 64-bit temporal energy-envelope fingerprint — the dHash trick on
    * the time axis: the interleaved |16-bit| amplitudes are split into
    * 65 equal frames (frame of sample k = k*65/N, integer), each
    * frame's mean |amplitude| computed in exact integer floor
    * arithmetic, and bit i set iff energy(i) < energy(i+1). Gain-step
    * edits move ALL energies together (gradient bits mostly survive),
    * clipping or re-encoding at equal content lands within a few bits
    * — the property the banded near-dup family needs. Streams shorter
    * than 65 samples, unknown totals, and undecodable blobs are null. */
  def energyDhash64(b: Array[Byte]): java.lang.Long = {
    val sums = new Array[Long](65)
    val counts = new Array[Long](65)
    var total = 0L
    var k = 0L
    val sink = new SampleSink {
      def begin(ch: Int, rate: Int, n: Long): Boolean = {
        if (n < 65) return false
        total = n
        true
      }
      def add(v16: Int): Unit = {
        val f = (k * 65 / total).toInt
        sums(f) += math.abs(v16)
        counts(f) += 1
        k += 1
      }
    }
    decode(b, sink) match {
      case Some(_) if total > 0 && k == total =>
        var h = 0L
        var i = 0
        while (i < 64) {
          if (sums(i) / counts(i) < sums(i + 1) / counts(i + 1))
            h |= 1L << i
          i += 1
        }
        java.lang.Long.valueOf(h)
      case _ => null
    }
  }

  /** Bytes 2..15 of every KSDATAFORMAT_SUBTYPE_* GUID
    * ({xxxx}-0000-0010-8000-00AA00389B71): WAVE_FORMAT_EXTENSIBLE
    * SubFormats carry the wrapped format tag in bytes 0..1 and this
    * fixed suffix after it. */
  private val KsGuidSuffix: Array[Int] = Array(
    0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
    0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)

  /** ITU-T G.711 µ-law byte → linear 16-bit sample (range ±32124).
    * Complement, then mantissa·8 + bias 0x84 shifted by the segment;
    * sign from the complemented top bit. */
  def ulawToLinear(byte: Int): Int = {
    val u = (~byte) & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law byte → linear 16-bit sample (range ±32256).
    * XOR 0x55, mantissa·16 plus the per-segment offset (8 in segment 0,
    * 0x108 then doubling); sign INVERTED relative to µ-law's layout. */
  def alawToLinear(byte: Int): Int = {
    val a = (byte ^ 0x55) & 0xff
    var t = (a & 0x0f) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** IMA/DVI ADPCM tables (public IMA "Recommended Practices" spec —
    * the WAV format-0x11 codec): 89-entry step table, 16-entry index
    * adaptation. */
  private val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val ImaIndex: Array[Int] = Array(
    -1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM step: returns the new (predictor, index) packed as
    * (pred << 8) | index — exposed so the spec's independent reference
    * recurrence checks the SAME public algorithm, not this code. */
  def imaStep(nibble: Int, pred: Int, index: Int): (Int, Int) = {
    val step = ImaStep(index)
    var diff = step >> 3
    if ((nibble & 1) != 0) diff += step >> 2
    if ((nibble & 2) != 0) diff += step >> 1
    if ((nibble & 4) != 0) diff += step
    val p0 = if ((nibble & 8) != 0) pred - diff else pred + diff
    val p1 = if (p0 < -32768) -32768 else if (p0 > 32767) 32767 else p0
    val i0 = index + ImaIndex(nibble)
    val i1 = if (i0 < 0) 0 else if (i0 > 88) 88 else i0
    (p1, i1)
  }

  /** Container dispatch: RIFF/WAVE, Sun AU (.snd), and AIFF (round 11
    * — the archival/telephony containers javax.sound itself writes).
    * Unlike [[MediaKernels.audioMeta]] (which reports a truncated
    * blob's surviving frames — triage wants the real count), decode
    * REQUIRES the declared data to be fully present: statistics over
    * half the samples would be silently wrong in exactly the way a
    * feature pipeline can't detect.
    */
  def decode(b: Array[Byte]): Option[Pcm] = decode(b, null)

  /** Decode with an optional [[SampleSink]] (round 16): every sample
    * delivered once, interleaved, 16-bit-normalized. */
  def decode(b: Array[Byte], sink: SampleSink): Option[Pcm] = {
    if (b == null || b.length < 12) return None
    if (b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')
      return decodeAu(b, sink)
    if (b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F')
      return decodeAiff(b, sink)
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      return FlacKernels.decode(b, sink) // round 13: lossless tier
    decodeWav(b, sink)
  }

  /** Sun AU (.snd): 24-byte big-endian header (magic, data offset,
    * data size — 0xFFFFFFFF = until EOF — encoding, rate, channels).
    * Encodings: 1 µ-law, 2 signed PCM8, 3 signed PCM16 BE, 27 A-law.
    * Everything else (floats, G.721/722, 24/32-bit) returns None. */
  private def decodeAu(b: Array[Byte], sink: SampleSink): Option[Pcm] = {
    if (b.length < 24) return None
    val off = beI32(b, 4).toLong & 0xffffffffL
    val dsz = beI32(b, 8).toLong & 0xffffffffL
    val enc = beI32(b, 12)
    val rate = beI32(b, 16)
    val channels = beI32(b, 20)
    if (off < 24 || off > b.length || channels <= 0 || channels > 64 ||
        rate <= 0) return None
    val bytesPerSample = enc match {
      case 1 | 2 | 27 => 1
      case 3 => 2
      case _ => return None
    }
    val avail = b.length - off
    val len = if (dsz == 0xffffffffL) avail else dsz
    if (len > avail) return None // truncated: refuse
    val frameBytes = channels.toLong * bytesPerSample
    val nFrames = len / frameBytes
    val nSamples = nFrames * channels
    if (nSamples == 0) return None
    if (sink != null && !sink.begin(channels, rate, nSamples)) return None
    var sumAbs = 0.0; var sumSq = 0.0; var peak = 0.0
    var p = off.toInt
    val end = (off + nSamples * bytesPerSample).toInt
    while (p < end) {
      val vi = enc match {
        case 1 => ulawToLinear(b(p) & 0xff)
        case 27 => alawToLinear(b(p) & 0xff)
        case 2 => b(p) << 8 // AU PCM8 is SIGNED (WAV's is unsigned)
        case _ => ((b(p) << 8) | (b(p + 1) & 0xff)).toShort.toInt
      }
      if (sink != null) sink.add(vi)
      val v = enc match {
        case 1 | 27 => vi / 32768.0
        case 2 => b(p) / 128.0
        case _ => vi / 32768.0
      }
      val a = math.abs(v)
      sumAbs += a; sumSq += v * v
      if (a > peak) peak = a
      p += bytesPerSample
    }
    Some(Pcm(channels, rate,
      if (bytesPerSample == 2) 16 else 8, nFrames,
      sumAbs / nSamples, sumSq / nSamples, peak))
  }

  /** 80-bit IEEE extended float (AIFF sample rates) → Long, or -1 when
    * not a positive integer a sample rate could be. */
  private def extended80(b: Array[Byte], i: Int): Long = {
    if (i + 10 > b.length) return -1L
    val se = beU16(b, i)
    if ((se & 0x8000) != 0) return -1L // negative rate
    val exp = se & 0x7fff
    var mant = 0L
    var j = 0
    while (j < 8) { mant = (mant << 8) | (b(i + 2 + j) & 0xffL); j += 1 }
    if (exp == 0 && mant == 0L) return -1L
    // value = mant · 2^(exp − 16383 − 63); integers need the shift in
    // [-63, 0] and no fractional bits
    val shift = exp - 16383 - 63
    if (shift > 0 || shift < -63) return -1L
    if (shift != 0 && (mant & ((1L << -shift) - 1)) != 0) return -1L
    mant >>> -shift
  }

  /** AIFF: big-endian IFF chunks — COMM (channels, frame count, bits,
    * 80-bit-extended rate) + SSND (offset/blockSize then SIGNED BE
    * PCM). 8/16-bit integer PCM only; AIFC compressed variants and
    * other depths return None. */
  private def decodeAiff(b: Array[Byte], sink: SampleSink): Option[Pcm] = {
    var channels = -1
    var nFrames = -1L
    var bits = -1
    var rate = -1L
    var soundAt = -1L
    var soundLen = -1L
    var i = 12L
    while (i + 8 <= b.length) {
      val j = i.toInt
      val size = beI32(b, j + 4).toLong & 0xffffffffL
      if (b(j) == 'C' && b(j + 1) == 'O' && b(j + 2) == 'M' && b(j + 3) == 'M') {
        if (size < 18 || j + 8 + 18 > b.length) return None
        channels = beU16(b, j + 8)
        nFrames = beI32(b, j + 10).toLong & 0xffffffffL
        bits = beU16(b, j + 14)
        rate = extended80(b, j + 16)
      } else if (b(j) == 'S' && b(j + 1) == 'S' && b(j + 2) == 'N' && b(j + 3) == 'D') {
        if (size < 8 || j + 16 > b.length) return None
        val dataOff = beI32(b, j + 8).toLong & 0xffffffffL
        soundAt = j + 16L + dataOff
        soundLen = size - 8 - dataOff
      }
      i += 8L + size + (size & 1L)
    }
    if (channels <= 0 || channels > 64 || nFrames <= 0 || rate <= 0 ||
        rate > 10000000L || (bits != 8 && bits != 16) ||
        soundAt < 0 || soundLen < 0) return None
    val bytesPerSample = bits / 8
    val nSamples = nFrames * channels
    val need = nSamples * bytesPerSample
    if (need > soundLen || soundAt + need > b.length) return None
    if (sink != null && !sink.begin(channels, rate.toInt, nSamples))
      return None
    var sumAbs = 0.0; var sumSq = 0.0; var peak = 0.0
    var p = soundAt.toInt
    val end = (soundAt + need).toInt
    while (p < end) {
      val vi =
        if (bits == 16) ((b(p) << 8) | (b(p + 1) & 0xff)).toShort.toInt
        else b(p) << 8 // AIFF PCM8 is SIGNED
      if (sink != null) sink.add(vi)
      val v =
        if (bits == 16) vi / 32768.0
        else b(p) / 128.0
      val a = math.abs(v)
      sumAbs += a; sumSq += v * v
      if (a > peak) peak = a
      p += bytesPerSample
    }
    Some(Pcm(channels, rate.toInt, bits, nFrames,
      sumAbs / nSamples, sumSq / nSamples, peak))
  }

  private def decodeWav(b: Array[Byte], sink: SampleSink): Option[Pcm] = {
    if (b == null || b.length < 44) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var formatTag = -1
    var channels = -1
    var rate = -1
    var bits = -1
    var blockAlign = -1
    var samplesPerBlock = -1
    var dataOff = -1L
    var dataLen = -1L
    var i = 12L
    while (i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val j = i.toInt
      val isFmt = b(j) == 'f' && b(j + 1) == 'm' && b(j + 2) == 't' && b(j + 3) == ' '
      val isData = b(j) == 'd' && b(j + 1) == 'a' && b(j + 2) == 't' && b(j + 3) == 'a'
      val size = leI32(b, j + 4).toLong & 0xffffffffL
      if (isFmt) {
        if (size < 16 || j + 8 + 16 > b.length) return None
        formatTag = leU16(b, j + 8)
        channels = leU16(b, j + 10)
        rate = leI32(b, j + 12)
        blockAlign = leU16(b, j + 20)
        bits = leU16(b, j + 22)
        // the ADPCM extension carries wSamplesPerBlock (in
        // WAVEFORMATEXTENSIBLE the same union slot is wSamplesPerBlock
        // for compressed SubFormats, so the read is right there too)
        if (size >= 20 && j + 8 + 20 <= b.length)
          samplesPerBlock = leU16(b, j + 26)
        if (formatTag == 0xfffe) {
          // WAVE_FORMAT_EXTENSIBLE (RFC 2361 / mmreg.h): the real
          // format hides in the SubFormat GUID — inner tag as LE u16,
          // then the fixed KSDATAFORMAT suffix. Real-world corpora use
          // this wrapper for >2-channel and 24-bit PCM. Anything with
          // a non-KS GUID suffix is an unknown codec: fail closed.
          if (size < 40 || j + 8 + 40 > b.length) return None
          if (leU16(b, j + 24) < 22) return None // cbSize
          val g = j + 32 // SubFormat GUID at payload offset 24
          var k = 0
          while (k < 14) {
            if ((b(g + 2 + k) & 0xff) != KsGuidSuffix(k)) return None
            k += 1
          }
          formatTag = leU16(b, g) // inner tag joins the family checks
        }
      } else if (isData) {
        dataOff = j + 8L
        dataLen = size
      }
      i += 8L + size + (size & 1L)
    }
    val pcm = formatTag == 1 && (bits == 8 || bits == 16 || bits == 24)
    val g711 = (formatTag == 6 || formatTag == 7) && bits == 8
    val adpcm = formatTag == 0x11 && bits == 4
    if (!(pcm || g711 || adpcm) || channels <= 0 || channels > 64 ||
        rate <= 0 || dataOff < 0 || dataLen < 0) return None
    if (dataOff + dataLen > b.length) return None // truncated: refuse

    if (adpcm) {
      // IMA/DVI ADPCM (round 11), MONO scope: per-block 4-byte header
      // (int16 predictor, uint8 step index, reserved) then low-nibble-
      // first 4-bit codes; sample 0 of each block IS the header
      // predictor. Stereo interleaves 8-nibble channel groups and is a
      // declared refusal; partial trailing blocks and a samples-per-
      // block that disagrees with the block size fail closed — stats
      // over a misframed stream would be silently wrong.
      if (channels != 1 || blockAlign < 5) return None
      if (samplesPerBlock != (blockAlign - 4) * 2 + 1) return None
      if (dataLen == 0 || dataLen % blockAlign != 0) return None
      val nBlocks = (dataLen / blockAlign).toInt
      if (sink != null &&
          !sink.begin(1, rate, nBlocks.toLong * samplesPerBlock))
        return None
      var sumAbs = 0.0
      var sumSq = 0.0
      var peak = 0.0
      def acc(sample: Int): Unit = {
        if (sink != null) sink.add(sample)
        val v = sample / 32768.0
        val a = math.abs(v)
        sumAbs += a
        sumSq += v * v
        if (a > peak) peak = a
      }
      var blk = 0
      while (blk < nBlocks) {
        val at = (dataOff + blk.toLong * blockAlign).toInt
        var pred = ((b(at) & 0xff) | (b(at + 1) << 8)).toShort.toInt
        var index = b(at + 2) & 0xff
        if (index > 88) return None
        acc(pred)
        var i = at + 4
        val end = at + blockAlign
        while (i < end) {
          val byte = b(i) & 0xff
          val (p1, i1) = imaStep(byte & 0x0f, pred, index)
          pred = p1; index = i1; acc(pred)
          val (p2, i2) = imaStep(byte >> 4, pred, index)
          pred = p2; index = i2; acc(pred)
          i += 1
        }
        blk += 1
      }
      val nSamples = nBlocks.toLong * samplesPerBlock
      return Some(Pcm(1, rate, 4, nSamples,
        sumAbs / nSamples, sumSq / nSamples, peak))
    }
    val bytesPerSample = bits / 8
    val frameBytes = channels.toLong * bytesPerSample
    val nFrames = dataLen / frameBytes
    val nSamples = nFrames * channels
    if (nSamples == 0) return None
    if (sink != null && !sink.begin(channels, rate, nSamples)) return None
    var sumAbs = 0.0
    var sumSq = 0.0
    var peak = 0.0
    var p = dataOff.toInt
    val end = (dataOff + nSamples * bytesPerSample).toInt
    while (p < end) {
      var v16 = 0
      val v =
        if (formatTag == 7) { v16 = ulawToLinear(b(p) & 0xff); v16 / 32768.0 }
        else if (formatTag == 6) { v16 = alawToLinear(b(p) & 0xff); v16 / 32768.0 }
        else if (bits == 16) {
          val s = ((b(p) & 0xff) | (b(p + 1) << 8)).toShort
          v16 = s.toInt
          s / 32768.0
        } else if (bits == 24) {
          // LE two's complement: the top byte's sign rides the Int shift
          val s = (b(p + 2) << 16) | ((b(p + 1) & 0xff) << 8) | (b(p) & 0xff)
          v16 = s >> 8
          s / 8388608.0
        } else { v16 = ((b(p) & 0xff) - 128) << 8; (( b(p) & 0xff) - 128) / 128.0 }
      if (sink != null) sink.add(v16)
      val a = math.abs(v)
      sumAbs += a
      sumSq += v * v
      if (a > peak) peak = a
      p += bytesPerSample
    }
    Some(Pcm(channels, rate, bits, nFrames,
      sumAbs / nSamples, sumSq / nSamples, peak))
  }
}

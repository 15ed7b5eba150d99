package graft

import graft.functions.AudioKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[AudioKernels.energyDhash64]] — the temporal energy-envelope
  * fingerprint. Pins: decoder-invariance (the same samples fingerprint
  * identically from WAV, AU and AIFF containers — the 16-bit
  * normalization contract), near-dup behavior (small edits within a
  * few bits, gain scaling preserved gradients), fail-closed NULLs,
  * and banded-pair / incremental-screen integration.
  */
class AudioFingerprintSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Int) = Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** 16-bit LE mono WAV. */
  private def wav16(samples: Array[Int], rate: Int = 8000): Array[Byte] = {
    val data = samples.flatMap(le16)
    ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(rate) ++
      le32(rate * 2) ++ le16(2) ++ le16(16) ++ ascii("data") ++
      le32(data.length) ++ data
  }

  /** 16-bit BE mono AU. */
  private def au16(samples: Array[Int], rate: Int = 8000): Array[Byte] = {
    val data = samples.flatMap(be16)
    ascii(".snd") ++ be32(24) ++ be32(data.length) ++ be32(3) ++
      be32(rate) ++ be32(1) ++ data
  }

  /** 16-bit BE mono AIFF (80-bit extended rate 8000 = 0x400B FA00...). */
  private def aiff16(samples: Array[Int]): Array[Byte] = {
    val data = samples.flatMap(be16)
    val comm = ascii("COMM") ++ be32(18) ++ be16(1) ++
      be32(samples.length) ++ be16(16) ++
      Array[Byte](0x40, 0x0b, 0xfa.toByte, 0, 0, 0, 0, 0, 0, 0)
    val ssnd = ascii("SSND") ++ be32(8 + data.length) ++ be32(0) ++
      be32(0) ++ data
    val body = ascii("AIFF") ++ comm ++ ssnd
    ascii("FORM") ++ be32(body.length) ++ body
  }

  private val testSamples: Array[Int] = Array.tabulate(260) { k =>
    val v = (k * 197 + 31) % 65521
    ((v * v) % 65521 % 8192 - 4096) // varied signed amplitudes
  }

  test("the same samples fingerprint identically from WAV, AU and " +
    "AIFF containers (16-bit normalization contract)") {
    val hw = AudioKernels.energyDhash64(wav16(testSamples))
    val ha = AudioKernels.energyDhash64(au16(testSamples))
    val hf = AudioKernels.energyDhash64(aiff16(testSamples))
    assert(hw != null && hw == ha && hw == hf,
      s"wav=$hw au=$ha aiff=$hf")
  }

  test("near-dup behavior: a small edit flips few bits; 2x gain " +
    "preserves the envelope gradient almost exactly") {
    val h0 = AudioKernels.energyDhash64(wav16(testSamples)).longValue
    val edited = testSamples.clone()
    edited(10) = 4095; edited(130) = -4000
    val h1 = AudioKernels.energyDhash64(wav16(edited)).longValue
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 6,
      s"edit moved ${java.lang.Long.bitCount(h0 ^ h1)} bits")
    val gained = testSamples.map(v => math.max(-32768, math.min(32767, v * 2)))
    val h2 = AudioKernels.energyDhash64(wav16(gained)).longValue
    assert(java.lang.Long.bitCount(h0 ^ h2) <= 2, // floor-tie flips only
      s"gain moved ${java.lang.Long.bitCount(h0 ^ h2)} bits")
  }

  test("fail-closed: junk, sub-65-sample streams and truncations are NULL") {
    assert(AudioKernels.energyDhash64("not audio".getBytes) == null)
    assert(AudioKernels.energyDhash64(wav16(Array.fill(64)(100))) == null)
    assert(AudioKernels.energyDhash64(wav16(Array.fill(65)(100))) != null)
    val full = wav16(testSamples)
    assert(AudioKernels.energyDhash64(full.take(50)) == null)
    assert(AudioKernels.energyDhash64(null) == null)
    assert(AudioKernels.energyDhash64(Array.emptyByteArray) == null)
  }

  test("audioNearDupPairs finds the planted near-twin; junk produces " +
    "no pairs; audio_dhash64 SQL form agrees") {
    val twin = testSamples.clone(); twin(0) = twin(0) + 500
    val rows = Seq(
      (1L, wav16(testSamples)),
      (2L, wav16(twin)),
      (3L, wav16(testSamples.map(v => -v))), // inverted: same |envelope|!
      (4L, "junk".getBytes))
    val df = rows.toDF("doc_id", "clip")
    val pairs = graft.operators.Dedup
      .sketchPairs(df, Kernels.audioDhash64(col("clip")), "doc_id",
        maxHamming = 6, bands = 8,
        keyBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // |x| envelope equality: the inverted clip is a 0-Hamming pair
    assert(pairs.contains((1L, 3L)))
    df.createOrReplaceTempView("audio_t")
    val viaSql = spark.sql(
      "SELECT doc_id, audio_dhash64(clip) AS h FROM audio_t").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else java.lang.Long.valueOf(r.getLong(1)))).toMap
    assert(viaSql(1L) ==
      AudioKernels.energyDhash64(wav16(testSamples)))
    assert(viaSql(4L) == null)
  }

  test("incrementalAudio screens a batch against the persisted index " +
    "with exact partial-probe recall") {
    val dir = java.nio.file.Files.createTempDirectory("audidx").toString
    val hist = Seq((10L, wav16(testSamples)),
      (11L, wav16(testSamples.map(_ / 3)))).toDF("doc_id", "clip")
    val twin = testSamples.clone(); twin(4) = twin(4) + 300
    val batch = Seq((20L, wav16(twin)),
      (21L, wav16(Array.tabulate(260)(k => (k * 7919 + 13) % 8000 - 4000))))
      .toDF("doc_id", "clip")
    graft.operators.Dedup
      .sketchIndex(hist, Kernels.audioDhash64(col("clip")), "doc_id")
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val out = graft.operators.Dedup
      .incrementalSketch(batch, dir, Kernels.audioDhash64(col("clip")), "doc_id",
        maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((20L, 10L)), out)
  }
}

package perfbench

import graft.functions.{HtmlKernels, JaroWinkler, MinHashKernels, TextKernels, VectorKernels, ZstdKernels}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Direct probes of the `graft.functions` kernels, outside Spark.
  *
  * Each probe loops its kernel over inputs cut from the benchmark's
  * `documents` and `embeddings` tables for a fixed time slice, inside a
  * `kern.<name>` span, and reports calls, bytes and seconds. The rate
  * unit matches the metric name: MB/s of input text (of decoded output
  * for zstd, over frames made by the reference encoder), million vector
  * pairs/s for cosine, million string pairs/s for Jaro-Winkler.
  */
object Kernels {
  final case class Probe(name: String, calls: Long, bytes: Long, seconds: Double, rate: Double)

  /** Shingle width and signature length of the engine's MinHash dedup. */
  private val ShingleSize = 5
  private val NumHashes = 16

  def probeAll(spark: SparkSession, dataDir: String, tracer: Tracer,
               sliceSec: Double): Seq[Probe] = {
    import spark.implicits._
    val texts: Array[String] = spark.read.parquet(s"$dataDir/documents.parquet")
      .select($"text").as[String].collect().filter(_ != null)
    val vecs: Array[Array[Double]] = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select($"embedding".cast("array<double>")).as[Array[Double]].collect()
      .filter(_ != null)
    val utf = texts.map(UTF8String.fromString)
    val html = texts.map(t => UTF8String.fromString(
      "<html><head><title>doc</title><script>var x = 1 < 2;</script></head><body><p>" +
        t.replaceAll("[<>&]", " ") + "</p><ul><li>a&amp;b</li></ul></body></html>"))
    val frames = zstdFrames(texts)
    val vecData = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val prefixes = texts.map(_.take(24))

    def run(name: String, n: Int)(call: Int => Long): (Long, Long, Double) =
      tracer.span(s"kern.$name", name) {
        var k = 0
        val warm = System.nanoTime() + (sliceSec * 0.4e9).toLong // JIT warm-up
        while (System.nanoTime() < warm) { call(k); k = (k + 1) % n }
        val deadline = System.nanoTime() + (sliceSec * 1e9).toLong
        val t0 = System.nanoTime()
        var calls = 0L; var bytes = 0L
        while (System.nanoTime() < deadline) {
          var j = 0
          while (j < 16) { bytes += call(k); calls += 1; k = (k + 1) % n; j += 1 }
        }
        (calls, bytes, (System.nanoTime() - t0) / 1e9)
      }

    def mbPerS(name: String, n: Int)(call: Int => Long): Probe = {
      val (c, b, s) = run(name, n)(call)
      Probe(name, c, b, s, b / 1048576.0 / s)
    }
    def mPerS(name: String, n: Int)(call: Int => Long): Probe = {
      val (c, b, s) = run(name, n)(call)
      Probe(name, c, b, s, c / 1e6 / s)
    }

    Seq(
      mbPerS("minhash", utf.length) { i =>
        MinHashKernels.minHashes(MinHashKernels.shingleHashes(utf(i), ShingleSize), NumHashes)
        utf(i).numBytes()
      },
      mbPerS("text_stats", utf.length) { i => TextKernels.stats(utf(i)); utf(i).numBytes() },
      mbPerS("html_extract", html.length) { i => HtmlKernels.htmlExtract(html(i)); html(i).numBytes() },
      mbPerS("zstd_decode", frames.length) { i => ZstdKernels.decompress(frames(i)).length.toLong },
      mPerS("cosine", vecData.length) { i =>
        VectorKernels.cosine(vecData(i), vecData((i + 1) % vecData.length)); 8L * vecs(i).length
      },
      mPerS("jaro_winkler", prefixes.length) { i =>
        JaroWinkler.sim(prefixes(i), prefixes((i + 1) % prefixes.length)); prefixes(i).length.toLong
      })
  }

  /** Real zstd frames for the decoder probe: the document texts cut into
    * chunks of about [[FrameBytes]], compressed by the reference library
    * (zstd-jni, shipped with Spark) at level 3 with a content checksum,
    * so the probe runs the decoder's Huffman and FSE block paths. Each
    * frame is checked to decode back to its chunk. */
  private val FrameBytes = 32 * 1024

  private def zstdFrames(texts: Array[String]): Array[Array[Byte]] = {
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val buf = new java.io.ByteArrayOutputStream()
    for (t <- texts) {
      buf.write(t.getBytes("UTF-8"))
      buf.write('\n')
      if (buf.size() >= FrameBytes) { chunks += buf.toByteArray; buf.reset() }
    }
    if (buf.size() > 0) chunks += buf.toByteArray
    val ctx = new com.github.luben.zstd.ZstdCompressCtx().setLevel(3).setChecksum(true)
    try chunks.toArray.map { c =>
      val frame = ctx.compress(c)
      require(java.util.Arrays.equals(ZstdKernels.decompress(frame), c),
        "ZstdKernels.decompress does not round-trip a reference zstd frame")
      frame
    } finally ctx.close()
  }
}

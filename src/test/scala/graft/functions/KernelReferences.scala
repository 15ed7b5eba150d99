package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import ArchiveKernels.Rar4Magic
import TextFunctions.{StopwordsEn, tokens}

/** Reference implementations and fixture builders that specs compare
  * the engine's kernels against. No query reaches them, so they live
  * beside the specs rather than in the main jar.
  */
object KernelReferences {

  // ---- text statistics: the per-field twins of Kernels.textStats ----

  /** BPE-ish token count: counts maximal runs of letters, digits, or
    * other-non-space (a cheap proxy for subword tokenizers when sizing
    * training corpora). RE2/Java-compatible pattern.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
      .cast("bigint")

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    val stripped = length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))
    when(len === 0, lit(0.0)).otherwise(stripped.cast("double") / len.cast("double"))
  }

  /** Fraction of tokens that are common-English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stops = array(StopwordsEn.map(lit): _*)
    val hits = size(filter(toks, t => array_contains(stops, lower(t))))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  // ---- JaroWinkler.lengthBand ----

  /** Reference walk (the original per-row loop, integer boundaries
    * c₀=1, c_{k+1} = ⌊c_k/r⌋ + 2) — kept as the fixture the closed
    * form is spec-pinned against for guarantee + closeness. */
  def lengthBandWalk(len: Int, r: Double): Int = {
    if (len <= 0) return -1
    var c = 1L
    var k = 0
    var next = math.floor(c / r).toLong + 2
    while (len >= next) { c = next; k += 1; next = math.floor(c / r).toLong + 2 }
    k
  }

  // ---- LayoutKernels.morton2 ----

  /** Compact the even bit positions of `x` back into 32 contiguous
    * bits — the inverse of `LayoutKernels.spread`'s dilation ladder.
    */
  private def compact(x0: Long): Long = {
    var x = x0 & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x
  }

  /** Inverse of [[LayoutKernels.morton2]]: the (a, b) coordinates a key
    * encodes — what a skipping analyzer uses to turn a file's
    * [minKey, maxKey] back into the rectangle it covers.
    */
  def unmorton2(z: Long): (Int, Int) = {
    val u = z ^ Long.MinValue
    val a = compact(u).toInt ^ Int.MinValue
    val b = compact(u >>> 1).toInt ^ Int.MinValue
    (a, b)
  }

  // ---- fixture encoders ----

  /** ASCIIHex with the `>` terminator (the PDF filter's encoder). */
  def asciiHex(data: Array[Byte]): Array[Byte] =
    (data.map("%02x".format(_)).mkString + ">").getBytes("US-ASCII")

  /** A RAR 4.x archive: marker block, main header (`encrypted` sets
    * the encrypted-headers flag and stops there), `nFiles` file blocks
    * with ADD_SIZE data areas, end block; header CRCs are real. */
  def buildRar4(nFiles: Int,
                encrypted: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Rar4Magic)
    def block(tpe: Int, flags: Int, extra: Array[Byte],
              data: Array[Byte]): Unit = {
      val withAdd = (flags & 0x8000) != 0
      val hsize = 7 + (if (withAdd) 4 else 0) + extra.length
      val hdr = new Array[Byte](hsize)
      hdr(2) = tpe.toByte
      hdr(3) = (flags & 0xff).toByte; hdr(4) = ((flags >> 8) & 0xff).toByte
      hdr(5) = (hsize & 0xff).toByte; hdr(6) = ((hsize >> 8) & 0xff).toByte
      if (withAdd)
        (0 until 4).foreach(k =>
          hdr(7 + k) = ((data.length >> (8 * k)) & 0xff).toByte)
      System.arraycopy(extra, 0, hdr, 7 + (if (withAdd) 4 else 0),
        extra.length)
      val c = new java.util.zip.CRC32
      c.update(hdr, 2, hsize - 2)
      hdr(0) = (c.getValue & 0xff).toByte
      hdr(1) = ((c.getValue >> 8) & 0xff).toByte
      out.write(hdr)
      out.write(data)
    }
    block(0x73, if (encrypted) 0x0080 else 0, new Array[Byte](6),
      Array.emptyByteArray)
    if (!encrypted) {
      (0 until nFiles).foreach { i =>
        block(0x74, 0x8000, new Array[Byte](18),
          Array.tabulate[Byte](16 + i)(k => (k * 5).toByte))
      }
      block(0x7B, 0, Array.emptyByteArray, Array.emptyByteArray)
    }
    out.toByteArray
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.bitset.BitSetMethods
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the `shingle_hashes64` and
  * `minhashes` kernels — called from generated Java, so
  * they must stay public static with primitive-friendly signatures.
  */
object MinHashKernels {

  private final val Seed = 42L

  /** Distinct, sorted 64-bit hashes of the n-char shingles of `s`.
    * Single pass over the UTF-8 bytes: char start offsets are computed
    * once, each window hashed directly from the byte buffer.
    * Strings of <= n chars hash whole (so short docs still participate).
    */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val numBytes = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numChars = s.numChars()
    if (numChars <= n)
      return UnsafeArrayData.fromPrimitiveArray(
        Array(XXH64.hashUnsafeBytes(base, off, numBytes, Seed)))

    // byte offset of each char start (+ end sentinel), one linear walk
    val offs = new Array[Int](numChars + 1)
    var c = 0
    var p = 0
    while (p < numBytes) {
      offs(c) = p
      p += UTF8String.numBytesForFirstByte(org.apache.spark.unsafe.Platform.getByte(base, off + p))
      c += 1
    }
    offs(numChars) = numBytes

    val m = numChars - n + 1
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      hashes(i) = XXH64.hashUnsafeBytes(
        base, off + offs(i), offs(i + n) - offs(i), Seed)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    // in-place dedup of the sorted array
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hashes(i) != hashes(w - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) hashes else java.util.Arrays.copyOf(hashes, w))
  }

  /** Exact Jaccard of two sorted-distinct long arrays (the
    * [[shingleHashes]] representation): one linear merge, no per-row
    * hash-set construction (which is what `array_intersect` +
    * `array_union` cost per candidate pair). A NULL element fails
    * loudly, naming its index.
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double =
    sortedJaccardAtLeast(a, b, 0.0)

  /** [[denseJaccardAtLeast]] with [[sortedJaccard]]'s NULL check. */
  def sortedJaccardAtLeast(a: ArrayData, b: ArrayData, atLeast: Double): Double = {
    requireDense(a); requireDense(b)
    denseJaccardAtLeast(a, b, atLeast)
  }

  /** [[sortedJaccard]] without the NULL check, for arrays whose type
    * declares `containsNull = false` (as [[shingleHashes]]'s does), and
    * for a caller that keeps only scores of at least `atLeast`: the
    * exact score when it reaches `atLeast`, otherwise a value below
    * `atLeast` (an upper bound of the score).
    *
    * The merge stops once the largest intersection it can still reach,
    * `inter + min(n - i, m - j)`, scores below `atLeast`; before the
    * first step that is the length bound `min(n, m) / max(n, m)`. The
    * bound is computed with the same double division as the score, and
    * a correctly rounded division of exact ints is monotone in the
    * intersection, so a pair whose score reaches `atLeast` is never cut
    * short, and every pair merged to the end gets the exact score.
    * `atLeast <= 0` never stops early.
    */
  def denseJaccardAtLeast(a: ArrayData, b: ArrayData, atLeast: Double): Double = {
    val n = a.numElements(); val m = b.numElements()
    if (n + m == 0) return 0.0
    val top = score(math.min(n, m), n + m)
    if (top < atLeast) return top
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val va = a.getLong(i); val vb = b.getLong(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else {
        if (va < vb) i += 1 else j += 1
        val reach = score(inter + math.min(n - i, m - j), n + m)
        if (reach < atLeast) return reach
      }
    }
    score(inter, n + m)
  }

  /** Jaccard of sets of total size `total` sharing `inter` elements. */
  private def score(inter: Int, total: Int): Double =
    inter.toDouble / (total - inter)

  private def requireDense(a: ArrayData): Unit = {
    val c = firstNull(a)
    if (c >= 0) throw new IllegalArgumentException(
      s"sorted_jaccard: null element at index $c — shingle-hash arrays must be dense")
  }

  /** Index of the first NULL element, or -1. An unsafe array's null
    * bitmap (after its 8-byte element count) is scanned 64 bits at a
    * time, instead of one `isNullAt` per element. */
  private def firstNull(a: ArrayData): Int = {
    val n = a.numElements()
    val c = a match {
      case u: UnsafeArrayData =>
        BitSetMethods.nextSetBit(u.getBaseObject, u.getBaseOffset + 8, 0, (n + 63) / 64)
      case _ => (0 until n).indexWhere(a.isNullAt)
    }
    if (c < n) c else -1
  }

  /** K MinHash family members: member k = min_h xxh64(h, seed=k). */
  def minHashes(arr: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var kk = 0
      while (kk < k) {
        val m = XXH64.hashLong(h, kk)
        if (m < mins(kk)) mins(kk) = m
        kk += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

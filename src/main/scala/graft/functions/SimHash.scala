package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array (Charikar 2002, "Similarity
  * estimation techniques from rounding algorithms"): each token is hashed
  * to 64 bits; per bit position the votes (+1 / -1) are summed; the sign
  * of each counter becomes the output bit. Near-duplicate documents land
  * within a small Hamming distance (use `bit_count(a ^ b)`).
  *
  * Deterministic (fixed seeds), no state, O(tokens) — safe to run inside
  * whole-stage codegen over billions of documents.
  */
object SimHash {

  /** Codegen entry point — static, called from generated Java. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        // two independent 32-bit murmur3 halves -> one 64-bit token hash
        val lo = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 0x9747b28c)
        val hi = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 0x85ebca6b)
        val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Single-pass variant: lowercase + whitespace-tokenize + sketch in one
    * walk over the UTF-8 bytes (multi-byte chars never contain ASCII
    * bytes, so byte-level whitespace splitting is safe). Avoids the
    * regex split + per-token array materialization of the column route.
    */
  def simhashText64(text: UTF8String): Long = {
    val s = text.toLowerCase
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes()
    val counts = new Array[Int](64)
    var any = false
    var p = 0
    var tokStart = 0
    def addToken(from: Int, until: Int): Unit = {
      if (until > from) {
        any = true
        val len = until - from
        val lo = Murmur3_x86_32.hashUnsafeBytes(base, off + from, len, 0x9747b28c)
        val hi = Murmur3_x86_32.hashUnsafeBytes(base, off + from, len, 0x85ebca6b)
        val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    while (p < numBytes) {
      val byte = org.apache.spark.unsafe.Platform.getByte(base, off + p)
      val isWs = byte == ' ' || byte == '\t' || byte == '\n' || byte == 0x0b ||
        byte == '\f' || byte == '\r'
      if (isWs) { addToken(tokStart, p); tokStart = p + 1 }
      p += 1
    }
    addToken(tokStart, numBytes)
    if (!any) return 0L
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernels: the distributed-apply half of the BPE
  * tokenizer ([[graft.operators.Bpe]] holds the trainer). The encode
  * path is the piece that actually runs at corpus scale — one codegen
  * pass per document with the learned merge ranks on the driver-built
  * expression — while training touches only the Zipf-bounded word
  * dictionary.
  *
  * Exact contract (shared bit-for-bit with the trainer and the DuckDB
  * oracle, so every step is pinned):
  *  - normalization: UTF8String.toLowerCase of the trimmed text (the
  *    same lowering `functions.lower` applies), split on the 6 ASCII
  *    whitespace bytes, empty tokens dropped;
  *  - initial symbols: Unicode CODE POINTS (matching DuckDB's
  *    character semantics — a UTF-16 split would tear surrogate
  *    pairs);
  *  - one merge = ONE greedy left-to-right non-overlapping pass
  *    replacing adjacent (a, b) with a+b; merges apply in rank order.
  */
object BpeKernels {

  /** Code points of `word` as individual strings. */
  def codepointSymbols(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One greedy left-to-right merge pass of (a, b) -> a+b. */
  def mergePass(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Whitespace tokens of the lowercased text — [ \t\n\x0B\f\r]+,
    * empties dropped; lowering via UTF8String to match `lower()`. */
  def words(text: UTF8String): Array[String] = {
    val s = text.toLowerCase.toString
    s.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
  }

  /** Full encode: tokenize, then per word apply the ranked merges.
    * Static entry point for the codegen of
    * `bpe_tokens` kernel. */
  def tokens(text: UTF8String, mergesA: Array[String],
             mergesB: Array[String]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var w = 0
    val ws = words(text)
    while (w < ws.length) {
      var syms = codepointSymbols(ws(w))
      var r = 0
      while (r < mergesA.length) {
        syms = mergePass(syms, mergesA(r), mergesB(r))
        r += 1
      }
      var i = 0
      while (i < syms.length) { out += UTF8String.fromString(syms(i)); i += 1 }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: a trainer over the word dictionary +
  * corpus-scale encoder ([[graft.functions.BpeKernels]] via the
  * codegen `bpe_tokens` kernel).
  *
  * Scale shape: training never touches the corpus after ONE
  * tokenize+count shuffle — every iteration runs over the DISTINCT
  * word dictionary (Zipf-bounded: orders of magnitude smaller than the
  * corpus, and at 100 TB you additionally cap it to the top-K words by
  * count, which is what every production tokenizer trainer does).
  * Merge selection is inherently sequential (each merge depends on the
  * previous), so the per-merge argmax on the driver is the algorithm,
  * not a shortcut. Encoding is embarrassingly parallel: the learned
  * merges ride the expression to every executor and each document is
  * one codegen pass.
  *
  * Exactness: every merge is the greedy left-to-right non-overlapping
  * [[graft.functions.BpeKernels.mergePass]]. The DuckDB oracle replays
  * it as `replace` on a doubled-separator symbol string — one
  * `\na\n\nb\n` -> `\nab\n` replacement IS that pass (boundaries are
  * shared, never consumed — property-checked against the array kernel
  * in BpeSpec). Pair counts include overlapping occurrences ("aaa"
  * counts (a,a) twice); ties break on (count DESC, a ASC, b ASC) —
  * Spark and DuckDB both order strings by UTF-8 bytes, so the
  * tie-break is collation-safe.
  */
object Bpe {

  private val WsClass = "[ \\t\\n\\x0B\\f\\r]+"

  /** The word dictionary of `textCol`: one row per distinct
    * lowercased whitespace token, with its corpus count. */
  def wordDict(docs: DataFrame, textCol: String): DataFrame = {
    docs
      .select(explode(split(lower(trim(col(textCol))), WsClass)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
  }

  /** Train `numMerges` merges; returns them in rank order. Stops early
    * if the dictionary runs out of adjacent pairs.
    *
    * `maxDictWords` caps the dictionary to the top-K words by count
    * (ties broken by word, so the cap is deterministic) — the standard
    * 100 TB move: the Zipf tail contributes negligible pair mass, and
    * the cap bounds every iteration's cost regardless of corpus size.
    * The default keeps every word (exact classic BPE).
    *
    * One merge loop ([[mergeLoop]]) runs wherever the dictionary
    * lives. `localDictLimit` is the driver-memory BUDGET for the
    * dictionary: when the (capped) dictionary has at most this many
    * words, it is collected and each merge is a driver-local
    * [[Words.merge]] — the declared-budget pattern `Dedup.dupClusters`
    * established. Over the budget (or when a caller forces 0, as
    * `q_bpe_train_capped` does to keep this placement oracle-checked)
    * the words stay in a persisted RDD of per-partition [[Words]]
    * blocks: one census job, then ONE job per merge, in which every
    * partition applies the same [[Words.merge]] and returns only its
    * pair-count change. Each generation is `localCheckpoint`ed and the
    * previous one released, as `Graph.pageRank` does. Both placements
    * select identical merge sequences; BpeSpec pins each against the
    * same independent reference, over 1 and 7 partitions.
    *
    * Memory: in both placements the exact pair counts live in one
    * driver map, so the driver holds one entry per distinct adjacent
    * symbol pair of the dictionary — bounded by the pair vocabulary,
    * not by corpus size or dictionary rows. The RDD placement keeps
    * the words themselves on the executors.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxDictWords: Int = Int.MaxValue,
            localDictLimit: Int = 1 << 16): Seq[(String, String)] = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    require(maxDictWords >= 1, s"maxDictWords must be >= 1, got $maxDictWords")
    require(localDictLimit >= 0, s"localDictLimit must be >= 0, got $localDictLimit")
    val full = wordDict(docs, textCol)
    val capped = if (maxDictWords == Int.MaxValue) full
      else full.orderBy(desc("cnt"), asc("w")).limit(maxDictWords)
    if (localDictLimit > 0) {
      // ONE census job gates AND fetches: collect limit+1 rows — if the
      // budget row arrives, the dictionary is over budget and the rows
      // are discarded for the RDD placement (a separate count() would
      // run the corpus-wide census twice back-to-back)
      val probe = capped.limit(localDictLimit + 1).collect()
      if (probe.length <= localDictLimit) {
        var words = Words(probe.iterator.map(r => (r.getString(0), r.getLong(1))))
        val pc = newPairs()
        words.census(pc)
        return mergeLoop(pc, numMerges) { (a, b) => words = words.merge(a, b, pc) }
      }
    }
    var gen = capped.queryExecution.toRdd
      .mapPartitions { rows =>
        val w = Words(rows.map(r => (r.getUTF8String(0).toString, r.getLong(1))))
        val d = newPairs()
        w.census(d)
        Iterator((w, d))
      }
      .localCheckpoint()
    try {
      val pc = newPairs()
      def addAll(): Unit =
        gen.map(_._2).collect().foreach(_.foreach { case (k, c) => addPair(pc, k, c) })
      addAll()
      mergeLoop(pc, numMerges) { (a, b) =>
        val prev = gen
        gen = prev.map { case (w, _) =>
          val d = newPairs()
          (w.merge(a, b, d), d)
        }.localCheckpoint()
        addAll()
        prev.unpersist(blocking = false)
      }
    } finally gen.unpersist(blocking = false)
  }

  /** Exact pair counts: (a, b) -> weighted occurrences, zeros removed. */
  private type Pairs = scala.collection.mutable.HashMap[(String, String), Long]

  private def newPairs(): Pairs = scala.collection.mutable.HashMap.empty

  private def addPair(pc: Pairs, k: (String, String), c: Long): Unit = {
    val v = pc.getOrElse(k, 0L) + c
    if (v == 0L) pc.remove(k) else pc(k) = v
  }

  /** A block of dictionary words as code-point symbol arrays with their
    * corpus counts: the whole dictionary on the driver, or one
    * partition of it. */
  private final class Words(val syms: Array[Array[String]], val cnts: Array[Long])
      extends Serializable {

    /** Adds every adjacent pair of `s` (overlaps included), weighted
      * `c`, to `pc`. */
    private def add(pc: Pairs, s: Array[String], c: Long): Unit = {
      var i = 0
      while (i < s.length - 1) { addPair(pc, (s(i), s(i + 1)), c); i += 1 }
    }

    /** Adds the pairs of every word, weighted by its count, to `pc`. */
    def census(pc: Pairs): Unit = syms.indices.foreach(i => add(pc, syms(i), cnts(i)))

    /** The merge step both placements share: every word holding the
      * adjacent pair (a, b) has its pairs subtracted from `pc`, is
      * greedy-merged by the shared [[graft.functions.BpeKernels
      * .mergePass]] kernel, and has its new pairs added back (a
      * word-level recount, so overlaps and `aaa`-style self-runs come
      * out right by construction). Copy-on-write: this block is left
      * as it was, so a cached generation is never changed. */
    def merge(a: String, b: String, pc: Pairs): Words = {
      var out = syms
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        var j = 0
        var hit = false
        while (!hit && j < s.length - 1) {
          hit = s(j) == a && s(j + 1) == b; j += 1
        }
        if (hit) {
          if (out eq syms) out = syms.clone()
          add(pc, s, -cnts(i))
          out(i) = graft.functions.BpeKernels.mergePass(s, a, b)
          add(pc, out(i), cnts(i))
        }
        i += 1
      }
      if (out eq syms) this else new Words(out, cnts)
    }
  }

  private object Words {
    def apply(words: Iterator[(String, Long)]): Words = {
      val ws = words.toArray
      new Words(ws.map(w => graft.functions.BpeKernels.codepointSymbols(w._1)),
        ws.map(_._2))
    }
  }

  /** The driver loop both placements share: exact `Long` pair counts
    * in `pc`, argmax on (count DESC, a ASC, b ASC) with the tie-break
    * on UTF8String binary order — definitionally Spark's and DuckDB's
    * string ordering — then `merge(a, b)`, which must fold the merge's
    * pair-count change into `pc`. */
  private def mergeLoop(pc: Pairs, numMerges: Int)(
      merge: (String, String) => Unit): Seq[(String, String)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def u8lt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < numMerges && pc.nonEmpty) {
      var bk: (String, String) = null
      var bc = 0L
      pc.foreach { case (k, c) =>
        if (bk == null || c > bc ||
            (c == bc && (u8lt(k._1, bk._1) ||
              (k._1 == bk._1 && u8lt(k._2, bk._2))))) { bk = k; bc = c }
      }
      merges += bk
      merge(bk._1, bk._2)
    }
    merges.toSeq
  }

  /** Encoded token array of `text` under ranked `merges` — the
    * corpus-scale apply (one codegen pass per document). */
  def tokens(text: Column, merges: Seq[(String, String)]): Column = {
    org.apache.spark.sql.Kernels.bpeTokens(text,
      merges.map(_._1).toArray, merges.map(_._2).toArray)
  }

  /** The normalized whitespace tokens of `text` as a column — the same
    * tokenization the trainer, the encode kernel, and the oracle use. */
  def wordsCol(text: Column): Column =
    filter(split(lower(trim(text)), WsClass), x => x =!= "")
}

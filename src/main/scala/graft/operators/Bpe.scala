package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: distributed trainer over the word
  * dictionary + corpus-scale encoder ([[graft.functions.BpeKernels]]
  * via the codegen `bpe_tokens` kernel).
  *
  * Scale shape: training never touches the corpus after ONE
  * tokenize+count shuffle — every iteration runs over the DISTINCT
  * word dictionary (Zipf-bounded: orders of magnitude smaller than the
  * corpus, and at 100 TB you additionally cap it to the top-K words by
  * count, which is what every production tokenizer trainer does). The
  * per-iteration argmax is one LIMIT-1 collect — merge selection is
  * inherently sequential (each merge depends on the previous), so
  * that driver round-trip is the algorithm, not a shortcut. Encoding
  * is embarrassingly parallel: the learned merges ride the expression
  * to every executor and each document is one codegen pass.
  *
  * Exactness: the merge-application step is `replace` on a
  * doubled-separator symbol string — one `\na\n\nb\n` -> `\nab\n`
  * replacement IS the greedy left-to-right non-overlapping merge pass
  * (boundaries are shared, never consumed — property-checked against
  * the array kernel in BpeSpec), and the same replace runs verbatim in
  * the DuckDB oracle. `\n` can never appear inside a symbol because
  * words are whitespace-split. Pair counts include overlapping
  * occurrences ("aaa" counts (a,a) twice); ties break on (count DESC,
  * a ASC, b ASC) — Spark and DuckDB both order strings by UTF-8
  * bytes, so the tie-break is collation-safe.
  */
object Bpe {

  private val Sep = "\n"
  private val WsClass = "[ \\t\\n\\x0B\\f\\r]+"

  /** Re-checkpoint cadence for the trainer's dict and pair-count
    * frames: between boundaries the lineage grows by one narrow
    * projection (dict) / one broadcast join + union (pairs) per merge,
    * so analysis stays cheap, and a larger cadence amortizes the full
    * materialization cost of a checkpoint over more merges. */
  private val CkptEvery = 8

  /** The word dictionary of `textCol`: one row per distinct
    * lowercased whitespace token, with its corpus count and initial
    * symbol string (code points, doubled-separator form). */
  def wordDict(docs: DataFrame, textCol: String): DataFrame = {
    docs
      .select(explode(split(lower(trim(col(textCol))), WsClass)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("r",
        org.apache.spark.sql.Kernels.bpeInitRepr(col("w")))
  }

  /** Adjacent symbol pairs of `r`, exploded one row per occurrence
    * (overlaps included) and weighted `wt` — the shared building block
    * of the initial pair census and the per-merge deltas. */
  private def pairsWeighted(dict: DataFrame, wt: Column): DataFrame =
    dict
      .select(wt.as("wt"),
        filter(split(col("r"), Sep + Sep), x => x =!= "").as("s"))
      .select(col("wt"), explode(when(size(col("s")) > 1,
        transform(sequence(lit(1), size(col("s")) - 1), i =>
          struct(element_at(col("s"), i).as("a"),
            element_at(col("s"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("wt"))

  /** Train `numMerges` merges; returns them in rank order. Stops early
    * if the dictionary runs out of adjacent pairs.
    *
    * `maxDictWords` caps the dictionary to the top-K words by count
    * (ties broken by word, so the cap is deterministic) — the standard
    * 100 TB move: the Zipf tail contributes negligible pair mass, and
    * the cap bounds every iteration's cost regardless of corpus size.
    * The default keeps every word (exact classic BPE).
    *
    * `localDictLimit` is the driver-memory BUDGET for the in-memory
    * fast path: when the (capped) dictionary has at most this many
    * words, it is collected and merge iteration runs in plain
    * collections ([[trainLocal]]) — the declared-budget pattern
    * `Dedup.dupClusters` established. 0 forces the distributed
    * incremental path (what `q_bpe_train_capped` does, keeping it
    * oracle-checked). Both paths select identical merge sequences;
    * BpeSpec pins each against the same independent reference.
    *
    * Pair counts are maintained INCREMENTALLY: the full explode+count
    * census runs once, and each merge then updates only the words that
    * contain the just-merged pair — subtract every old pair of an
    * affected word, add back every new one (a word-level recount, so
    * exactness needs no occurrence-level adjacency bookkeeping; ties,
    * overlaps, and `aaa`-style self-runs come out right by
    * construction). The maintained frame is updated by a broadcast
    * LEFT join (never reshuffled): a pair's count can only INCREASE if
    * the pair involves the fresh symbol `a+b`, so net-new pairs are
    * exactly the positive-delta `a+b` pairs absent from the frame —
    * and `a+b` may already exist as a symbol via a different merge
    * path (`x·yz` and `xy·z` both yield `xyz`), which is why the fresh
    * branch anti-joins against the frame's `a+b` rows instead of
    * assuming novelty. Deltas and fresh rows are eagerly checkpointed
    * (they are dictionary-delta-sized, bounded by `maxDictWords` at
    * 100 TB) so the maintained frame's lineage stays a LINEAR chain of
    * broadcast joins over cached leaves; dict and frame re-checkpoint
    * every [[CkptEvery]] merges and superseded checkpoints are
    * unpersisted (`GraftBridge.unpersistCheckpoint`) so storage holds
    * O(1) generations, not O(numMerges). Per-merge cost is one narrow
    * dict scan + explode over AFFECTED words only — production-trainer
    * shape — vs the previous full-dictionary recount per merge.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxDictWords: Int = Int.MaxValue,
            localDictLimit: Int = 1 << 16): Seq[(String, String)] = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    require(maxDictWords >= 1, s"maxDictWords must be >= 1, got $maxDictWords")
    require(localDictLimit >= 0, s"localDictLimit must be >= 0, got $localDictLimit")
    import org.apache.spark.sql.GraftBridge.unpersistCheckpoint
    val full = wordDict(docs, textCol)
    val capped = if (maxDictWords == Int.MaxValue) full
      else full.orderBy(desc("cnt"), asc("w")).limit(maxDictWords)
    // Driver-local fast path — the same DECLARED BUDGET pattern as
    // dupClusters' union-find (Dedup.scala): once the corpus collapses
    // to its distinct-word dictionary and that dictionary fits the
    // budget, merge iteration in memory is what every production
    // trainer does, and the distributed loop's per-merge job overhead
    // (argmax + delta jobs) would dominate a small dictionary by 5×.
    // The distributed incremental path below remains the 100 TB
    // configuration (uncapped giant dictionaries), stays hash-checked
    // by q_bpe_train_capped forcing localDictLimit = 0, and BpeSpec
    // pins both paths against the same in-memory reference.
    if (localDictLimit > 0) {
      // ONE census job gates AND fetches: collect limit+1 rows — if the
      // budget row arrives, the dictionary is over budget and the rows
      // are discarded for the distributed path (a separate count()
      // would run the corpus-wide census twice back-to-back)
      val probe = capped.select(col("w"), col("cnt"))
        .limit(localDictLimit + 1).collect()
      if (probe.length <= localDictLimit) {
        val d = probe.map(r => (r.getString(0), r.getLong(1)))
        return trainLocal(d, numMerges)
      }
    }
    var dict = capped.localCheckpoint()
    // the maintained (a, b, c) pair-count frame: full census once
    var pc = pairsWeighted(dict, col("cnt"))
      .groupBy("a", "b").agg(sum("wt").as("c"))
      .localCheckpoint()
    // checkpoints superseded at the NEXT cadence boundary (they are
    // still referenced by the un-checkpointed lineage until then)
    var retired = List(dict, pc)
    var pending = List.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // symbols created by merges so far: a fresh symbol `a+b` has >= 2
    // code points, so it can collide with an EXISTING symbol only if a
    // previous merge built the same string via a different split
    // (initial symbols are single code points) — when it provably
    // cannot, the fresh branch skips its anti-join and checkpoint job
    val created = scala.collection.mutable.Set.empty[String]
    var exhausted = false
    var sinceCkpt = 0
    while (merges.size < numMerges && !exhausted) {
      val best = pc.orderBy(desc("c"), asc("a"), asc("b")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val ab = a + b
        val pat = Sep + a + Sep + Sep + b + Sep
        val rep = Sep + ab + Sep
        val affected = dict.filter(col("r").contains(pat))
        val after = affected.withColumn("r", replace(col("r"), lit(pat), lit(rep)))
        // word-level recount of the affected words only; eager so the
        // two affected scans run exactly once
        val delta = pairsWeighted(affected, -col("cnt"))
          .unionAll(pairsWeighted(after, col("cnt")))
          .groupBy("a", "b").agg(sum("wt").as("dc"))
          .filter(col("dc") =!= 0)
          .localCheckpoint()
        // net-new pairs must involve the fresh symbol; when `ab` might
        // collide with a same-string symbol from a different merge
        // path, anti-join the frame's ab-rows (eager, so the frame's
        // lineage references pc once, not exponentially through the
        // anti-join's pc scan) — otherwise every candidate is provably
        // novel and the filter alone suffices (single cached-delta
        // reference: no extra job, no checkpoint)
        val freshCand = delta
          .filter((col("a") === ab || col("b") === ab) && col("dc") > 0)
          .select(col("a"), col("b"), col("dc").as("c"))
        val fresh =
          if (created.contains(ab))
            freshCand.join(broadcast(
                pc.filter(col("a") === ab || col("b") === ab).select("a", "b")),
              Seq("a", "b"), "left_anti")
              .localCheckpoint()
          else freshCand
        created += ab
        pending = delta :: fresh :: pending
        pc = pc.join(broadcast(delta), Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("c") + coalesce(col("dc"), lit(0L))).as("c"))
          .filter(col("c") > 0)
          .unionAll(fresh)
        dict = dict.withColumn("r", replace(col("r"), lit(pat), lit(rep)))
        sinceCkpt += 1
        if (sinceCkpt >= CkptEvery && merges.size < numMerges) {
          dict = dict.localCheckpoint()
          pc = pc.localCheckpoint()
          (retired ++ pending).foreach(unpersistCheckpoint)
          retired = List(dict, pc)
          pending = Nil
          sinceCkpt = 0
        }
      }
    }
    (retired ++ pending).foreach(unpersistCheckpoint)
    merges.toSeq
  }

  /** In-memory trainer over a collected (word, count) dictionary — the
    * driver-local path of [[train]]. Same spec, plain collections:
    * code-point initial symbols, overlap-counting pair census
    * maintained INCREMENTALLY (subtract an affected word's pairs,
    * greedy-merge it via the shared [[graft.functions.BpeKernels
    * .mergePass]] kernel, add the new pairs back), argmax on
    * (count DESC, a ASC, b ASC) with the tie-break on UTF8String
    * binary order — definitionally Spark's string ordering, so both
    * paths select identical merge sequences (BpeSpec pins both
    * against the independent reference). */
  private def trainLocal(dict: Array[(String, Long)],
                         numMerges: Int): Seq[(String, String)] = {
    import graft.functions.BpeKernels
    import org.apache.spark.unsafe.types.UTF8String
    def u8lt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val syms = dict.map { case (w, _) => BpeKernels.codepointSymbols(w) }
    val cnts = dict.map(_._2)
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def addPairs(s: Array[String], c: Long): Unit = {
      var i = 0
      while (i < s.length - 1) {
        val k = (s(i), s(i + 1))
        val v = pc.getOrElse(k, 0L) + c
        if (v == 0L) pc.remove(k) else pc(k) = v
        i += 1
      }
    }
    syms.indices.foreach(i => addPairs(syms(i), cnts(i)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < numMerges && pc.nonEmpty) {
      var bk: (String, String) = null
      var bc = 0L
      pc.foreach { case (k, c) =>
        if (bk == null || c > bc ||
            (c == bc && (u8lt(k._1, bk._1) ||
              (k._1 == bk._1 && u8lt(k._2, bk._2))))) { bk = k; bc = c }
      }
      val (a, b) = bk
      merges += bk
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        var j = 0
        var hit = false
        while (!hit && j < s.length - 1) {
          hit = s(j) == a && s(j + 1) == b; j += 1
        }
        if (hit) {
          addPairs(s, -cnts(i))
          syms(i) = BpeKernels.mergePass(s, a, b)
          addPairs(syms(i), cnts(i))
        }
        i += 1
      }
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

package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet-style perplexity
  * filter: train a bigram LM on a reference corpus, score every
  * document by its mean per-bigram log-probability, and gate or bucket
  * on the score. Documents whose word sequences the reference model
  * finds improbable (gibberish, boilerplate soup, wrong language) score
  * low; fluent text scores high. This is the classic crawl-quality
  * signal next to the rule-based Gopher and C4 suites
  * (`TF.gopherRules`, `TF.c4Rules`).
  *
  * Model: add-α smoothed conditional bigram probabilities,
  * P(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V), with c(w₁·) the count of
  * w₁ as a bigram head and V the training vocabulary size. Bigrams
  * below `minCount` are pruned from the model (the count-pruning real
  * KenLM deployments ship) and scored through the same smoothing
  * formula with c = 0, as are bigrams never seen in training.
  *
  * Scale shape: training is two hash aggregates over the exploded
  * bigram stream (map-side partial, gram strings collapse to counts
  * before the exchange); scoring joins each document's bigram stream
  * against the broadcast model (reference LMs are a fixed artifact,
  * pruned to O(10⁷) rows). The scored stream re-aggregates to one row
  * per document.
  */
object LmQuality {

  /** A trained bigram model: pruned bigram counts, head counts, and the
    * scalar vocabulary size / smoothing weight baked into the scoring
    * formula. Both count frames read the checkpointed count table
    * [[train]] materializes.
    */
  final case class LmModel(bigrams: DataFrame, heads: DataFrame,
                           vocabSize: Long, alpha: Double)

  /** Train on `corpus`. One pass to count bigrams and heads, one tiny
    * distinct-count for V (the only driver-side scalar).
    *
    * The distinct-bigram count table is eagerly localCheckpointed (the
    * pattern `Decontaminate.overlapBloom` uses): the corpus-scale
    * bigram aggregate runs ONCE, and both the pruned bigram frame and
    * the head derivation read the materialized counts — unmaterialized,
    * the subplan re-evaluates once per consuming branch (no exchange
    * reuse across the two), one extra corpus pass. (localCheckpoint is
    * executor-local — on a real cluster a reliable `checkpoint()`/write
    * is the durable variant.)
    */
  def train(corpus: DataFrame, textCol: String,
            alpha: Double = 0.5, minCount: Int = 1): LmModel = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val bg = corpus.select(explode(Kernels.wordNgramsAll(col(textCol), 2)).as("__b"))
    // heads derive from the DISTINCT-bigram count table (tiny next to
    // the raw stream) — the head aggregation's input shrinks from every
    // bigram occurrence to every distinct bigram
    val c2all = bg.groupBy(col("__b")).agg(count(lit(1)).as("__n2all"))
      .localCheckpoint(true)
    val bigrams = c2all.filter(col("__n2all") >= minCount)
      .select(col("__b"), col("__n2all").as("__n2"))
    // head counts stay UNPRUNED: pruning removes rare continuations
    // from the numerator, not mass from the denominator
    val heads = c2all
      .groupBy(substring_index(col("__b"), " ", 1).as("__w1"))
      .agg(sum(col("__n2all")).as("__n1"))
    val v = corpus.select(explode(TF.tokens(col(textCol))).as("__w"))
      .agg(countDistinct(col("__w"))).head().getLong(0)
    LmModel(bigrams, heads, math.max(v, 1L), alpha)
  }

  /** Score every document of `docs` under `model`: (id, n_bigrams,
    * avg_logprob), avg_logprob rounded to 6. Documents with fewer than
    * two tokens carry no bigrams and are absent (left-join them back to
    * quarantine). Unseen bigrams and unseen heads score through the
    * smoothing formula (never NULL, never -∞ — α > 0 guarantees it).
    */
  def score(docs: DataFrame, textCol: String, idCol: String,
            model: LmModel): DataFrame = {
    val av = lit(model.alpha * model.vocabSize)
    docs
      .select(col(idCol).as("id"),
        explode(Kernels.wordNgramsAll(col(textCol), 2)).as("__b"))
      .join(broadcast(model.bigrams), Seq("__b"), "left")
      .withColumn("__w1", substring_index(col("__b"), " ", 1))
      .join(broadcast(model.heads), Seq("__w1"), "left")
      .withColumn("__lp", log(
        (coalesce(col("__n2"), lit(0L)) + lit(model.alpha)) /
          (coalesce(col("__n1"), lit(0L)) + av)))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(col("__lp")), 6).as("avg_logprob"))
  }

  /** Self-scoring convenience: train and score on the same corpus (the
    * corpus-relative fluency ranking used when no external reference
    * model exists).
    */
  def selfScore(docs: DataFrame, textCol: String, idCol: String,
                alpha: Double = 0.5, minCount: Int = 1): DataFrame =
    score(docs, textCol, idCol, train(docs, textCol, alpha, minCount))
}

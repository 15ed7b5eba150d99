package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Importance weighting for domain-targeted data selection (the DSIR
  * shape: Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling" — hashed n-gram features, a target/source
  * bucket-distribution ratio, per-document importance scores, then
  * selection by weight).
  *
  * Scale shape: fitting touches each corpus once (explode words ->
  * one hash-aggregate over `buckets` cells — the model IS `buckets`
  * doubles, broadcast everywhere); scoring is a narrow pass per
  * document (explode -> broadcast-join the tiny ratio table -> one
  * partial-aggregated mean). Nothing quadratic, nothing iterative; a
  * 100 TB source corpus costs two scans total (fit + score).
  *
  * Exactness: buckets come from `xxhash64(word) pmod buckets` (the
  * engine's standard seeded hash — the DuckDB oracle replays it
  * bit-for-bit via OracleSqlGen); ratios are ln of integer-derived
  * quotients (IEEE divides are exactly reproducible; ln agrees to
  * rounding precision — the same contract q_lm_score has held since
  * round 4). Selection ranks on the ROUNDED score with a doc-id
  * tie-break, so rank boundaries never depend on last-ulp noise.
  */
object Importance {

  /** Hashed-unigram feature bucket of a word. */
  def bucket(word: Column, buckets: Int): Column =
    pmod(xxhash64(word), lit(buckets.toLong))

  private def wordBuckets(docs: DataFrame, textCol: String,
                          buckets: Int): DataFrame =
    docs.select(explode(Bpe.wordsCol(col(textCol))).as("w"))
      .select(bucket(col("w"), buckets).as("b"))

  /** Per-bucket log importance ratios λ_b = ln(p_target(b)) −
    * ln(p_source(b)) with add-one smoothing — `buckets` rows, the
    * whole model.
    *
    * The ratio frame is eagerly localCheckpointed: the model is
    * ≤ `buckets` rows but its PLAN contains two corpus-wide fit
    * aggregations, and every downstream reference (the score join, a
    * calibration min/max, a gate threshold) would re-expand that plan
    * — q_score_gate's un-materialized plan carried the fit subtree 4×
    * (126 Exchange nodes at sf0.001). On a real cluster prefer writing
    * the model or `checkpoint()` — localCheckpoint state dies with an
    * executor. The cached RDD is reachable only through the returned
    * frame, and Spark's ContextCleaner unpersists it once the frame is
    * garbage-collected. */
  def fitLogRatios(target: DataFrame, source: DataFrame, textCol: String,
                   buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 24),
      s"buckets must be in [2, 2^24], got $buckets")
    val spark = target.sparkSession
    val tc = wordBuckets(target, textCol, buckets)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val sc = wordBuckets(source, textCol, buckets)
      .groupBy("b").agg(count(lit(1)).as("cs"))
    val totals = tc.agg(sum("ct").as("tt"))
      .crossJoin(sc.agg(sum("cs").as("ts")))
      .select(coalesce(col("tt"), lit(0L)).as("tt"),
        coalesce(col("ts"), lit(0L)).as("ts"))
    // dense bucket axis: empty cells still get their smoothed mass
    spark.range(buckets.toLong).select(col("id").as("b"))
      .join(tc, Seq("b"), "left").join(sc, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            (col("tt") + lit(buckets.toDouble))) -
          log((coalesce(col("cs"), lit(0L)) + lit(1.0)) /
            (col("ts") + lit(buckets.toDouble))))
          .as("lambda"))
      .localCheckpoint(true)
  }

  /** Per-document importance: mean λ over word occurrences, rounded
    * for stable comparison; documents with no words keep a NULL score
    * (no silent 0 that would rank as "average"). */
  def score(docs: DataFrame, textCol: String, idCol: String,
            ratios: DataFrame, buckets: Int): DataFrame = {
    val perWord = docs
      .select(col(idCol).as("__id"), explode(Bpe.wordsCol(col(textCol))).as("w"))
      .select(col("__id"), bucket(col("w"), buckets).as("b"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_words"), round(avg("lambda"), 6).as("score"))
    docs.select(col(idCol).as("__id"))
      .join(perWord, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"), col("score"))
  }

  /** DSIR-ish deterministic selection: the top `k` documents by
    * (rounded score DESC, id ASC) get selected = 1. A global
    * row_number would drag every row through one partition; ordered
    * limit-k compiles to TakeOrdered (per-partition top-k, driver
    * merge of k) and the flag comes back as a broadcast semi-join —
    * scale-safe for any corpus at modest k. */
  def selectTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val top = scored
      .orderBy(desc_nulls_last("score"), col(idCol))
      .limit(k)
      .select(col(idCol), lit(1L).as("selected"))
    scored.join(broadcast(top), Seq(idCol), "left")
      .withColumn("selected", coalesce(col("selected"), lit(0L)))
  }
}

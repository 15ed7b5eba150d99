package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag training documents that share word
  * n-grams with an evaluation/benchmark set, the standard guard against
  * test-set leakage when assembling a training corpus.
  *
  * Scale shape: the benchmark side (eval sets are thousands of
  * documents, not billions) collapses to a DISTINCT n-gram set that is
  * broadcast to the training scan, so the big side never shuffles — the
  * whole job is one corpus pass plus a per-document hash-map probe. The
  * per-document n-gram sets are deduplicated array-side
  * ([[Kernels.wordNgrams]] is distinct by construction), so `n_shared`
  * counts DISTINCT contaminated n-grams per training document.
  */
object Decontaminate {

  /** Training documents sharing at least `minShared` distinct word
    * `n`-grams with any benchmark document. Returns
    * (doc_id, n_shared) — join it back or anti-join to drop. A
    * benchmark n-gram set too large to broadcast takes [[overlapBloom]].
    */
  def overlap(train: DataFrame, bench: DataFrame,
              textCol: String, idCol: String,
              n: Int = 5, minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val benchGrams = bench
      .select(explode(Kernels.wordNgrams(col(textCol), n)).as("__gram"))
      .distinct()
    train
      .select(col(idCol).as("doc_id"),
        explode(Kernels.wordNgrams(col(textCol), n)).as("__gram"))
      .join(broadcast(benchGrams), Seq("__gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[overlap]] with a BLOOM-FILTER pre-prune of the training gram
    * stream — the runtime-filter shape for when the benchmark gram set
    * outgrows a comfortable exact broadcast (a 10⁹-gram eval suite is
    * ~30 GB of strings exact but ~1.2 GB of Bloom bits at 1% fpp): the
    * filter is built distributed over the benchmark grams' 64-bit
    * hashes, ships to every task as one binary literal inside a
    * codegen'd `might_contain` ([[org.apache.spark.sql.catalyst
    * .expressions.BloomFilterMightContain]] — the same machinery
    * Spark's own runtime join filters inject), and discards the
    * overwhelmingly-clean majority of training grams BEFORE the
    * verification join. False positives cannot leak: survivors still
    * pass through the exact gram join, so the result is equal to
    * [[overlap]]'s for ANY fpp — only the exchange volume changes.
    */
  def overlapBloom(train: DataFrame, bench: DataFrame,
                   textCol: String, idCol: String,
                   n: Int = 5, minShared: Int = 1,
                   expectedGrams: Long = 1L << 20,
                   fpp: Double = 0.01): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    // localCheckpoint (eager): the gram set is consumed TWICE — once by
    // the Bloom-build action, once by the lazy verification join — and
    // without materialization the explode+distinct shuffle would run
    // again from source for the join (at the 10⁹-gram scale that
    // motivates this function, a second full pass). Blocks are
    // reclaimed by the ContextCleaner once the result frame is
    // unreachable.
    val benchGrams = bench
      .select(explode(Kernels.wordNgrams(col(textCol), n)).as("__gram"))
      .distinct()
      .localCheckpoint(true)
    // distributed build (treeAggregate under stat.bloomFilter); only the
    // finished bit array ever reaches the driver
    val bf = benchGrams.select(xxhash64(col("__gram")).as("__gh"))
      .stat.bloomFilter("__gh", expectedGrams, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      GraftBridge.expression(xxhash64(col("__gram")))))
    // at the scale that MOTIVATES the Bloom prune the gram set cannot
    // broadcast for verification either — no broadcast hint, so past the
    // optimizer's threshold it is a shuffle join, where only the Bloom
    // SURVIVORS (true hits + fpp of the stream) ever exchange
    train
      .select(col(idCol).as("doc_id"),
        explode(Kernels.wordNgrams(col(textCol), n)).as("__gram"))
      .filter(mightContain)
      .join(benchGrams, Seq("__gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The apply side: training docs with contaminated rows removed. */
  def clean(train: DataFrame, bench: DataFrame,
            textCol: String, idCol: String,
            n: Int = 5, minShared: Int = 1): DataFrame = {
    val bad = overlap(train, bench, textCol, idCol, n, minShared)
      .select(col("doc_id").as("__bad_id"))
    train.join(bad, train(idCol) === col("__bad_id"), "left_anti")
  }

  /** SEMANTIC decontamination (the SemDeDup-style complement to n-gram
    * [[overlap]]): a paraphrased benchmark item shares no 5-grams with
    * its source but sits right next to it in embedding space, so the
    * guard here is max cosine against ANY benchmark vector. Returns
    * (id, max_cosine, contaminated) for every corpus row with an
    * embedding.
    *
    * Scale shape mirrors [[overlap]]: benchmark embedding sets are
    * thousands of rows — normalized once and broadcast — so the corpus
    * side streams through a nested-loop scoring pass with no shuffle
    * except the per-id max, which partial-aggregates map-side (each
    * corpus row's candidates stay in its own task, so the exchange
    * carries one row per corpus row). Scores are rounded to 6 decimals
    * BEFORE the max so the flag is reproducible across engines.
    */
  def byEmbedding(corpus: DataFrame, bench: DataFrame,
                  vecCol: String, idCol: String,
                  threshold: Double = 0.95): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1, 1], got $threshold")
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), Kernels.vectorL2Normalize(col(vecCol)).as("__cv"))
    val b = bench.filter(col(vecCol).isNotNull)
      .select(Kernels.vectorL2Normalize(col(vecCol)).as("__bv"))
    c.crossJoin(broadcast(b))
      .withColumn("__s", round(Kernels.vectorDot(col("__cv"), col("__bv")), 6))
      .groupBy(col("id"))
      .agg(max(col("__s")).as("max_cosine"))
      .withColumn("contaminated", col("max_cosine") >= threshold)
  }
}

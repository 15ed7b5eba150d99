package graft.operators

import org.apache.spark.sql.{DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space, then inside each
  * cluster drop every vector that has a sufficiently-cosine-similar
  * LOWER-ID neighbor — keeping one representative per ε-ball without
  * ever comparing across clusters. This is the canonical scale shape
  * for semantic dedup: the O(n²) cosine work is confined to cluster
  * blocks (the same block-bounding argument as n-gram Jaccard), and
  * clusters come from the deterministic [[KMeans]].
  *
  * The similarity test is EXACT, no float cosine anywhere: with
  * micro-quantized vectors, cos(a,b) ≥ num/den ⟺
  * dot(a,b) > 0 ∧ dot²·den² ≥ num²·‖a‖²·‖b‖² — all decimal(38,0)
  * integer arithmetic (dot ≤ ~10¹⁴, so dot² ≤ ~10²⁸ — far inside 38
  * digits). Zero-norm vectors are similar to nothing. Together with
  * k-means' determinism this makes the WHOLE pipeline — clustering,
  * pairing, keep/drop — bit-reproducible and DuckDB-replayable
  * ([[graft.OracleSqlGen.semanticDedup]]).
  *
  * The keep rule is greedy-by-id (a doc survives unless a SIMILAR
  * LOWER-ID doc exists in its cluster), not transitive-closure
  * clustering: one EXISTS semi-join, no iteration. That matches
  * SemDeDup's published policy and keeps the operator a single
  * bounded-block pass.
  *
  * Sizing `k` at scale: the within-cluster pair join is quadratic in
  * block size, so k must GROW with the corpus — pick
  * k ≈ n / targetBlockSize (SemDeDup used ~11k clusters for LAION
  * at a few 10⁴ vectors per block; targetBlockSize ~10⁴–10⁵ keeps
  * each block's pair count inside one executor's task budget). A
  * constant k at 100× the data turns every block into an n²/k
  * hotspot — the sf-pinned k=10 in q_semantic_dedup is correct for
  * the test corpus ONLY because its n is ~10³.
  */
object SemanticDedup {

  private def dotCol(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    Kernels.dotLongs(a, b)

  /** Output: (id, cluster, kept 1/0) for every vector. `cosNum/cosDen`
    * is the cosine threshold as an exact rational (e.g. 9/10 = 0.9) —
    * a double threshold would reintroduce the float boundary the
    * integer pipeline exists to avoid. */
  def dedup(embs: DataFrame, vecCol: String, idCol: String, k: Int,
            iters: Int, cosNum: Int, cosDen: Int): DataFrame = {
    require(cosDen > 0 && cosNum > 0 && cosNum <= cosDen,
      s"cosine threshold must satisfy 0 < num/den <= 1, got $cosNum/$cosDen")
    // dot²·den² is formed in decimal(38,0): dot ≤ ~10¹⁴ for 64-dim
    // micro-quantized unit-ish vectors, so dot² ≤ ~10²⁸ and den ≤ 10⁴
    // keeps the product inside 38 digits. A larger den would overflow
    // to NULL under non-ANSI Spark and SILENTLY KEEP near-duplicates
    // (the predicate reads false) — fail loudly instead (r10, ADVICE).
    require(cosDen <= 10000,
      s"cosDen must be <= 10^4 (decimal(38,0) headroom for dot²·den²), got $cosDen — " +
        "express the threshold with a smaller denominator")
    val quantized = KMeans.quantized(embs, vecCol, idCol)
    val cents = KMeans.fitLoop(quantized, k, iters)
    val qdf = quantized.repartition(KMeans.LoopPartitions, col("__id"))
    val qc = typedlit(cents.map(_.toSeq).toSeq)
    val assigned = qdf.select(col("__id"),
      KMeans.assignCol(col("__qv"), qc).as("cluster"),
      col("__qv"), dotCol(col("__qv"), col("__qv")).as("__n2"))
    val a = assigned.select(col("cluster"), col("__id").as("__ida"),
      col("__qv").as("__qva"), col("__n2").as("__n2a"))
    val b = assigned.select(col("cluster"), col("__id").as("__idb"),
      col("__qv").as("__qvb"), col("__n2").as("__n2b"))
    val d = dotCol(col("__qva"), col("__qvb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__ida") < col("__idb") &&
        col("__n2a") > 0 && col("__n2b") > 0 && d > 0 &&
        d.cast("decimal(38,0)") * d.cast("decimal(38,0)")
          * lit(cosDen.toLong * cosDen) >=
        lit(cosNum.toLong * cosNum) * col("__n2a").cast("decimal(38,0)")
          * col("__n2b").cast("decimal(38,0)"))
      .select(col("__idb").as("__id")).distinct()
    assigned.join(dropped.withColumn("__drop", lit(1L)), Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        when(col("__drop").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }
}

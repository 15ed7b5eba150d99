package graft.functions

import org.apache.spark.sql.{Column, Kernels}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` embedding columns.
  * Each op is a codegen'd Catalyst expression with a tight primitive
  * loop (see [[VectorKernels]]) — the higher-order-function formulation
  * (`aggregate`/`zip_with`) runs interpreted per element with boxing,
  * which dominates ANN sweeps. Inputs are cast to `array<double>`
  * (exact for floats).
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  /** Dot product of two numeric arrays (computed in double). */
  def dot(a: Column, b: Column): Column =
    Kernels.vectorDot(d(a), d(b))

  /** SQ8 encode: one byte per dimension with trained per-dimension
    * (min, span) — the 4x-memory middle tier between raw floats and
    * PQ codes. Oracle-exact arithmetic (see VectorKernels.sq8Encode). */
  def sq8Encode(a: Column, mins: Array[Double], spans: Array[Double]): Column =
    Kernels.sq8Encode(d(a), mins, spans)

  /** SQ8 decode back to array<double> for exact re-ranking. */
  def sq8Decode(codes: Column, mins: Array[Double], spans: Array[Double]): Column =
    Kernels.sq8Decode(codes, mins, spans)

  /** Cosine similarity in [-1, 1]; 0 when either vector has zero norm. */
  def cosineSimilarity(a: Column, b: Column): Column =
    Kernels.vectorCosine(d(a), d(b))

  /** L2-normalized copy of the vector (unit length); zero vector passes
    * through unchanged. Pre-normalizing once turns per-pair cosine into a
    * plain dot product — at 100 TB that halves the FLOPs of an ANN sweep.
    */
  def l2Normalize(a: Column): Column =
    Kernels.vectorL2Normalize(d(a))

  /** Coarse LSH bucket id for cosine ANN: sign bits of `nBits` fixed
    * pseudo-random hyperplane projections (deterministic seed). Vectors
    * in the same bucket are ANN candidates — turns an O(N^2) similarity
    * sweep into a per-bucket join. Hyperplane components derive from
    * chained xxh64 of (seed, bit, dim) mapped to [-1, 1] — computable
    * inside codegen without shipping a matrix.
    */
  def cosineLshBucket(vec: Column, nBits: Int, seed: Long = 42L): Column =
    Kernels.vectorLshBucket(d(vec), nBits, seed)

  /** 1-based ids of the `n` centroids nearest to `vec` by dot product
    * (descending; ties to the smaller id). Centroids travel as a codegen
    * reference object — one primitive loop per row, no interpreted
    * higher-order functions in the IVF hot path.
    */
  def topCentroids(vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    Kernels.topCentroids(d(vec), centroids, n)

  // ---- IVF-PQ (round 12) ----

  /** vec − centroids(cid−1): the residual a product quantizer codes. */
  def centroidResidual(vec: Column, cid: Column,
                       centroids: Array[Array[Double]]): Column =
    Kernels.centroidResidual(d(vec), cid.cast("long"), centroids)

  /** dot(vec, centroids(cid−1)) — the q·c_list term of the ADC score. */
  def centroidDot(vec: Column, cid: Column,
                  centroids: Array[Array[Double]]): Column =
    Kernels.centroidDot(d(vec), cid.cast("long"), centroids)

  /** 1-based nearest-codeword id per subspace (min L2 as argmax
    * dot−½‖w‖², ties to the smaller code). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Kernels.pqEncode(d(vec), codebooks)

  /** Flattened per-query ADC table: tab(m·nCodes + c−1) =
    * dot(q_sub(m), w(m)(c−1)). */
  def pqQueryTable(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Kernels.pqQueryTable(d(vec), codebooks)

  /** Σ_m tab(m·nCodes + codes(m)−1): O(M) per-candidate ADC lookup. */
  def pqAdc(tab: Column, codes: Column, nCodes: Int): Column =
    Kernels.pqAdc(tab, codes, nCodes)
}

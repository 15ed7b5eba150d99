package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Kernels}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic Lloyd's k-means over an embedding column — the
  * [[Classifier]] recipe applied to clustering: every quantity that a
  * float implementation would accumulate in addition-order-dependent
  * doubles is instead exact integer arithmetic, so the fitted
  * centroids and every assignment are BIT-IDENTICAL across partition
  * layouts, retries, and engines — which is what lets an iterative
  * clustering loop sit under the DuckDB hash oracle
  * ([[graft.OracleSqlGen.kmeans]] replays it CTE by CTE).
  *
  *  - components quantize to micro-units once (round(x·1e6) — the
  *    round-parity contract pinned in ClassifierSpec);
  *  - distances are exact long sums of squared integer diffs
  *    (≤ ~2.6·10¹⁴ at 64 dims — far inside long range);
  *  - assignment ties break to the LOWEST centroid id (a total order);
  *  - new centroids are floor(sum/count) per dimension — one exactly-
  *    specified IEEE division on integer-valued doubles, the PageRank
  *    floor-division trick (sums are exact to 2⁵³, i.e. ~9·10¹²
  *    micro-rows per cluster — documented bound, loudly guarded);
  *  - a cluster that captures nothing keeps its previous centroid.
  *
  * Init is deterministic farthest-first traversal (Gonzalez 1985) —
  * see [[farthestFirst]] for why (and for the measured failure of
  * naive lowest-id seeding). k-means++ would trade reproducibility
  * for expected quality — for a CURATION pipeline, auditability wins.
  *
  * Scale shape: the quantized (id, vector) points are cached once per
  * fit as one persisted RDD, filled by the seed job (whose first stage
  * splits the points by id, [[LoopPartitions]] ways). The seed, each
  * farthest-first pick and each Lloyd iteration is ONE narrow
  * `mapPartitions` job over that cache: the k·d-long centroid matrix
  * (the model) rides in the task closure, each partition returns one
  * candidate or one k·d + k block of exact partial sums, and the
  * driver merges them. There is no Catalyst plan, broadcast exchange,
  * shuffle or codegen compile per step, and corpus scans grow by one
  * cached pass per step. Measured on `q_kmeans` (k = 10, 4 iterations,
  * sf0.1, Spark local[4] on a 4-vCPU VM, traced): its `run` call went
  * from 34 jobs in 1.5–1.9 s, when every pick and iteration planned a
  * SQL query and paid a broadcast job for its centroid frame, to 15
  * jobs in 0.51–0.55 s — the parquet schema read, the seed, 9 picks
  * and 4 iterations. The final assignment stays a codegen projection
  * over a broadcast centroid frame.
  */
object KMeans {

  /** Micro-unit quantization for embedding components. */
  val Micro: Double = 1e6

  private[operators] def qVec(vecCol: Column): Column =
    transform(vecCol,
      x => round(x.cast("double") * lit(Micro), 0).cast("long"))

  private[operators] def assignCol(qv: Column, qc: Column): Column =
    Kernels.argminSqDist(qv, qc)

  /** Centroids as a broadcast ONE-ROW frame (`__qc`:
    * array<array<long>>, index = centroid id) — data, not plan
    * literals, for the codegen-cache reason documented on
    * [[Classifier]]. */
  private def cFrame(spark: org.apache.spark.sql.SparkSession,
                     cents: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(cents.map(_.toSeq).toSeq)).toDF("__qc")
  }

  /** One cached point: `id` null is a NULL key, `vec` null a NULL
    * embedding (never picked, never assigned — the SQL kernels'
    * null-in/null-out). */
  private final case class Point(id: java.lang.Long, vec: ArrayData)

  /** Spark's ascending key order, which the SQL seeding used: NULL
    * first, then by value. */
  private def idBefore(a: java.lang.Long, b: java.lang.Long): Boolean =
    if (a == null) b != null else b != null && a.longValue < b.longValue

  /** The lower-id point (the seed order). */
  private def lower(a: Point, b: Point): Point = if (idBefore(b.id, a.id)) b else a

  /** The farther (min-distance, point) candidate, ties to the lower id
    * (the pick order). */
  private def farther(a: (Long, Point), b: (Long, Point)): (Long, Point) =
    if (b._1 > a._1 || b._1 == a._1 && idBefore(b._2.id, a._2.id)) b else a

  /** The centroid matrix in the kernels' array<array<long>> shape. */
  private def centroidList(cents: Array[Array[Long]]): ArrayData =
    new GenericArrayData(cents.map(c => UnsafeArrayData.fromPrimitiveArray(c): Any))

  private def boundError(cid: Int, sum: Any) = new IllegalArgumentException(
    s"kmeans: cluster $cid dim-sum $sum exceeds the exact-double bound — " +
      "shard the corpus or raise Micro resolution")

  /** Exact dim-sum addition: a partial that leaves long range is far
    * past the 2^53 bound, so it fails with the bound's diagnostic
    * instead of wrapping. */
  private def addSum(a: Long, b: Long, cid: Int): Long =
    try Math.addExact(a, b)
    catch { case _: ArithmeticException => throw boundError(cid, BigInt(a) + b) }

  /** The frame's rows as points; `toRdd` reuses its row buffers, so
    * each vector is copied out. */
  private def points(qdf: DataFrame): RDD[Point] =
    qdf.select(col("__id").cast("long"), col("__qv").cast("array<bigint>"))
      .queryExecution.toRdd.map { r =>
        Point(if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          if (r.isNullAt(1)) null else r.getArray(1).copy())
      }

  /** Deterministic farthest-first seeding (Gonzalez 1985): start from
    * the lowest-id vector, then repeatedly take the vector FARTHEST
    * from the chosen set (ties to the lowest id). Lowest-id-only init
    * was tried first and measured: on the embeddings table the 10
    * lowest ids cover 7 of 10 planted classes (label 7 seeded four
    * times) and Lloyd's never recovers — purity 0.17, chance level.
    * Farthest-first covers every separated basin by construction, and
    * unlike k-means++ it is REPLAYABLE — no RNG, every pick a max over
    * exact integer distances under a total order. Cost: k−1 narrow
    * corpus passes, init-only (sample first at very large k·corpus). */
  private def farthestFirst(pts: RDD[Point], k: Int): Array[Array[Long]] = {
    val lowest = pts.mapPartitions(_.reduceOption(lower).iterator).collect()
      .reduceOption(lower)
    if (lowest.isEmpty) return Array.empty
    val seed = lowest.get
    if (seed.vec == null) throw new IllegalArgumentException(
      s"kmeans: the seed row (lowest id ${seed.id}) has a NULL vector — " +
        "drop or impute NULL embeddings upstream")
    (0 until seed.vec.numElements()).find(seed.vec.isNullAt).foreach { i =>
      throw new IllegalArgumentException(
        s"kmeans: null element at index $i of the seed vector (id ${seed.id}) — " +
          "embeddings must be dense")
    }
    val cents = scala.collection.mutable.ArrayBuffer(seed.vec.toLongArray())
    while (cents.length < k) {
      // always k picks, duplicates allowed when distinct vectors run
      // out (the duplicate cluster just stays empty) — mirrors the
      // oracle's fixed-k recursion exactly. The seed row itself is a
      // candidate (distance 0), so every pick job has one.
      val cs = cents.toArray
      val (_, pick) = pts.mapPartitions { it =>
        val cad = centroidList(cs)
        it.filter(_.vec != null).map(p => (VectorKernels.minSqDist(p.vec, cad), p))
          .reduceOption(farther).iterator
      }.collect().reduce(farther)
      cents += pick.vec.toLongArray()
    }
    cents.toArray
  }

  /** One Lloyd iteration: assign every point to its nearest centroid
    * and move each centroid to the floor of its members' mean. */
  private def lloyd(pts: RDD[Point], cents: Array[Array[Long]]): Array[Array[Long]] = {
    val k = cents.length
    val d = cents(0).length
    // per-partition exact partials: k·d dim-sums, then k counts
    val (sums, counts) = pts.mapPartitions { it =>
      val cad = centroidList(cents)
      val s = new Array[Long](k * d)
      val n = new Array[Long](k)
      it.foreach { p =>
        if (p.vec != null) {
          val c = VectorKernels.argminSqDist(p.vec, cad).toInt
          var i = 0
          while (i < d) {
            s(c * d + i) = addSum(s(c * d + i), p.vec.getLong(i), c)
            i += 1
          }
          n(c) += 1
        }
      }
      Iterator((s, n))
    }.collect().reduce[(Array[Long], Array[Long])] { case ((s1, n1), (s2, n2)) =>
      var j = 0
      while (j < s1.length) { s1(j) = addSum(s1(j), s2(j), j / d); j += 1 }
      var c = 0
      while (c < k) { n1(c) += n2(c); c += 1 }
      (s1, n1)
    }
    val next = cents.map(_.clone())
    for (c <- 0 until k if counts(c) > 0; i <- 0 until d) {
      val s = sums(c * d + i)
      if (math.abs(s.toDouble) >= 9.0e15) // 2^53 ≈ 9.007e15
        throw boundError(c, s)
      next(c)(i) = math.floor(s.toDouble / counts(c).toDouble).toLong
    }
    next
  }

  /** Partitions of the fit loop's cached points — the loop's
    * parallelism, not a cap. Size-derived widths were measured and
    * reverted (OPTIMIZATION_r18.md): one partition at the benched SF
    * serialized the per-iteration work. */
  private[graft] val LoopPartitions = 8

  /** Fit `iters` Lloyd iterations from farthest-first seeds over the
    * quantized frame (__id, __qv), its points hash-split by id
    * [[LoopPartitions]] ways; returns the centroid matrix (row =
    * centroid id, micro-units). The points are cached here, once, for
    * the duration of the fit — callers need not persist them. The
    * split is an RDD shuffle, so it runs as the first stage of the seed
    * job; a DataFrame repartition would run under adaptive execution as
    * a job of its own. */
  private[operators] def fitLoop(qdf: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val pts = points(qdf).keyBy(_.id).partitionBy(new HashPartitioner(LoopPartitions)).values
    pts.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = farthestFirst(pts, k)
      if (cents.nonEmpty) for (_ <- 0 until iters) cents = lloyd(pts, cents)
      cents
    } finally pts.unpersist(blocking = false)
  }

  /** The fit's input frame (__id, __qv). Long ids are the operator
    * contract: the init ordering (and the oracle's row_number replay)
    * needs a total order the driver can reproduce — cast upstream if
    * the key is something else. */
  private[operators] def quantized(embs: DataFrame, vecCol: String,
                                   idCol: String): DataFrame =
    embs.select(col(idCol).cast("long").as("__id"), qVec(col(vecCol)).as("__qv"))

  /** End-to-end: quantize, fit, assign every vector. Output: (id,
    * cluster) — assignment against the FINAL centroids, exactly the
    * oracle's last CTE. */
  def fitAssign(embs: DataFrame, vecCol: String, idCol: String, k: Int,
                iters: Int): DataFrame = {
    val qdf = quantized(embs, vecCol, idCol)
    val cents = fitLoop(qdf, k, iters)
    qdf.crossJoin(broadcast(cFrame(qdf.sparkSession, cents)))
      .select(col("__id").as(idCol),
        assignCol(col("__qv"), col("__qc")).as("cluster"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Kernels}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k, O(|queries| * |corpus|).
  *    Correctness baseline; right answer when |queries| is small (the
  *    corpus side streams, queries broadcast).
  *  - [[lshTopK]]: random-hyperplane LSH bucketing: corpus hashed once
  *    into sign-pattern buckets, each query probes its own bucket and
  *    every bucket at Hamming distance 1 (multi-probe: recall recovery
  *    at nBits× candidate cost), exact cosine re-ranks within
  *    candidates.
  *  - [[ivfTopK]]: IVF-style coarse quantizer — k-means centroids
  *    (Lloyd iterations as DataFrame jobs; only the tiny centroid table
  *    ever reaches the driver), corpus assigned to its nearest
  *    centroid's inverted list, queries probe the `nProbes` nearest
  *    lists. The standard billion-scale layout (IVF-Flat): candidate
  *    count scales with |corpus| * nProbes / nCentroids.
  *  - [[ivfPqTopK]] (round 12): IVF-PQ — the same coarse quantizer with
  *    PRODUCT-QUANTIZED residuals, so candidates travel as a handful of
  *    byte-scale codes instead of raw floats and score in O(M) via an
  *    ADC table; an exact refine of the rounded top-`rerank` shortlist
  *    makes the output a pure function of the data. The memory tier:
  *    at 100 TB the raw float vectors dominate executor memory, PQ
  *    codes shrink the scanned/shuffled index ~dim·8/M×.
  */
object Similarity {

  /** Per-query top-k over scored candidate rows (`query_id`,
    * `corpus_id`, `cosine`) as a BOUNDED AGGREGATION, not a window: the
    * `collect_smallest` buffer keyed on `(-cosine, corpus_id)` keeps at
    * most k candidates per query in the partial (map-side) aggregation,
    * so the only exchange carries ≤ k rows per query per map task — no
    * full shuffle of the candidate set ever happens. A per-query window
    * would exchange EVERY candidate row (and funnel each query's rows
    * into one reducer: a straggler/OOM shape when the corpus grows
    * 100×). Ordering matches the window formulation: cosine descending,
    * ties to the smaller corpus id; map-side pruning cannot change the
    * answer (a global top-k row is in the top-k of every subset that
    * contains it). Null scores (a null embedding on either side) are
    * dropped here — a null `negc` would otherwise sort FIRST in the
    * struct ordering and fill every top-k — so every caller is null-safe
    * regardless of its own filtering.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val item = struct((lit(0d) - col("cosine")).as("negc"),
      col("corpus_id").as("cid"), col("cosine").as("c"))
    scored
      .filter(col("cosine").isNotNull)
      .groupBy(col("query_id"))
      .agg(Dedup.collectSmallest(item, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__r", "__m")))
      .select(col("query_id"), col("__m").getField("cid").as("corpus_id"),
        col("__m").getField("c").as("cosine"),
        (col("__r") + 1).cast("int").as("rank"))
  }

  /** Exact top-k by cosine. Queries are broadcast; the big corpus side
    * never shuffles to score — only pruned top-k candidates reach the
    * ranking exchanges (see [[topKPerQuery]]).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    // null embeddings carry no position — excluded before scoring, like
    // the IVF paths (topKPerQuery would drop their null cosines anyway;
    // filtering here avoids broadcasting/scoring them at all)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(Kernels.vectorCosine(col("__qv"), col("__cv")), 6))
    topKPerQuery(scored, k)
  }

  /** Per-dimension (min, span) SQ8 training stats: ONE partial-
    * aggregated pass (the corpus shuffles only (dim, min, max) partials
    * — ≤ dim rows per map task) and a dim-bounded collect, the same
    * bounded-collect contract as the k-means centroids. min/max are
    * order-independent, so the stats — and therefore every code — are
    * deterministic under any partitioning.
    */
  def sq8Stats(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = corpus.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))
      .collect() // bounded: one row per dimension
    require(rows.nonEmpty, "sq8Stats: corpus has no non-null vectors")
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dim)
    val spans = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1)
      spans(r.getInt(0)) = r.getDouble(2) - r.getDouble(1)
    }
    (mins, spans)
  }

  /** SQ8 ANN: the 4×-memory middle tier between raw floats
    * ([[bruteForceTopK]]) and PQ codes ([[ivfPqTopK]]) — the corpus
    * travels the scoring sweep as one byte per dimension (64 B per
    * 64-d vector) and is reconstructed in-register for an exact-shape
    * cosine rank. Same plan as brute force: queries broadcast, corpus
    * never shuffles to score, bounded top-k aggregation. Recall loss
    * is pure quantization noise (≤ span/510 per dimension), measured
    * ≈ 1.0 at the q_ann_sq8 gate — the tier a refine step runs on when
    * raw floats don't fit executor memory but PQ's loss is too coarse.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int): DataFrame = {
    val (mins, spans) = sq8Stats(corpus, vecCol)
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Kernels.sq8Encode(col(vecCol), mins, spans).as("__code"))
      .select(col("corpus_id"),
        Kernels.sq8Decode(col("__code"), mins, spans).as("__cv"))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(Kernels.vectorCosine(col("__qv"), col("__cv")), 6))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN: candidates = corpus vectors sharing the query's
    * hyperplane-sign bucket or one of the nBits buckets one sign-flip
    * away (multi-probe); exact cosine re-rank inside the candidates.
    * `nBits` is the recall lever: fewer bits = bigger buckets = higher
    * recall, more compute.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nBits: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .withColumn("__bkt", Kernels.vectorLshBucket(col("__cv"), nBits))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qbkt", Kernels.vectorLshBucket(col("__qv"), nBits))
      .withColumn("__bkt", explode(array(
        col("__qbkt") +: (0 until nBits).map(b =>
          col("__qbkt").bitwiseXOR(lit(1L << b))): _*)))
    val scored = c.join(q.drop("__qbkt"), Seq("__bkt"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(Kernels.vectorCosine(col("__qv"), col("__cv")), 6))
    topKPerQuery(scored, k)
  }

  /** Deterministic Lloyd k-means over unit vectors (cosine/spherical:
    * assignment by max dot product). Returns the centroid matrix indexed
    * by id-1 (ids are 1-based and stable across iterations) — a tiny
    * driver-side object; each iteration is one shuffle (the per-centroid
    * partial-sum reduce), and only nCentroids * dim doubles are
    * collected. Assignment runs through the codegen'd
    * [[Kernels.topCentroids]] kernel — no
    * interpreted higher-order functions in the per-row path.
    */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                      nCentroids: Int, iters: Int = 5): Array[Array[Double]] = {
    // null embeddings carry no position information — excluded up front
    // (they would NPE in the partial-sum kernel)
    val unit = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__v"))
    // the init collect plus every Lloyd iteration reads `unit`; without a
    // persist that is iters+1 full corpus scans + normalizations
    unit.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      kmeansLoop(unit, nCentroids, iters)
    } finally unit.unpersist(blocking = false)
  }

  /** One Lloyd iteration's reduction as a PURE DataFrame aggregation:
    * assign each unit vector to its top centroid (codegen kernel),
    * posexplode to (centroid, dim) cells, hash-aggregate (sum, count).
    * Partial aggregation collapses map-side, so the only exchange
    * carries ≤ nCentroids·dim rows per map task — the same tiny-shuffle
    * shape the old reduceByKey had, but with NO Tungsten exit: no
    * `.rdd`, no DeserializeToObject, the whole per-row path stays in
    * whole-stage codegen (PlanSpec pins it). Summation order remains
    * scheduling-dependent exactly as reduceByKey's was; the oracle's
    * documented assignment-margin argument (OracleSqlGen.lloydChain)
    * is unchanged.
    */
  private[graft] def kmeansIterSums(unit: DataFrame,
                                    centroids: Array[Array[Double]]): DataFrame =
    unit
      // the assignment goes in its OWN select below the explode:
      // ExtractGenerator moves every non-generator expression of a
      // generator select into the Project ABOVE the Generate, which
      // would re-evaluate the argmax once per exploded dimension —
      // measured 30× the iteration cost at 200k×447 (TrainerProbe).
      // Two selects keep it evaluated once per vector; PlanSpec pins
      // the kernel below the Generate.
      .select(element_at(Kernels.topCentroids(col("__v"), centroids, 1), 1)
        .as("centroid_id"), col("__v"))
      .select(col("centroid_id"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("centroid_id"), col("__pos"))
      .agg(sum(col("__x")).as("s"), count(lit(1)).as("n"))

  private def kmeansLoop(unit: DataFrame, nCentroids: Int,
                         iters: Int): Array[Array[Double]] = {
    // deterministic init: the nCentroids lowest-id vectors, centroid id =
    // 1-based rank in that order
    var centroids: Array[Array[Double]] =
      unit.orderBy(col("__id").asc).limit(nCentroids)
        .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
    if (centroids.isEmpty) return centroids
    val dim = centroids(0).length
    for (_ <- 1 to iters) {
      // one corpus scan, one nCentroids·dim-cell shuffle, a bounded
      // nCentroids·dim-row collect (KMeans.fitLoop and Classifier.train
      // run the same loop as plain RDD jobs)
      val cells = kmeansIterSums(unit, centroids).collect()
      val sums = new java.util.HashMap[Long, (Array[Double], Long)]()
      cells.foreach { r =>
        val cid = r.getLong(0)
        val acc = sums.computeIfAbsent(cid, _ => (new Array[Double](dim), 0L))
        acc._1(r.getInt(1)) = r.getDouble(2)
        sums.put(cid, (acc._1, r.getLong(3)))
      }
      // a centroid that captured zero points this pass keeps its previous
      // position instead of vanishing (a shrinking centroid set would
      // silently degrade the nProbes/nCentroids recall math)
      centroids = centroids.zipWithIndex.map { case (prev, idx) =>
        Option(sums.get(idx + 1L)) match {
          case Some((sum, n)) =>
            val mean = sum.map(_ / n)
            val norm = math.sqrt(mean.map(x => x * x).sum)
            if (norm == 0.0) mean else mean.map(_ / norm)
          case None => prev
        }
      }
    }
    centroids
  }

  /** Build a PERSISTENT IVF index: the inverted lists land as parquet
    * partitioned by `centroid_id` (plus a tiny centroids table), so a
    * later probe physically reads only the probed lists' files —
    * `nProbes / nCentroids` of the corpus bytes, enforced by partition
    * pruning rather than a post-scan filter. This is the offline-build /
    * online-probe split a billion-vector deployment actually uses;
    * [[ivfTopK]] is the build-and-probe-in-one convenience.
    */
  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    dir: String, nCentroids: Int = 16,
                    kmeansIters: Int = 3): Unit = {
    val spark = corpus.sparkSession
    val centroids = kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters)
    require(centroids.nonEmpty, "cannot build an IVF index over an empty corpus")
    val centroidRows = centroids.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i + 1L, v.toSeq)
    }
    // a LocalRelation, not parallelize(): the dimension write plan is a
    // LocalTableScan, keeping the whole index build free of RDD scans
    spark.createDataFrame(
        java.util.Arrays.asList(centroidRows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("centroid_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false),
            nullable = false))))
      .write.mode("overwrite").parquet(s"$dir/centroids")
    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("unit_vec"))
      .withColumn("centroid_id",
        element_at(Kernels.topCentroids(col("unit_vec"), centroids, 1), 1))
      // co-locate each list before the partitioned write: without this,
      // partitionBy emits (writing tasks × touched centroids) files —
      // measured 32×141 ≈ 4.5k files for a 20k-vector build — and the
      // probe's pruned scan pays that listing forever after. One
      // id+vector shuffle buys exactly one file per centroid list, the
      // layout a 100 TB index needs (file count = nCentroids, not
      // tasks × nCentroids).
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/lists")
  }

  /** Probe a [[buildIvfIndex]] index. The probed centroid ids (≤
    * nCentroids values — driver-safe by construction) become a static
    * partition filter, so the scan touches only the probed lists' files.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     queries: DataFrame, vecCol: String, idCol: String,
                     k: Int, nProbes: Int = 2): DataFrame =
    topKPerQuery(probeIndexed(spark, dir, queries, vecCol, idCol, nProbes), k)

  /** Range probe of a [[buildIvfIndex]] index: every (query, corpus)
    * pair in the probed lists with cosine ≥ `threshold` — the
    * admission-control form an ingestion-time near-dup screen wants
    * (consumed as [[Dedup.incrementalEmbedding]]), where top-k ranking
    * is the retrieval form. Same partition-pruned scan; approximate
    * exactly as the probe budget is (nProbes = nCentroids makes it
    * exhaustive — the audit configuration q_incremental_embedding runs
    * under its oracle).
    */
  def ivfRangeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: DataFrame, vecCol: String, idCol: String,
                      threshold: Double, nProbes: Int = 2): DataFrame =
    probeIndexed(spark, dir, queries, vecCol, idCol, nProbes)
      .filter(col("cosine") >= threshold)
      .select(col("query_id"), col("corpus_id"), col("cosine"))

  private def probeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                           queries: DataFrame, vecCol: String, idCol: String,
                           nProbes: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("centroid_id").asc).select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty, s"no centroids found under $dir")
    val probing = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__qv"))
      .withColumn("centroid_id",
        explode(Kernels.topCentroids(col("__qv"), centroids, nProbes)))
    // the probed-ids collect below and the list join each evaluate this
    // subplan once. Recomputing it is the right trade: the repeated work
    // is |queries| × nCentroids × dim flops (trivial next to scoring the
    // probed lists), while a persist here would leak a cached block per
    // probe until the nondeterministic ContextCleaner runs — there is no
    // sound place to unpersist a lazily-consumed DataFrame
    val probedIds = probing.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    // filter BEFORE any cast on the partition column — the pruning
    // rewrite must see the raw attribute to skip list directories
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("centroid_id").isin(probedIds: _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    lists.join(probing, Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(Kernels.vectorDot(col("__qv"), col("unit_vec")), 6))
  }

  /** Nearest-centroid classification over a LABELED embedding corpus —
    * the embedding-quality eval loop (cluster purity / label
    * separability): per-label mean vectors, every vector classified to
    * its nearest centroid by cosine, confusion counts out. Returns
    * (label, predicted, n).
    *
    * Plan shape: centroids are one posexplode + (label, dim) hash
    * aggregate — partial aggregation collapses map-side, the shuffle
    * carries |labels| × dim cells, never vectors; the (tiny) centroid
    * table broadcasts back for scoring, and the argmax is the same
    * max_by partial aggregation the fuzzy-match argmax uses (shuffle =
    * one row per vector, not per candidate). Ranking compares the
    * ROUNDED cosine with label as tie-break, so scores equal to 6
    * decimals resolve identically on any engine computing the same
    * centroids (float summation order never flips a winner).
    */
  def nearestCentroidConfusion(df: DataFrame, vecCol: String,
                               labelCol: String, idCol: String): DataFrame = {
    val labelType = df.schema(labelCol).dataType
    require(labelType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"labels must be numeric for the deterministic tie-break, got $labelType")
    val unit = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__v"))
    val centroids = unit
      .select(col("__lbl"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy(col("__lbl"), col("__pos"))
      .agg(avg(col("__x")).as("__a"))
      .groupBy(col("__lbl").as("__clbl"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__a")))).as("__ps"))
      .select(col("__clbl"),
        transform(col("__ps"), p => p.getField("__a")).as("__cv"))
    val scored = unit.crossJoin(broadcast(centroids))
      .withColumn("__s",
        round(Kernels.vectorCosine(col("__v"), col("__cv")), 6))
    scored
      .groupBy(col("__id"), col("__lbl"))
      .agg(max_by(col("__clbl"),
        struct(col("__s").as("s"), (lit(0d) - col("__clbl")).as("neg"))).as("__pred"))
      .groupBy(col("__lbl").as("label"), col("__pred").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Deterministic per-subspace Lloyd over PQ residual slices — plain
    * (non-spherical) L2 k-means, the product-quantization trainer.
    * Init: per subspace, the residual slices of the `nCodes` lowest-id
    * vectors (the coarse chain's init rule, replayed by the oracle).
    * Assignment runs the codegen [[Kernels.pqEncode]]
    * kernel (min L2 as argmax dot−½‖w‖², ties to the smaller code);
    * means come from ONE DataFrame hash aggregation keyed on
    * (subspace, code, position) — a single tiny map-side-combined
    * shuffle per iteration covering ALL subspaces at once, collecting
    * only m·nCodes·subDim cells ([[pqIterSums]]).
    * An empty codeword keeps its previous position (stable code count).
    */
  def pqCodebooks(residuals: DataFrame, vecCol: String, idCol: String,
                  m: Int, nCodes: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    val init = residuals.orderBy(col(idCol).asc).limit(nCodes)
      .select(col(vecCol)).collect().map(_.getSeq[Double](0).toArray)
    if (init.isEmpty) return Array.empty
    val dim = init(0).length
    require(dim % m == 0, s"PQ subspaces must tile the dimension: $dim % $m != 0")
    val sub = dim / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(mi =>
      init.map(rv => rv.slice(mi * sub, (mi + 1) * sub)))
    for (_ <- 1 to iters) {
      // one residual scan, one m·nCodes·subDim-cell shuffle, a bounded
      // dim·nCodes-row collect — same DataFrame-native shape as
      // [[kmeansIterSums]]
      val cells = pqIterSums(residuals, vecCol, books, sub).collect()
      val sums = new java.util.HashMap[(Int, Long), (Array[Double], Long)]()
      cells.foreach { r =>
        val key = (r.getInt(0), r.getLong(1))
        val acc = sums.computeIfAbsent(key, _ => (new Array[Double](sub), 0L))
        acc._1(r.getInt(2)) = r.getDouble(3)
        sums.put(key, (acc._1, r.getLong(4)))
      }
      books = books.zipWithIndex.map { case (book, mi) =>
        book.zipWithIndex.map { case (prev, ci) =>
          Option(sums.get((mi, ci + 1L))) match {
            case Some((s, n)) => s.map(_ / n) // plain mean: residual space
            case None => prev
          }
        }
      }
    }
    books
  }

  /** One PQ Lloyd iteration's reduction, DataFrame-native: encode each
    * residual through the codegen [[Kernels.pqEncode]]
    * kernel, posexplode the residual to (pos, x) cells, derive the
    * (subspace, codeword, within-subspace position) key arithmetically,
    * and hash-aggregate (sum, count) — ALL subspaces in one pass, one
    * tiny exchange (≤ dim·nCodes cells per map task after map-side
    * combine), no `.rdd` Tungsten exit (PlanSpec pins the plan).
    */
  private[graft] def pqIterSums(residuals: DataFrame, vecCol: String,
                                books: Array[Array[Array[Double]]],
                                sub: Int): DataFrame =
    residuals
      // pqEncode in its own select BELOW the explode — the same
      // ExtractGenerator trap documented on [[kmeansIterSums]] (the
      // all-subspace argmin would otherwise run once per dimension)
      .select(Kernels.pqEncode(col(vecCol), books).as("__codes"),
        col(vecCol).as("__rvec"))
      .select(col("__codes"), posexplode(col("__rvec")).as(Seq("__pos", "__x")))
      .select(floor(col("__pos") / lit(sub)).cast("int").as("__m"),
        col("__codes"), (col("__pos") % lit(sub)).as("__sp"), col("__x"))
      .groupBy(col("__m"),
        element_at(col("__codes"), col("__m") + lit(1)).as("__code"),
        col("__sp"))
      .agg(sum(col("__x")).as("s"), count(lit(1)).as("n"))

  /** IVF-PQ ANN (round 12): [[ivfTopK]]'s coarse quantizer with PRODUCT
    * QUANTIZATION of the residuals — the memory tier for 100 TB of raw
    * float vectors. Corpus vectors are re-expressed as (list id, M
    * 1-byte-scale codes): dim·8 bytes → M bytes per vector in every
    * structure past the encode, so the inverted lists — the thing that
    * must fit executor memory at scale — shrink ~dim·8/M× (64-d → 4
    * codes = 128×). Scoring is asymmetric (ADC): each query computes
    * one M·nCodes lookup table, every candidate costs O(M) adds
    * instead of O(dim) multiplies, and the approximate top-`rerank`
    * shortlist is re-ranked EXACTLY against the raw vectors fetched by
    * id — the standard billion-scale IVFPQ+refine layout
    * (Jégou/Douze/Schmid, TPAMI 2011).
    *
    * Plan shape: candidates carry only ids + codes through the probe
    * join (never raw vectors); the shortlist (≤ rerank·|queries| rows
    * by construction) BROADCASTS back against the corpus for the exact
    * refine, so the raw-vector side streams — no corpus shuffle at any
    * stage. Approx scores round to 6 decimals before the shortlist cut
    * (ties to the smaller corpus id), which is what makes the cut —
    * and therefore the whole output — engine-independent and
    * oracle-replayable.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, k: Int,
                nCentroids: Int = 16, nProbes: Int = 2,
                pqM: Int = 4, pqCodes: Int = 8, pqIters: Int = 2,
                rerank: Int = 20, kmeansIters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters)
    if (centroids.isEmpty)
      return bruteForceTopK(corpus, queries, vecCol, idCol, k)
    val corpusUnit = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__cv"))
      .withColumn("centroid_id",
        element_at(Kernels.topCentroids(col("__cv"), centroids, 1), 1))
    val resid = corpusUnit.withColumn("__rv",
      Kernels.centroidResidual(col("__cv"), col("centroid_id"), centroids))
    // training reads the residuals iters+1 times — persist like the
    // coarse k-means does; unpersisted once the codebooks are collected
    resid.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books =
      try pqCodebooks(resid.select(col("corpus_id"), col("__rv")),
        "__rv", "corpus_id", pqM, pqCodes, pqIters)
      finally resid.unpersist(blocking = false)
    if (books.isEmpty)
      return bruteForceTopK(corpus, queries, vecCol, idCol, k)
    // the compressed index: ids + list id + M codes, nothing else
    val encoded = resid
      .withColumn("__codes", Kernels.pqEncode(col("__rv"), books))
      .select(col("corpus_id"), col("centroid_id"), col("__codes"))
    topKPerQuery(
      pqProbeExact(encoded, corpusUnit.select(col("corpus_id"), col("__cv")),
        queries, vecCol, idCol, centroids, books, nProbes, pqCodes, rerank), k)
  }

  /** The shared IVF-PQ probe plan up to the EXACT-scored shortlist: ADC
    * scoring over (id, codes) candidates, rounded top-`rerank`
    * shortlist, exact refine against the raw unit vectors — returned
    * UNRANKED so [[ivfPqTopK]]/[[ivfPqTopKIndexed]] can cut top-k and
    * [[ivfPqRangeIndexed]] can threshold-filter (the admission-control
    * form). `encoded` = (corpus_id, centroid_id, __codes); `vectors` =
    * (corpus_id, __cv). The shortlist (≤ rerank·|queries| rows by
    * construction) broadcasts back, so the raw-vector side streams —
    * no corpus shuffle at any stage. */
  private def pqProbeExact(encoded: DataFrame, vectors: DataFrame,
                           queries: DataFrame, vecCol: String, idCol: String,
                           centroids: Array[Array[Double]],
                           books: Array[Array[Array[Double]]],
                           nProbes: Int, pqCodes: Int,
                           rerank: Int,
                           probeFanOutBytes: Long = 0L): DataFrame = {
    // r18: the ADC candidate scoring runs in the probing side's tasks —
    // an under-split query source (single-row-group parquet) serialized
    // the whole O(|queries|·|candidates|) scan on one core (StageProbe:
    // the dominant 1.2 s single-task stage of the incremental-PQ path).
    // The INGEST path fans the narrow (id, raw vec) projection out
    // (probeFanOutBytes > 0, cost-gated like the media kernels; no-op
    // at real scan parallelism — guide §2.5); the in-memory audit path
    // passes 0 — its query set is a tiny top-k probe sample by
    // construction, and the optimizer's size estimate cannot see the
    // selective id filter that makes it tiny (measured: an
    // unconditional fan-out regressed q_ann_ivfpq 15%).
    val qNarrow = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qraw"))
    val probing = (if (probeFanOutBytes > 0)
        Ops.fanOutForCompute(qNarrow, probeFanOutBytes, col("query_id"))
      else qNarrow)
      .select(col("query_id"),
        Kernels.vectorL2Normalize(col("__qraw")).as("__qv"))
      .withColumn("__qtab", Kernels.pqQueryTable(col("__qv"), books))
      .withColumn("centroid_id",
        explode(Kernels.topCentroids(col("__qv"), centroids, nProbes)))
      .withColumn("__qc",
        Kernels.centroidDot(col("__qv"), col("centroid_id"), centroids))
    val approx = encoded.join(probing.drop("__qv"), Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(col("__qc") +
        Kernels.pqAdc(col("__qtab"), col("__codes"), pqCodes), 6))
    // approximate shortlist: same bounded top-k aggregation as every
    // ANN tier (map-side pruning, never a full candidate shuffle)
    val shortlist = topKPerQuery(approx, rerank)
      .select(col("query_id"), col("corpus_id"))
    val exact = vectors
      .join(broadcast(shortlist), Seq("corpus_id"))
      .join(broadcast(queries
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).as("query_id"),
          Kernels.vectorL2Normalize(col(vecCol)).as("__qv"))), Seq("query_id"))
      .withColumn("cosine",
        round(Kernels.vectorDot(col("__qv"), col("__cv")), 6))
    exact
  }

  /** Build a PERSISTENT IVF-PQ index under `dir`: `centroids` and
    * `codebooks` (both tiny), plus ONE partitioned `lists` table
    * carrying (corpus_id, codes, unit_vec) per centroid partition.
    * Columnar pruning makes the single file set serve both probe
    * phases minimally: the ADC scan reads only (corpus_id, codes) —
    * M longs per vector, not dim floats — and the exact refine
    * re-reads just (corpus_id, unit_vec) from the SAME probed
    * partitions for the broadcast shortlist join. File count =
    * nCentroids (the repartition-before-partitionBy lesson of
    * [[buildIvfIndex]]). */
  def buildIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                      dir: String, nCentroids: Int = 16, kmeansIters: Int = 3,
                      pqM: Int = 4, pqCodes: Int = 8, pqIters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    val centroids = kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters)
    require(centroids.nonEmpty, "cannot build an IVF-PQ index over an empty corpus")
    val resid = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("unit_vec"))
      .withColumn("centroid_id",
        element_at(Kernels.topCentroids(col("unit_vec"), centroids, 1), 1))
      .withColumn("__rv",
        Kernels.centroidResidual(col("unit_vec"), col("centroid_id"), centroids))
    resid.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = pqCodebooks(resid.select(col("corpus_id"), col("__rv")),
        "__rv", "corpus_id", pqM, pqCodes, pqIters)
      require(books.nonEmpty, "PQ training produced no codebooks")
      def vecRow(extra: Seq[Any], v: Array[Double]) =
        org.apache.spark.sql.Row.fromSeq(extra :+ v.toSeq)
      val lt = org.apache.spark.sql.types.LongType
      val at = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false)
      def field(n: String, t: org.apache.spark.sql.types.DataType) =
        org.apache.spark.sql.types.StructField(n, t, nullable = false)
      // LocalRelations (not parallelize) keep the dimension writes — and
      // therefore every job the build runs — free of RDD scans
      spark.createDataFrame(
          java.util.Arrays.asList(
            centroids.zipWithIndex.map { case (v, i) => vecRow(Seq(i + 1L), v) }: _*),
          org.apache.spark.sql.types.StructType(Seq(field("centroid_id", lt), field("vec", at))))
        .write.mode("overwrite").parquet(s"$dir/centroids")
      spark.createDataFrame(
          java.util.Arrays.asList((for {
            (book, mi) <- books.zipWithIndex
            (w, ci) <- book.zipWithIndex
          } yield vecRow(Seq(mi.toLong, ci + 1L), w)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            field("m", lt), field("code", lt), field("w", at))))
        .write.mode("overwrite").parquet(s"$dir/codebooks")
      resid
        .withColumn("codes", Kernels.pqEncode(col("__rv"), books))
        .select(col("corpus_id"), col("codes"), col("unit_vec"), col("centroid_id"))
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/lists")
    } finally resid.unpersist(blocking = false)
  }

  /** Probe a [[buildIvfPqIndex]] index: the probed centroid ids become
    * a static partition filter (like [[ivfTopKIndexed]]), the ADC pass
    * reads only the codes column, the refine re-reads only the vector
    * column of the same probed partitions. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       queries: DataFrame, vecCol: String, idCol: String,
                       k: Int, nProbes: Int = 2, rerank: Int = 20): DataFrame =
    topKPerQuery(pqProbeIndexedExact(spark, dir, queries, vecCol, idCol,
      nProbes, rerank), k)

  /** Range probe of a [[buildIvfPqIndex]] index: every (query, corpus)
    * pair surviving the ADC top-`rerank` shortlist whose EXACT cosine
    * ≥ `threshold` — the PQ twin of [[ivfRangeIndexed]] and the
    * 24/7-ingest admission screen ([[Dedup.incrementalEmbeddingPq]]).
    * The codes-only candidate scan is what changes the ingest
    * economics: per batch the probed lists are read as M longs per
    * vector instead of dim floats, and raw vectors are touched only
    * for the ≤ rerank·|batch| shortlist rows. Recall follows BOTH
    * budgets — probes (which lists) and rerank (how deep the ADC
    * shortlist goes); nProbes = nCentroids with rerank ≥ the largest
    * probed-candidate count is the exhaustive audit configuration.
    */
  def ivfPqRangeIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queries: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, nProbes: Int = 2,
                        rerank: Int = 20): DataFrame =
    pqProbeIndexedExact(spark, dir, queries, vecCol, idCol, nProbes, rerank)
      .filter(col("cosine") >= threshold)
      .select(col("query_id"), col("corpus_id"), col("cosine"))

  private def pqProbeIndexedExact(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, queries: DataFrame,
                                  vecCol: String, idCol: String,
                                  nProbes: Int, rerank: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("centroid_id").asc).select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty, s"no centroids found under $dir")
    val bookRows = spark.read.parquet(s"$dir/codebooks")
      .orderBy(col("m").asc, col("code").asc)
      .select(col("m"), col("w")).collect()
    require(bookRows.nonEmpty, s"no codebooks found under $dir")
    val books = bookRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](1).toArray)).toArray
    val pqCodes = books(0).length
    val probedIds = queries
      .filter(col(vecCol).isNotNull)
      .select(explode(Kernels.topCentroids(
        Kernels.vectorL2Normalize(col(vecCol)), centroids, nProbes)).as("cid"))
      .distinct().collect().map(_.getLong(0))
    // filter BEFORE the cast so partition pruning sees the raw attribute
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("centroid_id").isin(probedIds: _*))
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    pqProbeExact(
      lists.select(col("corpus_id"), col("centroid_id"), col("codes").as("__codes")),
      lists.select(col("corpus_id"), col("unit_vec").as("__cv")),
      queries, vecCol, idCol, centroids, books, nProbes, pqCodes, rerank,
      probeFanOutBytes = 32 * 1024L)
  }

  /** IVF-Flat ANN: corpus bucketed by nearest centroid, queries probe the
    * `nProbes` nearest inverted lists, exact cosine re-rank within.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nCentroids: Int = 16, nProbes: Int = 2,
              kmeansIters: Int = 3): DataFrame = {
    val centroids = kmeansCentroids(corpus, vecCol, idCol, nCentroids, kmeansIters)
    // empty corpus → no centroids: brute force degrades gracefully to the
    // (empty) exact answer with the same output schema
    if (centroids.isEmpty)
      return bruteForceTopK(corpus, queries, vecCol, idCol, k)
    val corpusAssigned = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("corpus_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__cv"))
      .withColumn("centroid_id",
        element_at(Kernels.topCentroids(col("__cv"), centroids, 1), 1))
    val queriesProbing = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        Kernels.vectorL2Normalize(col(vecCol)).as("__qv"))
      .withColumn("centroid_id",
        explode(Kernels.topCentroids(col("__qv"), centroids, nProbes)))
    val scored = corpusAssigned.join(queriesProbing, Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      // unit vectors: cosine = dot
      .withColumn("cosine", round(Kernels.vectorDot(col("__qv"), col("__cv")), 6))
    topKPerQuery(scored, k)
  }
}

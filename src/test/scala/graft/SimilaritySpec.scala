package graft

import graft.operators.Similarity
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by exact cosine, excludes self") {
    val out = Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") === 1L), "embedding", "vec_id", k = 3)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect()
      .sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 4L)) // by descending cosine
    assert(!out.exists(_._2 == 1L))
  }

  test("lshTopK puts identical vectors in the same bucket (recall on exact dups)") {
    val q = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(corpus, q, "embedding", "vec_id", k = 2, nBits = 2)
      .select("corpus_id").as[Long].collect().toSet
    assert(out.contains(1L)) // identical direction always shares the bucket
  }

  test("ivfTopK recalls true neighbors on a clustered corpus") {
    // two tight clusters; IVF with 2 centroids must keep same-cluster
    // neighbors together
    val vecs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f, 0.01f * i, 0.0f))
      else (i.toLong, Array(0.0f, 0.01f * i, 1.0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "embedding", "vec_id", k = 3, nCentroids = 2, nProbes = 1)
      .select("corpus_id").as[Long].collect().toSet
    assert(out.nonEmpty && out.forall(_ % 2 == 0), s"crossed clusters: $out")
  }

  test("ivfTopK: empty corpus and null vectors degrade gracefully") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      corpus.schema)
    assert(Similarity.ivfTopK(empty, corpus, "embedding", "vec_id", k = 2).count() == 0)
    val withNull = corpus.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val out = Similarity.ivfTopK(withNull, withNull.filter(col("vec_id") === 1L),
      "embedding", "vec_id", k = 2, nCentroids = 2, nProbes = 2)
    assert(out.count() > 0) // null row excluded, no NPE
  }

  test("ANN recall vs exact brute force is measured, not assumed (floors pinned)") {
    // deterministic 300-vector corpus, 10 queries; ground truth = exact
    // top-5 — approximate paths must recover a pinned share of it
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 300)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", 5))
    assert(exact.size == 50)
    val lsh = pairs(Similarity.lshTopK(corpus, queries, "embedding", "vec_id", 5,
      nBits = 4))
    val ivf = pairs(Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", 5,
      nCentroids = 8, nProbes = 3))
    val lshRecall = exact.count(lsh.contains).toDouble / exact.size
    val ivfRecall = exact.count(ivf.contains).toDouble / exact.size
    // everything is hash/seed-deterministic: these are measured values
    // with slack, not hopes — a broken bucket join drops them to ~0
    assert(lshRecall >= 0.3, s"LSH recall $lshRecall")
    assert(ivfRecall >= 0.3, s"IVF recall $ivfRecall")
  }

  test("pqEncode kernel: nearest codeword by L2, ties to the smaller code") {
    // m=1 subspace, two codewords on the axes. (1,0) is nearest c1;
    // (0.6,0.6) is equidistant (biased dot 0.1 for both) -> code 1 wins
    val books = Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.6f)),
      (3L, Array(0.1f, 0.9f))).toDF("id", "v")
    val got = df.select(col("id"),
        Kernels.pqEncode(col("v"), books).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(1L) && got(2L) == Seq(1L) && got(3L) == Seq(2L))
    // two subspaces tile a 4-dim vector independently
    val books2 = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(5.0, 5.0), Array(-1.0, -1.0)))
    val g2 = Seq((1L, Array(0.0f, 1.0f, -0.9f, -1.1f))).toDF("id", "v")
      .select(Kernels.pqEncode(col("v"), books2))
      .as[Seq[Long]].head()
    assert(g2 == Seq(2L, 2L))
  }

  test("ivfPqTopK recalls clustered neighbors; output invariant to partitioning") {
    // two tight clusters in 8 dims (dim % pqM == 0); PQ codes must keep
    // same-cluster neighbors in the shortlist and the exact refine must
    // order them correctly
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
                 else Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i + j) % 5) })
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(c, q, "embedding", "vec_id", k = 5,
          nCentroids = 2, nProbes = 1, pqM = 4, pqCodes = 4, rerank = 10)
        .select("query_id", "corpus_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val out = run(vecs)
    assert(out.nonEmpty && out.forall(_._2 % 2 == 0), s"crossed clusters: $out")
    // the rounded-score cut makes the whole pipeline a pure function of
    // the data: any physical layout must produce identical rows
    assert(run(vecs.repartition(13)) == out)
  }

  test("IVF-PQ recall measured vs exact brute force (floor pinned)") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 300)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", 5))
    val pq = pairs(Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id", 5,
      nCentroids = 8, nProbes = 3, pqM = 4, pqCodes = 8, rerank = 24))
    val recall = exact.count(pq.contains).toDouble / exact.size
    // measured, deterministic; near-uniform gaussians are the
    // adversarial case for a 4x8 codebook — the probe budget (3/8
    // lists) caps recall exactly like plain IVF, and PQ noise inside
    // the shortlist costs a little more
    assert(recall >= 0.3, s"IVF-PQ recall $recall")
    // the exact refine means every reported cosine equals brute force's
    val bf = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", 200)
      .select("query_id", "corpus_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id", 5,
        nCentroids = 8, nProbes = 3, pqM = 4, pqCodes = 8, rerank = 24)
      .select("query_id", "corpus_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, c, s) =>
        assert(bf.get((q, c)).forall(_ == s), s"approx score leaked into output at ($q,$c)")
      }
  }

  test("IVF-PQ float margins at sf0.01 dwarf summation-order noise (oracle precondition)") {
    // The q_ann_ivfpq oracle replays PQ training and ADC scoring in
    // DuckDB with float arithmetic in a different summation order
    // (~1e-13 divergence). That replay is sound iff every float
    // DECISION in the chain has a margin far above that noise — the
    // same precondition the round-9 audit measured for the coarse
    // chain (tools/ann_margin_audit.py). Replicate the PQ chain
    // driver-side in plain Scala (independent transcription) and
    // measure: (1) per-iteration codeword-assignment margins,
    // (2) the distributed trainer agrees with the transcription,
    // (3) ADC scores sit far from their 6-decimal rounding boundaries.
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (m, nCodes, iters, nCent, nProbes) = (4, 8, 2, 16, 2)
    val centroids = Similarity.kmeansCentroids(emb, "embedding", "vec_id", nCent, 3)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) =>
        val d = v.map(_.toDouble).toArray
        val n = math.sqrt(d.map(x => x * x).sum)
        (id, if (n == 0) d else d.map(_ / n))
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val dim = rows.head._2.length
    val sub = dim / m
    // coarse assignment (margins for THIS chain were audited in r9)
    val resid = rows.map { case (id, u) =>
      val ci = centroids.indices.maxBy(i => (dot(u, centroids(i)), -i))
      (id, u.indices.map(j => u(j) - centroids(ci)(j)).toArray)
    }
    // PQ training replay, measuring assignment margins each iteration
    var books = Array.tabulate(m)(mi =>
      resid.sortBy(_._1).take(nCodes).map(_._2.slice(mi * sub, (mi + 1) * sub)))
    var minMargin = Double.MaxValue
    for (_ <- 1 to iters) {
      val sums = Array.fill(m, nCodes)(new Array[Double](sub))
      val counts = Array.fill(m, nCodes)(0L)
      for ((_, rv) <- resid; mi <- 0 until m) {
        val x = rv.slice(mi * sub, (mi + 1) * sub)
        val scores = books(mi).map(w => dot(x, w) - 0.5 * dot(w, w))
        val best = scores.indices.maxBy(i => (scores(i), -i))
        val second = scores.indices.filter(_ != best)
          .maxBy(i => (scores(i), -i))
        minMargin = math.min(minMargin, scores(best) - scores(second))
        val s = sums(mi)(best); var j = 0
        while (j < sub) { s(j) += x(j); j += 1 }
        counts(mi)(best) += 1
      }
      books = Array.tabulate(m)(mi => Array.tabulate(nCodes)(ci =>
        if (counts(mi)(ci) == 0) books(mi)(ci)
        else sums(mi)(ci).map(_ / counts(mi)(ci))))
    }
    assert(minMargin > 1e-9,
      s"PQ assignment margin $minMargin too close to float noise — the oracle replay is unsound")
    // the engine's distributed trainer converges to the same books
    val engineBooks = Similarity.pqCodebooks(
      emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("corpus_id"),
          Kernels.vectorL2Normalize(col("embedding")).as("__cv"))
        .withColumn("centroid_id",
          element_at(Kernels.topCentroids(col("__cv"), centroids, 1), 1))
        .select(col("corpus_id"),
          Kernels.centroidResidual(col("__cv"), col("centroid_id"), centroids).as("__rv")),
      "__rv", "corpus_id", m, nCodes, iters)
    for (mi <- 0 until m; ci <- 0 until nCodes; j <- 0 until sub)
      assert(math.abs(engineBooks(mi)(ci)(j) - books(mi)(ci)(j)) < 1e-10,
        s"trainer drift at ($mi,$ci,$j)")
    // ADC rounding-boundary gaps over the real query/candidate surface
    val queries = rows.filter(_._1 < 16)
    val assign = rows.map { case (id, u) =>
      id -> centroids.indices.maxBy(i => (dot(u, centroids(i)), -i))
    }.toMap
    val codes = resid.map { case (id, rv) =>
      id -> Array.tabulate(m) { mi =>
        val x = rv.slice(mi * sub, (mi + 1) * sub)
        val scores = books(mi).map(w => dot(x, w) - 0.5 * dot(w, w))
        scores.indices.maxBy(i => (scores(i), -i))
      }
    }.toMap
    var minBoundaryGap = Double.MaxValue
    for ((qid, qu) <- queries) {
      val probed = centroids.indices
        .sortBy(i => (-dot(qu, centroids(i)), i)).take(nProbes).toSet
      for ((cid2, _) <- rows if cid2 != qid && probed(assign(cid2))) {
        val qc = dot(qu, centroids(assign(cid2)))
        val adc = (0 until m).map { mi =>
          dot(qu.slice(mi * sub, (mi + 1) * sub), books(mi)(codes(cid2)(mi)))
        }.sum
        val s = qc + adc
        // rounding flips at the x.5 points of the 1e6-scaled value:
        // the gap to the nearest such edge bounds how much summation-
        // order noise the round(·, 6) can absorb
        val frac = s * 1e6 - math.floor(s * 1e6)
        minBoundaryGap = math.min(minBoundaryGap, math.abs(frac - 0.5))
      }
    }
    // gap is in 1e-6 units: 1e-4 of a unit = 1e-10 absolute — still
    // 1000x the 1e-13 summation-order noise
    assert(minBoundaryGap > 1e-4,
      s"an ADC score sits $minBoundaryGap rounding-units from a 6-decimal boundary")
    info(f"min PQ assignment margin: $minMargin%.3e (noise floor ~1e-13)")
    info(f"min ADC rounding-boundary gap: $minBoundaryGap%.3e rounding-units (~${minBoundaryGap * 1e-6}%.1e absolute)")
  }

  test("two-phase top-k equals the single-window answer on a multi-partition corpus") {
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 500)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .repartition(13) // many input partitions: local prune must not change results
    val queries = corpus.filter(col("vec_id") < 5)
    val out = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", 7)
    // reference answer via a plain global window in test code
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ref = c.crossJoin(q).filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(
        Kernels.vectorCosine(col("qv"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id").asc)))
      .filter(col("rn") <= 7)
      .select(col("query_id"), col("corpus_id"), col("rn"))
    val got = out.select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val want = ref.as[(Long, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("persistent IVF index: probe equals build-and-probe; scan prunes partitions") {
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 200)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.buildIvfIndex(corpus, "embedding", "vec_id", dir,
      nCentroids = 8, kmeansIters = 3)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries,
      "embedding", "vec_id", k = 4, nProbes = 2)
    val direct = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 4, nCentroids = 8, nProbes = 2, kmeansIters = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    // deterministic k-means → the index holds the same inverted lists
    assert(rows(indexed) == rows(direct))
    // the probe must reach the scan as a PARTITION filter (skips files),
    // not a post-scan row filter
    val f = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scanLine = f.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("centroid_id"), f)
  }

  test("persistent IVF-PQ index: probe equals build-and-probe; ADC scan reads codes only") {
    val rnd = new scala.util.Random(37)
    val corpus = (0 until 200)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id", dir,
      nCentroids = 8, kmeansIters = 3, pqM = 4, pqCodes = 4, pqIters = 2)
    val indexed = Similarity.ivfPqTopKIndexed(spark, dir, queries,
      "embedding", "vec_id", k = 4, nProbes = 2, rerank = 12)
    val direct = Similarity.ivfPqTopK(corpus, queries, "embedding", "vec_id",
      k = 4, nCentroids = 8, nProbes = 2, pqM = 4, pqCodes = 4, pqIters = 2,
      rerank = 12)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    // deterministic coarse chain + PQ trainer → identical codes, ADC
    // scores and shortlists either way
    assert(rows(indexed) == rows(direct))
    val f = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // both phases prune to the probed partitions...
    val scans = f.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("centroid_id")), f)
    // ...and the ADC pass reads only ids + codes — the raw vector
    // column must appear in NO scan that also reads codes (columnar
    // pruning is the 128x memory story)
    val reads = f.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(r => r.contains("codes") && !r.contains("unit_vec")),
      s"no codes-only scan:\n${reads.mkString("\n")}")
  }

  test("ivfPqRangeIndexed: threshold form keeps the pruned-plan contract and " +
      "equals the top-k form's pairs above the threshold") {
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 200)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rng").toString
    Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id", dir,
      nCentroids = 8, kmeansIters = 3, pqM = 4, pqCodes = 4, pqIters = 2)
    val range = Similarity.ivfPqRangeIndexed(spark, dir, queries,
      "embedding", "vec_id", threshold = 0.2, nProbes = 2, rerank = 12)
    // same probes + rerank: the range form is exactly the top-k form's
    // exact-scored shortlist, threshold-filtered instead of rank-cut
    val topk = Similarity.ivfPqTopKIndexed(spark, dir, queries,
      "embedding", "vec_id", k = 12, nProbes = 2, rerank = 12)
    assert(range.select("query_id", "corpus_id", "cosine")
        .as[(Long, Long, Double)].collect().toSet ==
      topk.filter(col("cosine") >= 0.2)
        .select("query_id", "corpus_id", "cosine")
        .as[(Long, Long, Double)].collect().toSet)
    // the ingest-screen plan contract: probed-partition pruning and a
    // codes-only ADC scan, same as the top-k pin
    val f = range.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = f.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("centroid_id")), f)
    val reads = f.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(r => r.contains("codes") && !r.contains("unit_vec")),
      s"no codes-only scan:\n${reads.mkString("\n")}")
  }

  test("null embeddings never occupy top-k slots (brute force)") {
    // a null vector yields a null cosine; the collect_smallest struct
    // ordering would rank a null negc FIRST — both the upstream filter
    // and the topKPerQuery guard must keep such rows out
    val withNulls = corpus.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val out = Similarity.bruteForceTopK(withNulls,
      withNulls.filter(col("vec_id").isin(1L, 99L)), "embedding", "vec_id", k = 3)
    val rows = out.select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_._2 == 99L), "null-embedding corpus row ranked")
    assert(!rows.exists(_._1 == 99L), "null-embedding query emitted")
    val clean = Similarity.bruteForceTopK(corpus,
      corpus.filter(col("vec_id") === 1L), "embedding", "vec_id", k = 3)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = out.select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == clean, "null rows changed the non-null query's answer")
  }

  test("top_centroids kernels with equal centroid matrices compare equal") {
    // Array fields default to reference equality, which would defeat
    // Catalyst canonicalization / subexpression elimination — the
    // expression must compare the matrix by value
    def kernel(m: Array[Array[Double]]): Object =
      org.apache.spark.sql.Kernels.topCentroids.expr(Seq(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("embedding")), Seq(m, 1))
    val e1 = kernel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val e2 = kernel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    assert(e1 != kernel(Array(Array(2.0, 0.0), Array(0.0, 1.0))))
  }

  test("vector functions: dot / norm / cosine / normalize") {
    val df = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val row = df.select(
      Kernels.vectorDot(col("a"), col("b")).as("d"),
      sqrt(Kernels.vectorDot(col("a"), col("a"))).as("n"),
      Kernels.vectorCosine(col("a"), col("b")).as("c"),
      element_at(Kernels.vectorL2Normalize(col("a")), 1).as("u0"))
      .as[(Double, Double, Double, Double)].collect().head
    assert(row._1 == 25.0 && row._2 == 5.0)
    assert(math.abs(row._3 - 1.0) < 1e-12)
    assert(math.abs(row._4 - 0.6) < 1e-12)
  }

  test("zero vectors: cosine defined as 0, normalize passes through") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val c = df.select(Kernels.vectorCosine(col("a"), col("b")))
      .as[Double].collect().head
    assert(c == 0.0)
  }

  test("nearestCentroidConfusion: separable clusters classify diagonally, dups count") {
    // 3 well-separated clusters (orthogonal axes + small noise): the
    // confusion matrix must be purely diagonal with exact counts —
    // including two IDENTICAL vectors, which must each be counted
    val rnd = new scala.util.Random(11)
    val base = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val rows = (0 until 30).map { i =>
      val l = i % 3
      val v = base(l).map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, l, v)
    } :+ ((100L, 0, base(0))) :+ ((101L, 0, base(0))) // exact duplicates
    val out = Similarity.nearestCentroidConfusion(
        rows.toDF("vec_id", "label", "embedding"), "embedding", "label", "vec_id")
      .as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((0, 0) -> 12L, (1, 1) -> 10L, (2, 2) -> 10L), out)
    // string labels are rejected up front (tie-break needs numeric order)
    intercept[IllegalArgumentException] {
      Similarity.nearestCentroidConfusion(
        rows.map { case (id, l, v) => (id, s"L$l", v) }.toDF("vec_id", "label", "embedding"),
        "embedding", "label", "vec_id")
    }
  }

  test("SQ8: roundtrip error bounded by span/510 per dimension, codes cover the range") {
    val rnd = new scala.util.Random(88)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(8)((rnd.nextDouble() * 10 - 5).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val (mins, spans) = Similarity.sq8Stats(df, "embedding")
    assert(mins.length == 8 && spans.forall(_ > 0))
    val rows = df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Kernels.sq8Decode(
          Kernels.sq8Encode(col("embedding"), mins, spans),
          mins, spans).as("vhat"))
      .as[(Long, Seq[Double], Seq[Double])].collect()
    for ((_, v, vhat) <- rows; i <- v.indices)
      assert(math.abs(v(i) - vhat(i)) <= spans(i) / 510.0 + 1e-12,
        s"dim $i: ${v(i)} vs ${vhat(i)} (span ${spans(i)})")
  }

  test("SQ8: constant dimension encodes to 0 and reconstructs the constant; dim mismatch rejected") {
    val df = Seq((1L, Array(3.5f, 1.0f)), (2L, Array(3.5f, 2.0f))).toDF("vec_id", "embedding")
    val (mins, spans) = Similarity.sq8Stats(df, "embedding")
    assert(spans(0) == 0.0)
    val vhat = df.orderBy("vec_id").select(Kernels.sq8Decode(
        Kernels.sq8Encode(col("embedding"), mins, spans), mins, spans))
      .as[Seq[Double]].collect()
    assert(vhat.forall(_.head == 3.5)) // min + 0*span = the constant
    val err = intercept[Throwable] {
      Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
        .select(Kernels.sq8Encode(col("embedding"), mins, spans)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("sq8_encode")), msgs(err).mkString(" | "))
  }

  test("SQ8 topK: recall 1.0 vs brute force on a spread corpus; invariant to partitioning") {
    val rnd = new scala.util.Random(99)
    val vecs = (0L until 300L).map(i =>
      (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 8)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val sq = pairs(Similarity.sq8TopK(df, q, "embedding", "vec_id", k = 5))
    val truth = pairs(Similarity.bruteForceTopK(df, q, "embedding", "vec_id", k = 5))
    // quantization noise can reorder near-ties, but the candidate SETS
    // should essentially coincide on spread vectors
    val overlap = sq.map(p => (p._1, p._2)) intersect truth.map(p => (p._1, p._2))
    assert(overlap.size >= 38, s"recall ${overlap.size}/40") // >= 0.95
    val repart = pairs(Similarity.sq8TopK(df.repartition(7), q, "embedding", "vec_id", k = 5))
    assert(repart == sq) // stats + codes deterministic under partitioning
  }
}

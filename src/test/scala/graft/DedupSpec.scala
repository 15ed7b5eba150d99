package graft

import graft.operators.{Dedup, Ops}
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick brown fox jumps over the lazy dog"), // exact dup modulo ws/case
    (3L, "the quick brown fox jumps over the lazy cat"),  // near dup
    (4L, "completely different content about spark engines"),
    (5L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("exact dedup clusters normalized-identical texts") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 4L -> 2L))
  }

  test("minhash LSH finds near and exact duplicates, canonical pair order") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
        shingleSize = 4, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 5L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("spanDuplication: planted shared span is counted, unique spans are not") {
    // doc 1's every 4-gram recurs in doc 2 or 3 ("The" in doc 2 only
    // breaks doc 2's FIRST gram — grams are case-sensitive like the
    // top-ngram contract); doc 3's last gram "over the lazy cat" is
    // unique; docs 4/5 are verbatim twins (6 tokens → 3 mutual grams).
    val out = Dedup.spanDuplication(docs, "text", "doc_id", n = 4)
      .select("doc_id", "n_grams", "n_dup_grams")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((6L, 6L)))
    assert(out(2L) == ((6L, 5L)))   // "The quick brown fox" is unique
    assert(out(3L) == ((6L, 5L)))   // "over the lazy cat" is unique
    assert(out(4L) == ((3L, 3L)) && out(5L) == ((3L, 3L)))
    val frac = Dedup.spanDuplication(docs, "text", "doc_id", n = 4)
      .filter(col("doc_id") === 3L).select("dup_frac").as[Double].head()
    assert(math.abs(frac - 5.0 / 6.0) < 1e-5)
  }

  test("spanDuplication: saltBuckets > 1 is result-identical to the plain join") {
    // boilerplate-skewed corpus in miniature: every even doc shares one
    // hot gram (the shape SCALING.md's skew measurement used at 8M docs)
    val skewed = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) s"u${i}a u${i}b u${i}c hot bp gram"
          else s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")).toDF("doc_id", "text")
    val plain = Dedup.spanDuplication(skewed, "text", "doc_id", n = 3)
    val salted = Dedup.spanDuplication(skewed, "text", "doc_id", n = 3,
      saltBuckets = 7)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    assert(salted.count() == 40L)
  }

  test("incrementalExact: history blocks, keep-first within batch, nulls admitted") {
    val history = Dedup.fingerprints(
      Seq((100L, "seen before"), (101L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "text")
    val batch = Seq(
      (1L, "Seen   before"),   // normalizes to an indexed fingerprint -> blocked
      (2L, "fresh content"),   // admitted
      (3L, "fresh  CONTENT"),  // same normalized content as 2 -> in-batch dup
      (4L, null.asInstanceOf[String]), // null fp never matches history (even its null row)
      (5L, null.asInstanceOf[String])) // second null-text row: one group, first wins
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, history, "text", "doc_id")
    assert(out.columns.toSeq == Seq("doc_id", "text", "fp"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
  }

  test("incrementalExact vs empty history reproduces exact()'s keep set") {
    val docs = Seq((1L, "a  b"), (2L, "A B"), (3L, "c"), (4L, "d"), (5L, "c "))
      .toDF("doc_id", "text")
    val empty = Dedup.fingerprints(docs.limit(0), "text")
    val admitted = Dedup.incrementalExact(docs, empty, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val keeps = Dedup.exact(docs, "text", "doc_id")
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(admitted == keeps && admitted == Seq(1L, 3L, 4L))
  }

  test("incrementalExact: bucketed index joins with ONE exchange (batch side only)") {
    // the 100 TB contract: per-ingest shuffle volume is O(batch) — the
    // corpus-scale index, bucketed on fp at the session parallelism,
    // must plan with no exchange of its own, and the batch's keep-first
    // aggregate exchange must be REUSED by the anti-join
    val nBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val corpus = (1L to 200L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
    graft.sources.Sinks.writeBucketed(
      Dedup.fingerprints(corpus, "text"), "graft_fp_index", Seq("fp"), nBuckets)
    try {
      val batch = (150L to 250L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
      val out = Dedup.incrementalExact(batch, spark.table("graft_fp_index"),
        "text", "doc_id")
      val p = out.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
      assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
        (201L to 250L).toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_fp_index")
  }

  test("incrementalMinhash: planted near-copies of indexed docs are found, fresh docs are not") {
    // shingles are CHARACTER 5-grams: each doc draws on its own letter so
    // distinct seeds share no grams at all (seed letters must be distinct
    // mod 26 — history 1..10 = b..k, fresh 18/20/24 = s/u/y)
    def doc(seed: Int) = {
      val c = ('a' + seed % 26).toChar
      (0 until 40).map(i =>
        s"$c$c${('a' + i % 26).toChar}${('a' + i / 26).toChar}$c$c").mkString(" ")
    }
    def mutate(d: String, at: Int) = {
      val w = d.split(" "); w(at) = "qmutantq"; w.mkString(" ")
    }
    val history = (1 to 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val (idxBands, idxSigs) = Dedup.minhashIndex(history, "text", "doc_id")
    val batch = Seq(
      (101L, mutate(doc(3), 20)), // near-copy of history doc 3
      (102L, mutate(doc(7), 5)),  // near-copy of history doc 7
      (103L, doc(18)), (104L, doc(20)), (105L, doc(24))) // fresh
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(batch, idxBands, idxSigs, "text", "doc_id")
      .select("new_id", "hist_id").as[(Long, Long)].collect().toSet
    assert(out.contains((101L, 3L)) && out.contains((102L, 7L)))
    assert(out.forall { case (n, _) => n == 101L || n == 102L })
  }

  test("incrementalMinhash: signature agreement is exact 1.0 for identical content") {
    val history = Seq((1L, (0 until 30).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val (idxBands, idxSigs) = Dedup.minhashIndex(history, "text", "doc_id")
    val batch = Seq((9L, (0 until 30).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val est = Dedup.incrementalMinhash(batch, idxBands, idxSigs, "text", "doc_id")
      .select("est_jaccard").as[Double].collect()
    assert(est.toSeq == Seq(1.0))
  }

  test("incrementalMinhash: batch bucket cap drops are observed, not silent") {
    import org.apache.spark.sql.Observation
    val text = (0 until 30).map(i => s"t$i").mkString(" ")
    val history = Seq((1L, text)).toDF("doc_id", "text")
    val (idxBands, idxSigs) = Dedup.minhashIndex(history, "text", "doc_id")
    // 5 identical batch docs land in the same buckets; cap at 2 members
    val batch = (11L to 15L).map(i => (i, text)).toDF("doc_id", "text")
    val obs = Observation("inc_cap")
    val out = Dedup.incrementalMinhash(batch, idxBands, idxSigs,
      "text", "doc_id", maxBucket = 2, capObs = Some(obs))
    // capped to the 2 smallest ids per bucket; both still match history
    assert(out.select("new_id").as[Long].collect().toSet == Set(11L, 12L))
    assert(obs.get("dropped_members").asInstanceOf[Long] > 0L)
    assert(obs.get("capped_buckets").asInstanceOf[Long] > 0L)
  }

  test("incrementalMinhash: null and sub-shingle docs emit no pairs and don't crash") {
    val history = Seq((1L, "too short"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val (idxBands, idxSigs) = Dedup.minhashIndex(history, "text", "doc_id")
    // two empty-signature docs must NOT pair as a perfect near-dup
    val batch = Seq((11L, "also short"), (12L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dedup.incrementalMinhash(batch, idxBands, idxSigs,
      "text", "doc_id").count() == 0)
  }

  test("incrementalMinhash: bucketed index frames plan no exchanges of their own") {
    // the 100 TB contract: per-ingest shuffle volume is O(batch). With
    // the index persisted bucketed (bands on (band, bandhash), sigs on
    // doc_id) both corpus-scale joins consume the bucketed layout
    // directly — exactly TWO hash exchanges (one per index side)
    // disappear relative to the same plan over unbucketed frames, and
    // the results are identical. Broadcast is disabled so the
    // comparison counts sort-merge exchanges deterministically.
    def doc(seed: Int) = {
      val c = ('a' + seed % 26).toChar
      (0 until 40).map(i =>
        s"$c$c${('a' + i % 26).toChar}${('a' + i / 26).toChar}$c$c").mkString(" ")
    }
    val nBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val corpus = (1 to 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val (bands, sigs) = Dedup.minhashIndex(corpus, "text", "doc_id")
    graft.sources.Sinks.writeBucketed(
      bands, "graft_mh_bands", Seq("band", "bandhash"), nBuckets)
    graft.sources.Sinks.writeBucketed(sigs, "graft_mh_sigs", Seq("doc_id"), nBuckets)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Seq((101L, doc(3)), (102L, doc(20))).toDF("doc_id", "text")
      def run(b: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalMinhash(batch, b, s, "text", "doc_id")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      val bucketed = run(spark.table("graft_mh_bands"), spark.table("graft_mh_sigs"))
      val plain = run(bands, sigs)
      assert(exchanges(plain) - exchanges(bucketed) == 2,
        s"plain=${exchanges(plain)} bucketed=${exchanges(bucketed)}\n" +
          bucketed.queryExecution.executedPlan.toString)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSet
      assert(rows(bucketed) == rows(plain) && rows(bucketed).nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS graft_mh_bands")
      spark.sql("DROP TABLE IF EXISTS graft_mh_sigs")
    }
  }

  test("incrementalMinhash: parameter mismatch with the index fails loudly") {
    val text = (0 until 30).map(i => s"t$i").mkString(" ")
    val history = Seq((1L, text)).toDF("doc_id", "text")
    val batch = Seq((9L, text)).toDF("doc_id", "text")
    // index built at numHashes=32: the build metadata rides the columns,
    // survives a parquet round-trip, and a default-parameter (16) ingest
    // must be rejected instead of silently never colliding
    // bands=8 keeps r=4, the batch default: band hashes still collide
    // for identical text (sig element i depends only on i), so ONLY the
    // signature length differs — the exact silent-deflation hazard
    val (idxBands, idxSigs) =
      Dedup.minhashIndex(history, "text", "doc_id", numHashes = 32, bands = 8)
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    idxSigs.write.parquet(s"$dir/sigs")
    idxBands.write.parquet(s"$dir/bands")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinhash(batch, spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/sigs"), "text", "doc_id")
    }
    assert(e.getMessage.contains("built with"))
    // a hand-built index WITHOUT metadata: the execution-time signature-
    // length guard backstops the numHashes case (zip_with would
    // otherwise null-pad and silently deflate every estimate)
    import org.apache.spark.sql.types.Metadata
    val bare = idxSigs.select(col("doc_id"), col("sig").as("sig", Metadata.empty))
    val bareBands = idxBands.select(col("doc_id"), col("band"),
      col("bandhash").as("bandhash", Metadata.empty))
    val ex = intercept[Exception] {
      Dedup.incrementalMinhash(batch, bareBands, bare, "text", "doc_id",
        numHashes = 16, bands = 4).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("index signature length")), ex.toString)
  }

  test("incrementalEmbedding: pruned probe finds planted near-dups; exhaustive probe is exact") {
    import graft.operators.Similarity
    // two tight clusters far apart: history holds both anchors, the
    // batch holds one near-copy per cluster plus an orthogonal outlier
    def v(base: Array[Double], eps: Double) =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }.toSeq
    val c1 = Array(10.0, 0.0, 0.0, 0.0)
    val c2 = Array(0.0, 10.0, 0.0, 0.0)
    val hist = (1 to 10).map(i =>
      (i.toLong, v(if (i % 2 == 0) c1 else c2, i * 0.01))).toDF("vec_id", "vec")
    val batch = Seq(
      (101L, v(c1, 0.005)), (102L, v(c2, 0.005)),
      (103L, Seq(0.0, 0.0, 7.0, 0.0))).toDF("vec_id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    // nCentroids matches the true cluster count — with more, kmeans
    // splits a cluster across lists and a single probe legitimately
    // loses the far half (that recall/probe tradeoff is q_ann_ivf's
    // gated territory, not this test's)
    Similarity.buildIvfIndex(hist, "vec", "vec_id", dir, nCentroids = 2)
    val pruned = Dedup.incrementalEmbedding(batch, dir, "vec", "vec_id",
        threshold = 0.9, nProbes = 1)
      .select("new_id", "hist_id").as[(Long, Long)].collect().toSet
    // each batch vector probes only ITS cluster's list, yet every
    // planted near-dup is found (5 history anchors per cluster)
    assert(pruned == ((1 to 10).map(i =>
      (if (i % 2 == 0) 101L else 102L, i.toLong))).toSet)
    // exhaustive probe == brute-force threshold join, bit-for-bit
    val exhaustive = Dedup.incrementalEmbedding(batch, dir, "vec", "vec_id",
      threshold = 0.9, nProbes = 2)
    val brute = Dedup.embeddingNearDupExact(
        batch.unionByName(hist), "vec", "vec_id", threshold = 0.9)
      .filter((col("id_a") >= 101L) =!= (col("id_b") >= 101L))
    assert(exhaustive.count() == brute.count() &&
      exhaustive.select("new_id", "hist_id").as[(Long, Long)].collect().toSet ==
        pruned)
  }

  test("incrementalEmbeddingPq: exhaustive probe+rerank reproduces the exact " +
      "threshold join; scores are always exact; rerank prunes, never invents") {
    import graft.operators.Similarity
    def v(base: Array[Double], eps: Double) =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }.toSeq
    val c1 = Array(10.0, 0.0, 0.0, 0.0)
    val c2 = Array(0.0, 10.0, 0.0, 0.0)
    val hist = (1 to 10).map(i =>
      (i.toLong, v(if (i % 2 == 0) c1 else c2, i * 0.01))).toDF("vec_id", "vec")
    val batch = Seq(
      (101L, v(c1, 0.005)), (102L, v(c2, 0.005)),
      (103L, Seq(0.0, 0.0, 7.0, 0.0))).toDF("vec_id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
    Similarity.buildIvfPqIndex(hist, "vec", "vec_id", dir,
      nCentroids = 2, pqM = 2, pqCodes = 4, pqIters = 2)
    // exhaustive audit configuration: all lists probed, rerank covers
    // every probed candidate -> the ADC shortlist cannot drop anything
    // and the output IS the exact cross-split threshold join
    val exhaustive = Dedup.incrementalEmbeddingPq(batch, dir, "vec", "vec_id",
      threshold = 0.9, nProbes = 2, rerank = 10)
    val brute = Dedup.embeddingNearDupExact(
        batch.unionByName(hist), "vec", "vec_id", threshold = 0.9)
      .filter((col("id_a") >= 101L) =!= (col("id_b") >= 101L))
    val exhaustivePairs =
      exhaustive.select("new_id", "hist_id").as[(Long, Long)].collect().toSet
    assert(exhaustive.count() == brute.count() &&
      exhaustivePairs == ((1 to 10).map(i =>
        (if (i % 2 == 0) 101L else 102L, i.toLong))).toSet)
    // scores in the output are EXACT cosines (the ADC approximation only
    // selects the shortlist): every score matches the flat path's
    val flat = Dedup.incrementalEmbedding(batch,
        { val d2 = java.nio.file.Files.createTempDirectory("ivf_ref").toString
          Similarity.buildIvfIndex(hist, "vec", "vec_id", d2, nCentroids = 2); d2 },
        "vec", "vec_id", threshold = 0.9, nProbes = 2)
      .select("new_id", "hist_id", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(exhaustive.select("new_id", "hist_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet == flat)
    // a tight rerank budget PRUNES (subset of the exact join) and still
    // keeps per-row scores exact -- it never invents pairs
    val tight = Dedup.incrementalEmbeddingPq(batch, dir, "vec", "vec_id",
        threshold = 0.9, nProbes = 2, rerank = 3)
      .select("new_id", "hist_id", "cosine").as[(Long, Long, Double)].collect()
    assert(tight.map(t => (t._1, t._2)).toSet.subsetOf(exhaustivePairs))
    assert(tight.forall(t => flat.contains(t)))
  }

  test("spanDuplication: docs below n tokens drop out; minDocs raises the bar") {
    val tiny = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.spanDuplication(tiny, "text", "doc_id", n = 4).count() == 0)
    // with minDocs = 3 the doc-4/5 pairwise dup disappears entirely
    val out = Dedup.spanDuplication(docs, "text", "doc_id", n = 4, minDocs = 3)
      .select("doc_id", "n_dup_grams").as[(Long, Long)].collect().toMap
    assert(out(4L) == 0L && out(5L) == 0L)
    // the mid-sentence grams 2..5 live in all of docs 1, 2, 3 and
    // survive; each end gram is in at most two docs and does not
    assert(out(1L) == 4L && out(2L) == 4L && out(3L) == 4L)
  }

  test("simhash pairs identical and near-identical docs within hamming bound") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 6, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((4L, 5L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("ngram jaccard: identical = 1.0, disjoint absent") {
    val blocked = docs.withColumn("blk", lit("all"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "text", "doc_id", "blk", n = 3)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((4L, 5L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.7 && pairs((1L, 3L)) < 1.0)
  }

  test("embedding near-dup finds identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.99f, 0.1f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
        threshold = 0.95, lshBits = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("dupClusters: transitive chains collapse to min-id components") {
    // chain 1-2-3-4 (diameter 3), pair 5-6,
    // isolated pair graph members only
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 4L), (8L, 9L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("ngramJaccardPairs length filter is lossless: minJaccard ≡ post-hoc threshold") {
    val rnd = new scala.util.Random(11)
    val vocab = "abcdefgh"
    val corpus = (1L to 60L).map { i =>
      val len = 4 + rnd.nextInt(40) // widely varying lengths → the bound prunes
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString, "b" + (i % 2))
    }.toDF("id", "t", "blk")
    for (t <- Seq(0.1, 0.3, 0.6)) {
      val direct = Dedup.ngramJaccardPairs(corpus, "t", "id", "blk", n = 2,
        minJaccard = t).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val posthoc = Dedup.ngramJaccardPairs(corpus, "t", "id", "blk", n = 2)
        .filter(col("jaccard") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(direct == posthoc, s"threshold $t")
    }
  }

  test("q_dedup_minhash on the benchmark tables: the build submits no job, the action 9") {
    val s = spark.newSession()
    val dir = new java.io.File("perfbench/data/sf0.1").getAbsolutePath
    val run = SparkEntry.queries("q_dedup_minhash")
    run(s, dir) // infers the table's schema once
    val (df, build) = JobShape.of(s, "dedup-minhash-build")(run(s, dir))
    val (_, action) = JobShape.of(s, "dedup-minhash-action")(
      df.write.format("noop").mode("overwrite").save())
    assert(build.jobs == 0, build)
    assert(action.jobs == 9, action)
  }

  test("lineDedup: first corpus occurrence survives, short lines exempt, text rebuilt in order") {
    val docs = Seq(
      (1L, "alpha beta\nshared line\n--\ntail one"),
      (2L, "shared line\ngamma delta\n--"),       // loses "shared line" to doc 1
      (3L, "shared line"),                        // its only long line is a dup -> doc vanishes
      (4L, null.asInstanceOf[String])             // null text never splits
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "text", "doc_id", minChars = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == (("alpha beta\nshared line\n--\ntail one", 4L, 0L)))
    // "--" is under minChars: kept even though doc 1 used it first
    assert(out(2L) == (("gamma delta\n--", 2L, 1L)))
  }

  test("lineDedup: tie within one document keeps the earliest position") {
    val docs = Seq((7L, "same line\nsame line\nother text")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "text", "doc_id").collect().head
    assert(out.getString(1) == "same line\nother text")
    assert(out.getLong(2) == 2L && out.getLong(3) == 1L)
  }

  /** Min-label components of `pairs` by a plain union-find, under
    * `lt`: NULL ids are dropped and an id paired only with NULL or
    * itself is its own cluster. */
  private def unionFind[T <: AnyRef](pairs: Seq[(T, T)], lt: (T, T) => Boolean): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((a, b) <- pairs) {
      Seq(a, b).filter(_ != null).foreach(x => parent.getOrElseUpdate(x, x))
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (lt(ra, rb)) parent(rb) = ra else if (lt(rb, ra)) parent(ra) = rb
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("dupClusters: local union-find and distributed loop agree on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)) // self-pairs included
      .toDF("id_a", "id_b")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.dupClusters(pairs, localEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)

    // the distributed loop against a union-find written here, on messy
    // graphs: self-pairs, duplicate and reversed pairs, NULL partners
    val longLt = (x: java.lang.Long, y: java.lang.Long) => x.longValue < y.longValue
    def distLongs(ps: Seq[(java.lang.Long, java.lang.Long)]) =
      Dedup.dupClusters(ps.toDF("id_a", "id_b"), localEdgeLimit = 0)
        .as[(Long, Long)].collect().map { case (i, c) => (Long.box(i), Long.box(c)) }.toMap
    for (seed <- 0 until 20) {
      val r = new scala.util.Random(seed)
      val n = 10 + r.nextInt(60)
      val base = Seq.fill(r.nextInt(2 * n) + 1)(
        (Long.box(r.nextInt(n).toLong), Long.box(r.nextInt(n).toLong)))
      val ps = base ++ base.take(base.size / 4).map(_.swap) ++ base.take(base.size / 8) ++
        Seq[(java.lang.Long, java.lang.Long)]((n + 1L, null), (null, n + 2L), (null, null))
      assert(distLongs(ps) == unionFind(ps, longLt), s"seed $seed")
    }
    val extremes = Seq[(java.lang.Long, java.lang.Long)](
      (Long.MaxValue, 5L), (5L, Long.MinValue), (Long.MaxValue, Long.MaxValue),
      (Long.MaxValue - 1, null), (7L, 8L))
    assert(distLongs(extremes) == unionFind(extremes, longLt))
    assert(distLongs(extremes)(Long.box(Long.MaxValue)) == Long.MinValue)

    val ints = (0 until 120).map(_ =>
      (Int.box(rnd.nextInt(90) - 45), Int.box(rnd.nextInt(90) - 45)))
    val distInts = Dedup.dupClusters(ints.toDF("id_a", "id_b"), localEdgeLimit = 0)
    assert(distInts.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(distInts.as[(Int, Int)].collect().map { case (i, c) => (Int.box(i), Int.box(c)) }
      .toMap == unionFind(ints, (x: Integer, y: Integer) => x.intValue < y.intValue))

    // Spark orders strings by their UTF-8 bytes: U+FFFF (EF BF BF) sorts
    // before U+1F600 (F0 9F 98 80), whose UTF-16 surrogates sort first
    // in Java's String order
    val (bmpMax, emoji) = ("\uFFFF", "\uD83D\uDE00")
    assert(emoji < bmpMax)
    val utf8Lt = (x: String, y: String) => java.util.Arrays.compareUnsigned(
      x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
    val strs = Seq((emoji, bmpMax), ("\uD83D\uDE01", emoji), ("a", "b"), ("b", "b"),
      ("c", null), (null, "d"))
    val distStrs = Dedup.dupClusters(strs.toDF("id_a", "id_b"), localEdgeLimit = 0)
      .as[(String, String)].collect().toMap
    assert(distStrs == unionFind(strs, utf8Lt))
    assert(distStrs(emoji) == bmpMax && distStrs("\uD83D\uDE01") == bmpMax)
  }

  test("dupClusters: non-integral ids take the distributed loop; min is lexicographic") {
    val pairs = Seq(("b", "c"), ("a", "b")).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs).as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("dupClusters: extreme ids (Long.MinValue) survive the local fast path") {
    // the fast path must not reserve any long value as an in-band
    // sentinel — hash-derived ids can take ANY value, including the
    // extremes; null partners register the non-null side as a node
    val pairs = Seq(
      (java.lang.Long.valueOf(Long.MinValue), java.lang.Long.valueOf(5L)),
      (java.lang.Long.valueOf(5L), java.lang.Long.valueOf(7L)),
      (java.lang.Long.valueOf(9L), null.asInstanceOf[java.lang.Long]))
      .toDF("id_a", "id_b")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(local == Map(
      Long.MinValue -> Long.MinValue, 5L -> Long.MinValue, 7L -> Long.MinValue,
      9L -> 9L))
    // and the two code paths still agree on it
    val dist = Dedup.dupClusters(pairs, localEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
  }

  test("dupClusters: a 2048-node shuffled-id path takes at most 44 rounds") {
    // 44 = 4·log2 n. Where ids lie in random order along a path,
    // min-label propagation crawls about one hop per round (829 rounds
    // here); large-star / small-star does not. Each round is one job:
    // the jobs past the setup's are the rounds,
    // and one pair of ids needs exactly 2 (the first round has nothing
    // to compare against, the second finds no change)
    def buildJobs(pairs: Seq[(Long, Long)]) = {
      val (out, shape) = JobShape.of(spark, "dup-clusters-rounds")(
        Dedup.dupClusters(pairs.toDF("id_a", "id_b"), localEdgeLimit = 0))
      (out.as[(Long, Long)].collect().toMap, shape.jobs)
    }
    val (one, oneJobs) = buildJobs(Seq((1L, 0L)))
    assert(one == Map(0L -> 0L, 1L -> 0L))
    val setupJobs = oneJobs - 2
    val ids = new scala.util.Random(6).shuffle((0L until 2048L).toVector)
    val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val (out, jobs) = buildJobs(path)
    assert(out == ids.map(_ -> 0L).toMap)
    assert(jobs - setupJobs <= 44, s"${jobs - setupJobs} rounds")
    val e = intercept[IllegalStateException](
      Dedup.starComponents(path.toDF("a", "b"), cap = 3))
    assert(e.getMessage.contains("did not converge in 3 rounds"), e.getMessage)
  }

  test("q_dup_clusters_dist on the benchmark tables: one job per round, none on read") {
    val s = spark.newSession()
    val dir = new java.io.File("perfbench/data/sf0.1").getAbsolutePath
    val run = SparkEntry.queries("q_dup_clusters_dist")
    run(s, dir) // infers the table's schema once
    val (df, build) = JobShape.of(s, "dup-clusters-dist-build")(run(s, dir))
    val (_, action) = JobShape.of(s, "dup-clusters-dist-action")(
      df.write.format("noop").mode("overwrite").save())
    // 6 jobs compute the pair graph and count its edges, as in
    // q_dup_clusters (7 jobs: those and the union-find's collect);
    // then 3 rounds of one job each
    assert(build.jobs == 9, build)
    // the labels are read from the last round's cached edge set
    assert(action.jobs == 1, action)
  }

  test("dedupByPairs keeps one representative per cluster plus unpaired rows") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3} -> keep 1; docs 4 and 5 never paired -> pass through
    assert(kept == Set(1L, 4L, 5L))
  }

  test("dupClusters: empty pair graph converges immediately") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType))))
    assert(Dedup.dupClusters(empty).count() == 0)
  }

  test("bucket cap is enforced inside the aggregation buffer; drops are counted") {
    import org.apache.spark.sql.Observation
    // 10 byte-identical docs: every band has ONE bucket holding all 10
    val dup = (1L to 10L).map((_, "same mass duplicated content everywhere"))
      .toDF("doc_id", "text")
    val obs = Observation()
    val pairs = Dedup.minhashLsh(dup, "text", "doc_id",
        shingleSize = 4, numHashes = 16, bands = 4, threshold = 0.5,
        maxBucket = 4, capObs = Some(obs))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the cap keeps the 4 SMALLEST ids per bucket — pairs only among 1..4
    val expected = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toSet
    assert(pairs == expected, s"got $pairs")
    val m = obs.get
    // 4 band-buckets of 10 members each, 6 dropped per bucket
    assert(m("dropped_members") == 24L, m)
    assert(m("capped_buckets") == 4L, m)
  }

  test("simhash bucket cap: bounded buffer, capped output, counted drops") {
    import org.apache.spark.sql.Observation
    val dup = (1L to 8L).map((_, "identical text for simhash capping test"))
      .toDF("doc_id", "text")
    val obs = Observation()
    val pairs = Dedup.simhashPairs(dup, "text", "doc_id",
        maxHamming = 3, bands = 4, maxBucket = 3, capObs = Some(obs))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for { a <- 1L to 3L; b <- (a + 1) to 3L } yield (a, b)).toSet
    assert(pairs == expected, s"got $pairs")
    val m = obs.get
    assert(m("dropped_members") == 20L, m) // 4 buckets × (8 - 3)
    assert(m("capped_buckets") == 4L, m)
  }

  test("embedding near-dup recovers planted near-duplicates (recall floor)") {
    // 40 random base vectors, each with a planted noisy copy at
    // cosine ≈ 0.999 — the exact near-dup set is the 40 planted pairs
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val noisy = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i + 1000L, noisy))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "embedding", "vec_id",
        threshold = 0.98, lshBits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 40).map(i => (i.toLong, i + 1000L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall, found ${pairs.size}")
    // precision 1.0: random 16-dim pairs never reach cosine 0.98
    assert(pairs.subsetOf(planted), s"false positives: ${pairs diff planted}")
  }

  test("embedding near-dup: multi-band OR-amplification recovers pairs one band misses") {
    // moderate-similarity planted pairs (~20-30° apart): a single
    // 10-bit band misses most of them (p^10 with p ≈ 0.85), four
    // independent bands recover a strict superset
    val rnd = new scala.util.Random(13)
    val rows = (0 until 60).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val noisy = base.map(x => x + 0.25f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i + 1000L, noisy))
    }
    val df = rows.toDF("vec_id", "embedding")
    def found(bands: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDup(df, "embedding", "vec_id",
          threshold = 0.8, lshBits = 10, bands = bands)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = found(1)
    val multi = found(4)
    assert(single.subsetOf(multi), s"band 0 pairs lost: ${single diff multi}")
    assert(multi.size > single.size,
      s"OR-amplification added nothing (${single.size} -> ${multi.size})")
  }

  test("minhash LSH recall vs exact Jaccard ground truth (floor pinned)") {
    // 12 base sentences, each with a lightly-edited twin — the exact
    // pair set is computed by the exact blocked-Jaccard operator over
    // the SAME shingle space, so lsh ⊆ exact must hold exactly and
    // recall is measurable, not guessed
    val bases = (0 until 12).map { i =>
      s"document number $i talks about topic $i with several shared words " +
        s"and some filler content to shingle over for test $i"
    }
    val docs = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq((i.toLong, b), (i + 100L, b.replace("several", "many")))
    }.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(
        docs.withColumn("blk", lit(1)), "text", "doc_id", "blk", n = 5)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id",
        shingleSize = 5, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 12, s"ground truth too small: $exact")
    assert(lsh.subsetOf(exact), s"verification must make lsh ⊆ exact: ${lsh diff exact}")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("recallGate empties a BROKEN hash family's output (the q_* gate contract)") {
    // moderate-similarity planted pairs (cosine ≈ 0.9, ~26° apart,
    // per-hyperplane agreement p ≈ 0.86): a sane family (4 bits × 4
    // bands, expected recall ≈ 0.95) clears the floor; a broken one
    // (one 24-bit band: p^24 ≈ 0.03) finds almost nothing. The gate
    // must pass the former untouched and EMPTY the latter — exactly
    // the wiring q_embedding_neardup/q_ann_* ship with.
    val rnd = new scala.util.Random(13)
    val rows = (0 until 60).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val noisy = base.map(x => x + 0.25f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i + 1000L, noisy))
    }
    val df = rows.toDF("vec_id", "embedding")
    val truth = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.8)
    assert(truth.count() >= 30, "fixture must plant a measurable truth set")
    val sane = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      threshold = 0.8, lshBits = 4, bands = 4)
    val broken = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      threshold = 0.8, lshBits = 24)
    val gatedSane = Ops.recallGate(sane, truth, Seq("id_a", "id_b"), floor = 0.5)
    val gatedBroken = Ops.recallGate(broken, truth, Seq("id_a", "id_b"), floor = 0.5)
    assert(gatedSane.count() >= truth.count() / 2,
      "sane family should survive its gate")
    assert(gatedBroken.count() == 0,
      s"broken family must be emptied (raw had ${broken.count()} rows)")
  }

  test("embeddingNearDupExact truthSampleOneIn: declared id-modulus sample of the truth set") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val noisy = base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
      Seq((i.toLong, base), (i + 1000L, noisy))
    }
    val df = rows.toDF("vec_id", "embedding")
    val full = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.8).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sampled = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.8, truthSampleOneIn = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the sample IS the even-id pair subfamily of the full truth
    assert(sampled == full.filter(p => p._1 % 2 == 0 && p._2 % 2 == 0))
    assert(sampled.nonEmpty, "fixture must keep a measurable subfamily")
  }

  // ---- round 15: incremental perceptual screen ----

  private def pgm9x8(px: Int => Int): Array[Byte] =
    "P5\n9 8\n255\n".getBytes("ISO-8859-1") ++
      Array.tabulate(72)(i => px(i).toByte)

  test("incrementalPhash (r15): partial-probe banded screen equals the " +
    "brute-force cross-split join — pigeonhole stays EXACT probing only " +
    "maxHamming+1 of 8 band partitions; junk blobs emit no pairs") {
    val rnd = new scala.util.Random(0x9815ea)
    val base = Array.fill(48)(Array.tabulate(72)(_ => rnd.nextInt(256)))
    val rows = (0 until 48).map { i =>
      // every 3rd batch image is a near-copy of a HISTORY image (one
      // two-pixel edit), the rest are independent
      if (i % 4 != 0 && i % 3 == 0) {
        val h = (i / 4) * 4 // a history id
        val edit = base(h).clone(); edit(20) = (edit(20) + 90) % 256
        (i.toLong, pgm9x8(edit(_)))
      } else (i.toLong, pgm9x8(base(i)(_)))
    } :+ ((999L, "junk not an image".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "img")
    val hist = df.filter(col("doc_id") % 4 === 0)
    val batch = df.filter(col("doc_id") % 4 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("phidx").toString
    Dedup.sketchIndex(hist, Kernels.dHash64(col("img")), "doc_id")
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val out = Dedup.incrementalSketch(batch, dir, Kernels.dHash64(col("img")), "doc_id",
      maxHamming = 6, bands = 8)
    val got = out.as[(Long, Long, Int)].collect().toSet
    // brute force over the same hashes, cross-split only
    val hs = rows.flatMap { case (id, b) =>
      Option(graft.functions.PHashKernels.dhash64(b))
        .map(h => id -> h.longValue()) }
    val brute = (for {
      (a, ha) <- hs if a % 4 != 0
      (b, hb) <- hs if b % 4 == 0
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(got == brute)
    assert(brute.exists { case (a, b, d) => d > 0 && a % 3 == 0 },
      "fixture must plant at least one nonzero-Hamming cross pair")
    assert(!got.exists(p => p._1 == 999L || p._2 == 999L))
    // the probe reaches the scan as a PARTITION filter (files skipped),
    // and blobs never enter an exchange
    val f = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scanLine = f.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("band"), f)
    val exchanges = f.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("img"), f)
  }

  test("incrementalPhash keyBands=2 (r15): paired-band keys equal the " +
    "brute-force join exactly (pigeonhole: >=2 agreeing bands at h<=6) " +
    "and the single-band path") {
    val rnd = new scala.util.Random(0x2b2b)
    val base = Array.fill(40)(Array.tabulate(72)(_ => rnd.nextInt(256)))
    val rows = (0 until 40).map { i =>
      if (i % 4 != 0 && i % 3 == 0) {
        val h = (i / 4) * 4
        val edit = base(h).clone(); edit(11) = (edit(11) + 70) % 256
        (i.toLong, pgm9x8(edit(_)))
      } else (i.toLong, pgm9x8(base(i)(_)))
    }
    val df = rows.toDF("doc_id", "img")
    val hist = df.filter(col("doc_id") % 4 === 0)
    val batch = df.filter(col("doc_id") % 4 =!= 0)
    val d1 = java.nio.file.Files.createTempDirectory("ph_k1").toString
    val d2 = java.nio.file.Files.createTempDirectory("ph_k2").toString
    Dedup.sketchIndex(hist, Kernels.dHash64(col("img")), "doc_id", keyBands = 1)
      .write.mode("overwrite").partitionBy("band").parquet(d1)
    Dedup.sketchIndex(hist, Kernels.dHash64(col("img")), "doc_id", keyBands = 2)
      .write.mode("overwrite").partitionBy("band").parquet(d2)
    val one = Dedup.incrementalSketch(batch, d1, Kernels.dHash64(col("img")), "doc_id",
      maxHamming = 6, bands = 8, keyBands = 1)
      .as[(Long, Long, Int)].collect().toSet
    val two = Dedup.incrementalSketch(batch, d2, Kernels.dHash64(col("img")), "doc_id",
      maxHamming = 6, bands = 8, keyBands = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(one == two)
    assert(two.nonEmpty, "fixture must plant pairs")
    // a keyBands mismatch against the index is refused
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSketch(batch, d2, Kernels.dHash64(col("img")), "doc_id",
        maxHamming = 6, bands = 8, keyBands = 1).collect()
    }
    assert(e.getMessage.contains("built with"))
    // pairs operator: keyBands=2 equals keyBands=1 equals brute force
    val p1 = Dedup.sketchPairs(df, Kernels.dHash64(col("img")), "doc_id",
      maxHamming = 6, bands = 8).as[(Long, Long, Int)].collect().toSet
    val p2 = Dedup.sketchPairs(df, Kernels.dHash64(col("img")), "doc_id",
      maxHamming = 6, bands = 8, keyBands = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(p1 == p2)
    // exactness precondition is enforced: keyBands=2 needs b-h >= 2
    intercept[IllegalArgumentException] {
      Dedup.sketchPairs(df, Kernels.dHash64(col("img")), "doc_id",
        maxHamming = 7, bands = 8, keyBands = 2)
    }
  }

  test("simhashPairs keyBands=3 over 8 bands (r15): 24-bit subset keys " +
    "equal the exact all-pairs reference at maxHamming 3") {
    // near-dup pairs planted by ONE-token edits over ~40-token docs (a
    // single token moves only a few simhash bits at that length);
    // 8 bands × h=3 leaves b−h=5 ≥ 3, so 3-subset keys stay exact
    def doc(i: Int, edit: Boolean): String = {
      val words = (0 until 40).map(k => s"tok${(i * 7 + k * k) % 23}_$k")
      val w = if (edit) words.updated(20, "edited") else words
      w.mkString(" ")
    }
    val docs = (0 until 60).map(i => (i.toLong, doc(i, edit = false))) ++
      (0 until 60 by 5).map(i => (1000L + i, doc(i, edit = true)))
    val df = docs.toDF("doc_id", "text")
    val exact = Dedup.simhashPairsExact(df, "text", "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val banded = Dedup.simhashPairs(df, "text", "doc_id",
      maxHamming = 3, bands = 8, keyBands = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == exact)
    assert(exact.nonEmpty, "fixture must produce pairs")
    // guards: key width and table-count caps, exactness precondition
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 3,
        bands = 4, keyBands = 2) // b-h = 1 < 2
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 1,
        bands = 16, keyBands = 3) // C(16,3) = 560 tables > 64
    }
  }

  test("phashIndex refuses table-count and key-width blowups at BUILD " +
    "time (r15 review) — never an index every ingest would reject") {
    val df = Seq((0L, pgm9x8(i => i))).toDF("doc_id", "img")
    intercept[IllegalArgumentException] {
      Dedup.sketchIndex(df, Kernels.dHash64(col("img")), "doc_id", bands = 16, keyBands = 8)
    } // C(16,8) = 12870 tables
    intercept[IllegalArgumentException] {
      Dedup.sketchIndex(df, Kernels.dHash64(col("img")), "doc_id", bands = 2, keyBands = 2)
    } // 2 x 32-bit chunks = 64-bit key > 63
  }

  test("incrementalPhash: band-count mismatch with the index fails loudly") {
    val df = Seq((0L, pgm9x8(i => i * 3))).toDF("doc_id", "img")
    val dir = java.nio.file.Files.createTempDirectory("phidx4").toString
    Dedup.sketchIndex(df, Kernels.dHash64(col("img")), "doc_id", bands = 4)
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalSketch(Seq((1L, pgm9x8(i => i * 3))).toDF("doc_id", "img"),
        dir, Kernels.dHash64(col("img")), "doc_id", maxHamming = 3, bands = 8)
    }
    assert(e.getMessage.contains("built with"))
  }
}

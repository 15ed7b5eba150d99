package graft

import graft.operators.Classifier
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // two disjoint vocabularies -> linearly separable in bucket space
  // (collisions across 64 buckets may merge a word pair, but 8 words
  // per class over 64 buckets leaves ample margin)
  private def corpus(n: Int) = (1 to n).map { i =>
    val pos = i % 2 == 0
    val vocab = if (pos) Seq("alpha", "bravo", "charlie", "delta")
    else Seq("zulu", "yankee", "xray", "whiskey")
    val text = (0 until 6).map(k => vocab((i * 7 + k) % 4)).mkString(" ")
    (i.toLong, text, if (pos) 1 else 0)
  }.toDF("doc_id", "text", "y")

  test("separable corpus trains to perfect accuracy in 4 iterations") {
    val out = Classifier.trainScore(corpus(200), "text", "doc_id",
      col("y") === 1, buckets = 64, iters = 4, lr = 8.0)
      .select("label", "predicted").as[(Long, Long)].collect()
    assert(out.length == 200)
    assert(out.forall { case (l, p) => l == p })
  }

  test("training is bit-identical across partition layouts") {
    val base = corpus(151)
    def run(df: org.apache.spark.sql.DataFrame) =
      Classifier.trainScore(df, "text", "doc_id", col("y") === 1)
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val a = run(base.repartition(1))
    val b = run(base.repartition(13, col("y")))
    // not approximately — EXACTLY: the fixed-point reductions make the
    // trained weights independent of partitioning
    assert(a == b)
  }

  test("fast sigmoid: exact midpoint, symmetry, bounds, monotonicity") {
    val zs = Seq(-100.0, -2.0, -0.5, 0.0, 0.5, 2.0, 100.0)
    val out = zs.toDF("z").select(Classifier.fastSigmoid(col("z")).as("s"))
      .as[Double].collect()
    assert(out(3) == 0.5)
    assert(out.forall(s => s > 0.0 && s < 1.0))
    assert(out.sliding(2).forall(p => p(0) < p(1)))
    // σ̃(-z) ≈ 1 - σ̃(z): symmetric up to one rounding of the final add
    // (determinism needs same-bits-for-same-input, not algebraic
    // identities — those the fixed-point layer never relies on)
    assert(out.zip(out.reverse).forall { case (a, b) =>
      math.abs(a - (1.0 - b)) < 1e-15 })
  }

  test("q_quality_classifier task beats the majority-class floor (acc >= 0.9)") {
    // the real corpus + real label at the real query config — guards
    // against the failure mode round 9 actually hit: a trainer that is
    // hash-green (deterministically reproducible) yet never learns,
    // sitting at the 0.77 majority-class floor. Probe-measured: 0.986
    // at sf0.001 with (256 buckets, iters=8, lr=2.0) on presence
    // features; 64 buckets stalls at ~0.82 ('spark' shares a bucket
    // with the equally-frequent 'stream').
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Classifier.trainScore(docs, "text", "doc_id",
      coalesce(col("text").contains("spark"), lit(false)),
      buckets = 256, iters = 8, lr = 2.0)
    val (acc, posRate) = out.filter(col("predicted").isNotNull)
      .select(avg((col("label") === col("predicted")).cast("double")),
        avg(col("label").cast("double")))
      .as[(Double, Double)].head()
    assert(acc >= 0.9, s"accuracy $acc below 0.9")
    assert(acc > math.max(posRate, 1 - posRate) + 0.05,
      s"accuracy $acc does not beat the majority-class floor ($posRate positive)")
  }

  test("driver-side quantize is bit-identical to Spark's round") {
    // the whole oracle contract hangs on this: weights are quantized
    // once driver-side, and DuckDB replays round(w*1e12) in SQL — the
    // three computations must agree to the last bit
    val rnd = new scala.util.Random(42)
    val adversarial = (-40 to 40).flatMap { k =>
      Seq((k.toDouble + 0.5) / Classifier.Scale, // exact half boundaries
        (k.toDouble - 0.5) / Classifier.Scale,
        k / Classifier.Scale)
    }
    val ws = (adversarial ++ (1 to 20000).map(_ => (rnd.nextDouble() - 0.5) * 64)
      ++ Seq(0.0, -0.0, 16.0, -16.0)).toArray
    val sparkSide = ws.toSeq.toDF("w")
      .select(round(col("w") * lit(Classifier.Scale), 0).cast("long"))
      .as[Long].collect()
    val driverSide = ws.map(Classifier.quantize)
    assert(sparkSide.toSeq == driverSide.toSeq)
  }

  test("wordless documents keep NULL score and predicted") {
    val docs = Seq((1L, "alpha bravo", 1), (2L, "   ", 0), (3L, null, 0))
      .toDF("doc_id", "text", "y")
    val out = Classifier.trainScore(docs, "text", "doc_id", col("y") === 1,
      iters = 1).collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.isNullAt(3), r.isNullAt(4)))).toMap
    assert(out(1L)._1 == 2L && !out(1L)._2 && !out(1L)._3)
    assert(out(2L) == ((0L, true, true)))
    assert(out(3L) == ((0L, true, true)))
  }

  test("argument guards") {
    val d = corpus(4)
    intercept[IllegalArgumentException](
      Classifier.trainScore(d, "text", "doc_id", col("y") === 1, buckets = 1))
    intercept[IllegalArgumentException](
      Classifier.trainScore(d, "text", "doc_id", col("y") === 1, iters = -1))
  }

  test("trainLangId JOINT per-iteration gradients are BIT-IDENTICAL to " +
    "the sequential per-class SQL chain") {
    import spark.implicits._
    val langs = Seq("en", "fr", "ru", "el")
    val vocab = Map(
      "en" -> Seq("the", "quick", "brown", "fox", "jumps", "lazy", "dog"),
      "fr" -> Seq("le", "renard", "brun", "rapide", "saute", "chien", "paresseux"),
      "ru" -> Seq("быстрая", "лиса", "прыгает", "через", "ленивую", "собаку", "и"),
      "el" -> Seq("γρήγορη", "αλεπού", "πηδά", "πάνω", "τεμπέλικο", "σκυλί", "και"))
    val docs = (0 until 64).map { i =>
      val lang = langs(i % 4)
      val v = vocab(lang)
      (i.toLong, (0 until 6).map(k => v((i + k) % v.size)).mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    val frame = Classifier.perDocCharFeatures(
      docs, "text", "doc_id", col("lang"), buckets = 128, n = 3)
    val joint = Classifier.trainLangId(frame, langs, 128, iters = 4, lr = 2.0)
    val seqW = graft.operators.ClassifierReference.trainLangIdSequential(frame, langs, 128, 4, 2.0)
    langs.indices.foreach { ki =>
      assert(java.util.Arrays.equals(joint(ki), seqW(ki)),
        s"class ${langs(ki)} diverged from the sequential chain")
    }
    assert(joint.exists(_.exists(_ != 0.0)), "trained weights all zero?")
  }

  test("the Double sigmoid twin is bit-identical to the Column fast sigmoid") {
    val zs = Seq(-100.0, -2.0, -0.5, 0.0, 0.5, 2.0, 100.0)
    val viaColumn = zs.toDF("z").select(Classifier.fastSigmoid(col("z")))
      .as[Double].collect()
    assert(viaColumn.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      zs.map(z => java.lang.Double.doubleToRawLongBits(Classifier.fastSigmoid(z))))
  }

  test("gradient partials widen past long range instead of wrapping") {
    val a = new Classifier.GradSums(2)
    a.add(0, Long.MaxValue); a.add(0, Long.MaxValue); a.add(1, -5L)
    val b = new Classifier.GradSums(2)
    b.add(0, Long.MaxValue); b.add(1, Long.MinValue); b.add(1, Long.MinValue)
    val m = a.merge(b)
    assert(m.sum(0) == (BigInt(Long.MaxValue) * 3).toDouble)
    assert(m.sum(1) == (BigInt(Long.MinValue) * 2 - 5).toDouble)
    // back inside long range after a widening: still exact
    val c = new Classifier.GradSums(1)
    c.add(0, Long.MaxValue); c.add(0, 2L); c.add(0, -12L)
    assert(c.sum(0) == (BigInt(Long.MaxValue) - 10).toDouble)
  }

  /** Random per-doc frames over a 40-word vocabulary: `y` is 1, 0 or
    * NULL, `lang` one of four labels or NULL. */
  private def randomDocs(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val langs = Seq("en", "fr", "ru", "el")
    (1 to 90).map { i =>
      val text = Seq.fill(1 + rnd.nextInt(9))(s"w${rnd.nextInt(40)}").mkString(" ")
      val y = rnd.nextInt(3) match { case 2 => None; case v => Some(v) }
      val lang = if (rnd.nextInt(6) == 0) None else Some(langs(rnd.nextInt(4)))
      (i.toLong, text, y, lang)
    }.toDF("doc_id", "text", "y", "lang")
  }

  test("the RDD trainer is BIT-IDENTICAL to the SQL reference on random " +
    "corpora, at 1 and 7 partitions, K = 1 and K = 4") {
    import graft.operators.ClassifierReference
    val langs = Seq("en", "fr", "ru", "el")
    for (buckets <- Seq(64, 256); lr <- Seq(2.0, 8.0)) {
      val seed = buckets + lr.toInt
      val docs = randomDocs(seed)
      val yFrame = Classifier.perDocFeatures(docs, "text", "doc_id", col("y"), buckets)
      val langFrame = Classifier.perDocCharFeatures(
        docs, "text", "doc_id", col("lang"), buckets)
      val wantY = ClassifierReference.train(yFrame, buckets, 4, lr)
      val wantLang = ClassifierReference.trainLangIdSequential(langFrame, langs, buckets, 4, lr)
      assert(wantY.exists(_ != 0.0) && wantLang.forall(_.exists(_ != 0.0)))
      for (parts <- Seq(1, 7)) {
        val at = s"seed $seed, $buckets buckets, lr $lr, $parts partitions"
        val y = yFrame.repartition(parts, col("__id"))
        assert(java.util.Arrays.equals(Classifier.train(y, buckets, 4, lr), wantY), at)
        val lang = langFrame.repartition(parts, col("__id"))
        val got = Classifier.trainLangId(lang, langs, buckets, 4, lr)
        langs.indices.foreach { ki =>
          assert(java.util.Arrays.equals(got(ki), wantLang(ki)), s"$at, class ${langs(ki)}")
        }
      }
    }
    // an empty frame trains to zero weights
    val empty = Classifier.perDocFeatures(randomDocs(1).limit(0), "text", "doc_id",
      col("y"), 64)
    assert(Classifier.train(empty, 64, 4, 2.0).forall(_ == 0.0))
  }

  test("training submits one job per iteration over a materialized cache") {
    val frame = Classifier.perDocFeatures(corpus(200), "text", "doc_id", col("y"), 64)
      .repartition(4, col("__id")).cache()
    val charFrame = Classifier.perDocCharFeatures(randomDocs(5), "text", "doc_id",
      col("lang"), 64).repartition(4, col("__id")).cache()
    try {
      frame.count(); charFrame.count()
      val (w, one) = JobShape.of(spark, "classifier-train")(
        Classifier.train(frame, 64, iters = 8, lr = 2.0))
      // iters + c jobs with c = 0: the first iteration's row counts are
      // the doc count, and the partials come back without a shuffle
      assert(w.exists(_ != 0.0))
      assert(one.jobs <= 8 && one.shuffleBytes == 0, one)
      val (ws, joint) = JobShape.of(spark, "classifier-train-langid")(
        Classifier.trainLangId(charFrame, Seq("en", "fr", "ru", "el"), 64,
          iters = 4, lr = 2.0))
      assert(ws.size == 4)
      assert(joint.jobs <= 4 && joint.shuffleBytes == 0, joint)
    } finally { frame.unpersist(); charFrame.unpersist() }
  }
}

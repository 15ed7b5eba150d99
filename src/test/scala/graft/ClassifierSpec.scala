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
    "the sequential per-class chain (r15) — iters jobs instead of " +
    "K*iters; error kernels stay below the Generate") {
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
}

package graft

import graft.operators.LmQuality
import org.apache.spark.sql.functions._

class LmQualitySpec extends SparkSpec {
  import spark.implicits._

  // corpus: "a b" ×2 and "a b c" — bigrams: "a b"×3, "b c"×1
  // heads: a→3, b→1; vocab {a, b, c} → V = 3
  private val corpus = Seq(
    (1L, "a b"), (2L, "a b"), (3L, "a b c")
  ).toDF("doc_id", "text")

  private def lp(n2: Long, n1: Long, alpha: Double = 0.5, v: Long = 3L) =
    math.log((n2 + alpha) / (n1 + alpha * v))

  test("train counts bigrams and heads; selfScore matches hand arithmetic") {
    val m = LmQuality.train(corpus, "text")
    assert(m.vocabSize == 3L)
    assert(m.bigrams.as[(String, Long)].collect().toMap ==
      Map("a b" -> 3L, "b c" -> 1L))
    assert(m.heads.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 1L))
    val out = LmQuality.selfScore(corpus, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val ab = lp(3, 3); val bc = lp(1, 1)
    assert(out(1L)._1 == 1L &&
      math.abs(out(1L)._2 - BigDecimal(ab).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(3L)._1 == 2L &&
      math.abs(out(3L)._2 - BigDecimal((ab + bc) / 2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("unseen bigrams and unseen heads score finite smoothed penalties") {
    val m = LmQuality.train(corpus, "text")
    val probe = Seq((10L, "a c"), (11L, "z z")).toDF("doc_id", "text")
    val out = LmQuality.score(probe, "text", "doc_id", m)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // "a c": head a seen (3), bigram unseen → ln(0.5 / (3 + 1.5))
    assert(math.abs(out(10L) - BigDecimal(lp(0, 3)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // "z z": nothing seen → ln(0.5 / 1.5) = ln(1/V)
    assert(math.abs(out(11L) - BigDecimal(lp(0, 0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("minCount prunes rare bigrams from the numerator, not the heads") {
    val m = LmQuality.train(corpus, "text", minCount = 2)
    assert(m.bigrams.as[(String, Long)].collect().toMap == Map("a b" -> 3L))
    assert(m.heads.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 1L))
    // doc 3's "b c" now scores as unseen-with-seen-head: ln(0.5/(1+1.5))
    val out = LmQuality.score(corpus, "text", "doc_id", m)
      .filter(col("id") === 3L).select("avg_logprob").as[Double].head()
    val expect = (lp(3, 3) + lp(0, 1)) / 2
    assert(math.abs(out - BigDecimal(expect).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("fluent text outranks shuffled gibberish under the self-model") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat slept"),
      (2L, "the cat sat on the mat and the dog slept"),
      (3L, "mat the on slept and cat sat dog the the") // same tokens, shuffled
    ).toDF("doc_id", "text")
    val out = LmQuality.selfScore(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) > out(3L) && out(2L) > out(3L))
  }

  test("null and sub-2-token docs are absent, never fatal") {
    val docs = Seq((1L, "a b"), (2L, "solo"), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = LmQuality.selfScore(docs, "text", "doc_id")
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L))
  }

  test("train materializes the count table: model frames do not re-aggregate the corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug")
    ).toDF("doc_id", "text")
    val model = LmQuality.train(docs, "text")
    // both model frames read the checkpointed counts — no explode
    // (Generate) or corpus aggregate left in either plan
    for (frame <- Seq(model.bigrams, model.heads)) {
      val plan = frame.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Generate"),
        s"model frame still re-explodes the corpus:\n$plan")
    }
    // the counts are the corpus's: 8 distinct bigrams over 7 words
    assert(model.bigrams.count() == 8 && model.vocabSize == 7)
  }
}

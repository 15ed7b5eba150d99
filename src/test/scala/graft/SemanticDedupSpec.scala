package graft

import graft.operators.SemanticDedup
import org.apache.spark.sql.functions._

class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated families; ids 10/11/12 are near-copies of id 10's
  // direction (cos > 0.99 to each other), id 20 points the other way
  private def corpus = Seq(
    (10L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
    (11L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),
    (12L, Seq(0.99f, 0.01f, 0.01f, 0.0f)),
    (20L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),
    (21L, Seq(0.0f, 0.0f, 1.0f, 0.02f)),
    (30L, Seq(0.5f, 0.5f, 0.5f, 0.5f))).toDF("id", "vec")

  test("near-copies collapse to their lowest-id representative") {
    val out = SemanticDedup.dedup(corpus, "vec", "id", k = 2, iters = 3,
      cosNum = 95, cosDen = 100)
      .select("id", "kept").as[(Long, Long)].collect().toMap
    assert(out(10L) == 1L) // lowest id of its ball survives
    assert(out(11L) == 0L && out(12L) == 0L)
    assert(out(20L) == 1L && out(21L) == 0L)
  }

  test("threshold 1/1 keeps everything except exact-direction copies") {
    val out = SemanticDedup.dedup(corpus, "vec", "id", k = 2, iters = 3,
      cosNum = 1, cosDen = 1)
      .select("id", "kept").as[(Long, Long)].collect().toMap
    assert(out.values.forall(_ == 1L)) // nothing is EXACTLY collinear
  }

  test("zero vectors are similar to nothing and always survive") {
    val df = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val out = SemanticDedup.dedup(df, "vec", "id", k = 1, iters = 1,
      cosNum = 1, cosDen = 2)
      .select("id", "kept").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
  }

  test("kept flags are bit-identical across partition layouts") {
    def run(df: org.apache.spark.sql.DataFrame) =
      SemanticDedup.dedup(df, "vec", "id", k = 2, iters = 2,
        cosNum = 9, cosDen = 10)
        .select("id", "kept").as[(Long, Long)].collect().toMap
    assert(run(corpus.repartition(1)) == run(corpus.repartition(7)))
  }

  test("argument guards") {
    intercept[IllegalArgumentException](SemanticDedup.dedup(
      corpus, "vec", "id", k = 2, iters = 1, cosNum = 0, cosDen = 1))
    intercept[IllegalArgumentException](SemanticDedup.dedup(
      corpus, "vec", "id", k = 2, iters = 1, cosNum = 3, cosDen = 2))
  }
}

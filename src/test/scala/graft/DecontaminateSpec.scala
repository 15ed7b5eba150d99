package graft

import graft.operators.Decontaminate
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq(
    (100L, "the quick brown fox jumps over the lazy dog tonight")
  ).toDF("doc_id", "text")

  private val train = Seq(
    // full benchmark sentence embedded → many shared 5-grams
    (1L, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
    // exactly one shared 5-gram
    (2L, "unrelated start quick brown fox jumps over totally different end"),
    // no overlap
    (3L, "completely different text with no shared sequences at all here"),
    (4L, ""), (5L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("overlap counts distinct shared 5-grams per training doc") {
    val out = Decontaminate.overlap(train, bench, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    // doc 1 contains the whole 10-token benchmark doc → 6 shared 5-grams
    assert(out(1L) == 6L, out.toString)
    assert(out(2L) == 1L, out.toString)
    assert(!out.contains(3L) && !out.contains(4L) && !out.contains(5L))
  }

  test("overlapBloom ≡ overlap at any fpp (false positives die in verification)") {
    val exact = Decontaminate.overlap(train, bench, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    for (fpp <- Seq(0.5, 0.01)) { // 0.5: the filter passes FPs constantly
      val bloomed = Decontaminate.overlapBloom(train, bench, "text", "doc_id",
          n = 5, expectedGrams = 64, fpp = fpp)
        .as[(Long, Long)].collect().toMap
      assert(bloomed == exact, s"fpp=$fpp")
    }
  }

  test("overlapBloom plan probes a bloom filter before the verification join") {
    val plan = Decontaminate.overlapBloom(train, bench, "text", "doc_id", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("minShared thresholds; clean() drops exactly the flagged docs") {
    val flagged = Decontaminate.overlap(train, bench, "text", "doc_id",
      n = 5, minShared = 2).as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(1L))
    val kept = Decontaminate.clean(train, bench, "text", "doc_id",
      n = 5, minShared = 2).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L, 5L))
  }

  test("wordNgrams: short docs yield empty, n-gram count is tokens-n+1, distinct") {
    val g = Seq(("a b c d", 1), ("a b", 2), ("x x x x x x", 3))
      .toDF("text", "id")
      .select(col("id"), Kernels.wordNgrams(col("text"), 3).as("g"))
      .as[(Int, Seq[String])].collect().toMap
    assert(g(1) == Seq("a b c", "b c d"))
    assert(g(2) == Seq.empty)
    assert(g(3) == Seq("x x x")) // distinct collapses repeats
  }

  test("overlap plan broadcasts the benchmark gram set") {
    val plan = Decontaminate.overlap(train, bench, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
  }

  test("byEmbedding flags a planted paraphrase the n-gram guard cannot see") {
    // corpus vector 10 is a near-copy of benchmark vector 1 (the
    // paraphrase case: no shared n-grams, ~identical embedding); vector
    // 11 is orthogonal to the whole benchmark
    val bench = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.99f, 0.01f, 0f)),                        // contaminated
      (11L, Array(0f, 0f, 1f)),                              // clean
      (12L, null.asInstanceOf[Array[Float]]))                // no evidence
      .toDF("vec_id", "embedding")
    val out = Decontaminate.byEmbedding(corpus, bench, "embedding", "vec_id",
        threshold = 0.95)
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L)._2 && out(10L)._1 > 0.99)
    assert(!out(11L)._2 && out(11L)._1 == 0.0)
    assert(!out.contains(12L)) // null embedding: scored nowhere
    // apply side: contaminated row dropped, null-embedding row KEPT
    val bad = Decontaminate.byEmbedding(corpus, bench, "embedding", "vec_id",
        threshold = 0.95)
      .filter(col("contaminated")).select(col("id").as("vec_id"))
    val kept = corpus.join(bad, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L))
    // benchmark side broadcasts (the corpus must stream, never shuffle)
    val plan = Decontaminate.byEmbedding(corpus, bench, "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

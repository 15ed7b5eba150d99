package graft

import graft.operators.{Dedup, FuzzyMatch, Multimodal}
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

/** Null / empty / degenerate inputs through every operator family —
  * at 100 TB every pathological row shape exists somewhere; none may
  * throw or silently drop siblings.
  */
class NullEdgeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, Some("normal document text here")),
    (2L, Some("")), (3L, Some("   \t\n ")), (4L, None),
    (5L, Some("x"))
  ).toDF("doc_id", "text")

  test("text stats survive null/empty/whitespace docs") {
    val out = docs.select(col("doc_id"), Kernels.textStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // doc 3: trim strips SPACES only, so "\t\n" remains and splits into
    // two empty tokens — the same quirk the column formulation and the
    // DuckDB oracle produce (split with limit -1 keeps boundary empties)
    assert(out == Map(1L -> 4L, 2L -> 0L, 3L -> 2L, 4L -> -1L, 5L -> 1L))
  }

  test("exact dedup: null text forms its own cluster, nothing throws") {
    val c = Dedup.exact(docs, "text", "doc_id")
    assert(c.agg(sum("dup_count")).as[Long].collect().head == 5L)
  }

  test("minhash + simhash LSH tolerate null and degenerate docs") {
    assert(Dedup.minhashLsh(docs, "text", "doc_id").count() >= 0)
    assert(Dedup.simhashPairs(docs, "text", "doc_id").count() >= 0)
  }

  test("fuzzy match: null main field still emits exactly one row per main row") {
    val main = Seq((1L, Some("alpha")), (2L, None)).toDF("id", "name")
    val lookup = Seq((10L, "alpha"), (20L, "beta")).toDF("cid", "cname")
    val out = FuzzyMatch.bestMatchById(main, "id", "name", lookup, "cname", Seq("cid"),
        lookupOrder = Nil)
    assert(out.count() == 2)
    // the null-name row still picks a (first-by-order) lookup row
    assert(out.filter(col("id") === 2L).count() == 1)
  }

  test("multimodal featurize: null blob becomes an empty-payload feature") {
    val media = Seq((1L, Some("payload")), (2L, None)).toDF("id", "txt")
      .withColumn("blob", when(col("txt").isNotNull, encode(col("txt"), "UTF-8")))
    val out = Multimodal.featurize(media, "id", "blob", dim = 4,
        decoder = MultimodalSpec.stub)
      .select("media_id", "n_bytes").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 7L, 2L -> 0L))
  }

  test("null-lang documents never pair: block key null-propagates like SQL ||") {
    // doc ids 16 apart land in the same modulo sub-block; identical text
    // would pair if the block key were non-null. concat (unlike
    // concat_ws) yields a NULL key for NULL lang, which never
    // equi-joins — exactly the oracle's `lang || '#' || …` semantics.
    val docs = Seq(
      (1L, Some("en"), "the same text exactly"),
      (17L, Some("en"), "the same text exactly"),
      (3L, None, "the same text exactly"),
      (19L, None, "the same text exactly")
    ).toDF("doc_id", "lang", "text")
      .withColumn("blk",
        concat(col("lang"), lit("#"), pmod(col("doc_id"), lit(16)).cast("string")))
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "blk", n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 17L)), s"null-lang docs paired: $pairs")
  }

  test("vector ops: mismatched dimensions fail loudly, never truncate") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    for (k <- Seq(Kernels.vectorCosine, Kernels.vectorDot)) {
      val e = intercept[Throwable] {
        df.select(k(col("a"), col("b"))).collect()
      }
      assert(chain(e).exists(_.contains("dimensions differ")), chain(e).mkString(" | "))
    }
  }

  test("vector ops: empty and zero vectors are defined") {
    val df = Seq(
      (1L, Array.empty[Float]),
      (2L, Array(0.0f, 0.0f))
    ).toDF("id", "v")
    val out = df.select(col("id"),
      Kernels.vectorCosine(col("v"), col("v")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 0.0, 2L -> 0.0))
  }

  test("mixtureWeights: null group and null units don't throw or poison rates") {
    val df = Seq(
      (Some("a"), Some(10L)), (Some("a"), Some(30L)),
      (None, Some(40L)),                  // null group: its own row, rate 1.0
      (Some("b"), None), (Some("b"), Some(20L))) // null units: sum skips it
      .toDF("src", "units")
    val out = graft.operators.Ops.mixtureWeights(df, "src", col("units"),
        Map("a" -> 0.1))
      .select("src", "rate").collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    // null-group units still count toward the corpus total (they are
    // real volume): total = 100, so rate(a) = 0.1 * 100 / 40
    assert(out(Some("a")) == 0.25)
    assert(out(Some("b")) == 1.0 && out(None) == 1.0)
  }

  test("nearestCentroidConfusion: null embeddings and null labels don't crash") {
    val rows = Seq(
      (1L, java.lang.Integer.valueOf(0), Array(1f, 0f)),
      (2L, java.lang.Integer.valueOf(0), Array(0.9f, 0.1f)),
      (3L, java.lang.Integer.valueOf(1), Array(0f, 1f)),
      (4L, java.lang.Integer.valueOf(1), null.asInstanceOf[Array[Float]]), // dropped
      (5L, null.asInstanceOf[java.lang.Integer], Array(0f, 0.8f))) // its own class
      .toDF("vec_id", "label", "embedding")
    val out = graft.operators.Similarity.nearestCentroidConfusion(
        rows, "embedding", "label", "vec_id")
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))) -> r.getLong(2)).toMap
    // null-embedding row 4 contributes nothing; rows 1-3 classify to their
    // own labels; the null-label vector forms a null centroid class and
    // row 5 lands on it (nearest by construction)
    assert(out((Some(0), Some(0))) == 2L)
    assert(out((Some(1), Some(1))) == 1L)
    assert(out.keys.exists(_._1.isEmpty)) // null-label row still reported
    assert(out.values.sum == 4L)
  }

  test("spanDuplication: null/empty/short docs drop out, siblings unaffected") {
    val twins = docs.union(Seq((6L, Some("normal document text here")))
      .toDF("doc_id", "text")) // give doc 1 a duplicate so spans exist
    val out = Dedup.spanDuplication(twins, "text", "doc_id", n = 4)
      .select("doc_id", "n_dup_grams").as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 6L)) // 2..5 carry no 4-grams
    assert(out(1L) == 1L && out(6L) == 1L)
  }

  test("LM scoring: degenerate corpus rows never poison the model") {
    // train on a corpus that is MOSTLY degenerate rows
    val out = graft.operators.LmQuality.selfScore(docs, "text", "doc_id")
      .select("id").as[Long].collect().toSet
    // doc 1 (4 tokens) scores; so does whitespace-quirk doc 3 — trim
    // strips spaces only, "\t\n" splits into two empty tokens and forms
    // ONE bigram, the exact contract the tokenization family and the
    // DuckDB oracle share (see the text-stats test above)
    assert(out == Set(1L, 3L))
  }

  test("rrfFuse: one or both retrieval lists empty yields empty, not error") {
    import graft.operators.Ranking
    val some = Seq((1L, 2.0), (2L, 1.0)).toDF("id", "s")
    val none = some.limit(0)
    assert(Ranking.rrfFuse(none, none, "id", "s", "s").count() == 0)
    val half = Ranking.rrfFuse(some, none, "id", "s", "s")
      .select("id", "rank_lex").as[(Long, Long)].collect().toMap
    assert(half == Map(1L -> 1L, 2L -> 2L)) // lex-only fusion survives
  }

  test("attribution: null user ids never match, timestamps stay exact") {
    import java.sql.Timestamp
    val acts = Seq((Some(1L), new Timestamp(1000000L), 10L),
      (None, new Timestamp(1000000L), 11L))
      .toDF("user_id", "a_ts", "a_id")
    val causes = Seq((Some(1L), new Timestamp(900000L), 20L),
      (None, new Timestamp(900000L), 21L))
      .toDF("user_id", "c_ts", "c_id")
    val out = graft.streaming.EventStreams.attribution(
        acts, causes, "user_id", "a_ts", "c_ts", "10 minutes")
      .select("a_id", "c_id").as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 20L))) // null-keyed rows join nothing
  }
}

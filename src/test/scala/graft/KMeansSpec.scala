package graft

import graft.operators.KMeans
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  // three tight planted clusters around distinct corners
  private def planted(n: Int, jitter: Double = 0.01) = (0 until n).map { i =>
    val c = i % 3
    val base = c match {
      case 0 => Array(1.0, 0.0, 0.0, 0.0)
      case 1 => Array(0.0, 1.0, 0.0, 0.0)
      case _ => Array(0.0, 0.0, 1.0, 1.0)
    }
    val r = new scala.util.Random(i)
    (i.toLong, base.map(v => (v + (r.nextDouble() - 0.5) * jitter).toFloat).toSeq, c)
  }.toDF("id", "vec", "c")

  test("planted clusters recovered exactly (pure assignment per cluster)") {
    val out = KMeans.fitAssign(planted(90), "vec", "id", k = 3, iters = 5)
      .join(planted(90).select("id", "c"), Seq("id"))
      .select("cluster", "c").as[(Long, Int)].collect()
    // every true cluster maps to exactly one fitted cluster
    val m = out.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).distinct }
    assert(m.values.forall(_.size == 1), m)
    assert(m.values.flatten.toSet.size == 3)
  }

  test("assignments are bit-identical across partition layouts") {
    val base = planted(91)
    def run(df: org.apache.spark.sql.DataFrame) =
      KMeans.fitAssign(df, "vec", "id", k = 3, iters = 4)
        .as[(Long, Long)].collect().toMap
    assert(run(base.repartition(1)) == run(base.repartition(13, col("c"))))
  }

  test("empty cluster keeps its previous centroid instead of vanishing") {
    // all vectors identical with k = 2: farthest-first runs out of
    // distinct vectors and duplicates the seed, so cluster 1 is empty
    // from the first iteration — it must carry its position through 3
    // updates (no NaN/crash) and simply never win an assignment
    val df = Seq((0L, Seq(0.5f, 0.5f)), (1L, Seq(0.5f, 0.5f)),
      (2L, Seq(0.5f, 0.5f))).toDF("id", "vec")
    val out = KMeans.fitAssign(df, "vec", "id", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(0L))
  }

  test("distance ties break to the lowest centroid id") {
    // seeds: id 0 (lowest id), then id 1 (farthest). id 2 sits exactly
    // equidistant between them -> the tie must go to centroid 0.
    // iters = 0 isolates the tie-break from Lloyd drift.
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.5f, 0.5f))).toDF("id", "vec")
    val out = KMeans.fitAssign(df, "vec", "id", k = 2, iters = 0)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
  }

  test("real embeddings: purity matches what the geometry allows") {
    // this table's labels are only WEAKLY geometric: measured with
    // float64 numpy, nearest-label-centroid accuracy (the ceiling for
    // any centroid method) is 0.366, and float Lloyd's from the same
    // farthest-first seeds reaches purity 0.18. The assertion is
    // therefore calibrated to the DATA, not to a wished-for 0.9:
    // the fixed-point fit must land at the float implementation's
    // level (>= 0.16) and above the trivial one-cluster floor (0.126,
    // the largest label's share).
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = KMeans.fitAssign(embs, "embedding", "vec_id", k = 10, iters = 4)
      .join(embs.select(col("vec_id"), col("label")), Seq("vec_id"))
    val purity = out.groupBy("cluster", "label").count()
      .groupBy("cluster").agg(max("count").as("top"), sum("count").as("n"))
      .agg(sum("top").cast("double") / sum("n")).as[Double].head()
    assert(purity >= 0.16, s"cluster purity $purity below the float-Lloyd level")
    assert(purity > 0.126, s"cluster purity $purity no better than one cluster")
  }

  /** Every message down an exception's cause chain — a kernel failure
    * inside a task reaches the driver wrapped in a SparkException. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("NULL vectors: a NULL seed fails naming its id, other NULL rows get cluster NULL") {
    val seedNull = Seq((3L, None), (5L, Some(Seq(0.0, 1.0))), (7L, Some(Seq(1.0, 0.0))))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      KMeans.fitAssign(seedNull, "vec", "id", k = 2, iters = 1))
    assert(e.getMessage.contains("lowest id 3") && e.getMessage.contains("NULL vector"),
      e.getMessage)
    // a NULL vector that is not the seed is never picked, never
    // assigned, and moves no centroid
    val df = Seq((0L, Some(Seq(1.0, 0.0))), (1L, None), (2L, Some(Seq(0.0, 1.0))),
      (3L, Some(Seq(0.9, 0.1)))).toDF("id", "vec")
    val out = KMeans.fitAssign(df, "vec", "id", k = 2, iters = 2)
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(0L -> Some(0L), 1L -> None, 2L -> Some(1L), 3L -> Some(0L)))
  }

  test("a NULL component fails with the kernel's null-element message") {
    val df = Seq((0L, Seq[java.lang.Double](1.0, 0.0)), (1L, Seq[java.lang.Double](0.5, null)),
      (2L, Seq[java.lang.Double](0.0, 1.0))).toDF("id", "vec")
    for ((k, iters) <- Seq((2, 1), (1, 1))) {
      val e = intercept[Exception](KMeans.fitAssign(df, "vec", "id", k, iters))
      assert(messages(e).contains("null element at index 1"), messages(e))
    }
    // the same NULL component in the seed row fails on the driver
    val seeded = Seq((0L, Seq[java.lang.Double](0.5, null)),
      (1L, Seq[java.lang.Double](0.0, 1.0))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      KMeans.fitAssign(seeded, "vec", "id", k = 1, iters = 0))
    assert(e.getMessage.contains("null element at index 1"), e.getMessage)
  }

  test("a dim-sum past 2^53 fails with the bound's message, never wrapping first") {
    // one component of 1e10 quantizes to 1e16 micro-units: past the
    // 2^53 ≈ 9.007e15 exact-double bound in a single row
    val big = Seq((0L, Seq(1.0e10, 0.0)), (1L, Seq(1.0e10, 0.0))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      KMeans.fitAssign(big, "vec", "id", k = 1, iters = 1))
    assert(e.getMessage.contains("cluster 0 dim-sum 20000000000000000 exceeds " +
      "the exact-double bound"), e.getMessage)
    // 5e12 quantizes to 5e18 — two of them overflow a long; the exact
    // partials must report the bound, not a wrapped negative sum. The
    // fit hash-splits points by id 8 ways: ids 0, 8, 16 share one
    // partition (the in-partition sum overflows), ids 0, 1, 2 land in
    // three (the driver's merge of the partials overflows).
    for (ids <- Seq(Seq(0L, 8L, 16L), Seq(0L, 1L, 2L))) {
      val huge = ids.map(i => (i, Seq(5.0e12))).toDF("id", "vec")
      val e = intercept[Exception](
        KMeans.fitAssign(huge, "vec", "id", k = 1, iters = 1))
      assert(messages(e).contains("cluster 0 dim-sum 10000000000000000000 exceeds " +
        "the exact-double bound"), messages(e))
    }
  }

  test("fitAssign: one job per seed pick and per iteration; only the id split shuffles") {
    val k = 10
    val iters = 4
    // points from a local relation: nothing upstream of the fit
    // shuffles, so every record counted below is the fit's own
    val embs = (0 until 400).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.tabulate(8)(j =>
        ((if (j == i % k) 1000000L else 0L) + r.nextInt(5000)) / KMeans.Micro))
    }.toDF("id", "vec")
    // the fit runs eagerly inside fitAssign; the assignment stays lazy
    val (out, shape) = JobShape.of(spark, "kmeans-job-shape")(
      KMeans.fitAssign(embs, "vec", "id", k, iters))
    assert(shape.jobs >= 1 && shape.jobs <= k + iters + 2, s"fit submitted ${shape.jobs} jobs")
    // the seed job's id split moves each point once; picks and Lloyd
    // iterations read the cached split and shuffle nothing
    assert(shape.shuffleRecords == 400L, s"fit wrote ${shape.shuffleRecords} shuffle records")
    assert(out.count() == 400L)
  }

  test("argument guards") {
    val df = planted(6)
    intercept[IllegalArgumentException](
      KMeans.fitAssign(df, "vec", "id", k = 0, iters = 1))
    intercept[IllegalArgumentException](
      KMeans.fitAssign(df, "vec", "id", k = 2, iters = -1))
  }
}

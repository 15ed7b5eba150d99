package graft.operators

import org.apache.spark.sql.{DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** The SQL delta-rule trainer that [[Classifier]]'s RDD loop replaced,
  * kept as the reference the loop is pinned bit-identical against
  * (ClassifierSpec): every iteration plans one Catalyst query — the
  * pre-quantized weights as an array literal, the error projection,
  * an explode of the bucket set and a (bucket, decimal(38,0)) sum —
  * and collects its ≤ `buckets` rows.
  */
object ClassifierReference {

  /** `iters` delta-rule iterations over (y, bs), as SQL. */
  def train(perDoc: DataFrame, buckets: Int, iters: Int,
            lr: Double): Array[Double] =
    train(perDoc, buckets, iters, lr, perDoc.count())

  private def train(perDoc: DataFrame, buckets: Int, iters: Int,
                    lr: Double, n: Long): Array[Double] = {
    import Classifier.{Scale, fastSigmoid, quantize}
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val w = Array.fill(buckets)(0.0)
    if (n == 0) return w
    for (_ <- 0 until iters) {
      val qw = typedlit(w.map(quantize).toIndexedSeq)
      val z = Kernels.sumIndexedLongs(col("bs"), qw).cast("double") / lit(Scale)
      val grads = perDoc
        .select((fastSigmoid(z) - col("y")).as("__err"),
          explode(col("bs")).as("b"))
        .groupBy(col("b"))
        .agg(sum(round(col("__err") * lit(Scale), 0)
          .cast("decimal(38,0)")).as("g"))
        .collect()
      // a bucket only NULL-target docs occupy sums to NULL: no update
      // (the SQL joint one-vs-rest trainer's rule; the SQL single-class
      // trainer threw a NullPointerException there)
      grads.foreach { r =>
        val j = r.getLong(0).toInt
        val s = r.getDecimal(1)
        if (s != null) w(j) = w(j) - lr * (s.doubleValue() / Scale) / n
      }
    }
    w
  }

  /** The sequential one-vs-rest chain: one SQL [[train]] per label
    * over (__lang = label) as 0/1, sharing one doc count. */
  def trainLangIdSequential(charFrame: DataFrame,
      labels: Seq[String], buckets: Int, iters: Int,
      lr: Double): Seq[Array[Double]] = {
    val n = charFrame.count()
    labels.map { k =>
      train(charFrame.select(col("__id"), col("n_words"),
        (col("__lang") === k).cast("double").as("y"), col("bs")),
        buckets, iters, lr, n)
    }
  }
}

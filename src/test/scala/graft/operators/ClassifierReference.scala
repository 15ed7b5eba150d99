package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The sequential one-vs-rest chain that [[Classifier.trainLangId]]'s
  * joint per-iteration training replaced. It lives in this package
  * because it calls the `private[operators]` [[Classifier.train]]
  * overload that takes a shared doc count.
  */
object ClassifierReference {

  /** The pre-r15 sequential one-vs-rest chain — kept as the reference
    * [[Classifier.trainLangId]] is pinned bit-identical against
    * (ClassifierSpec). */
  def trainLangIdSequential(charFrame: DataFrame,
      labels: Seq[String], buckets: Int, iters: Int,
      lr: Double): Seq[Array[Double]] = {
    val n = charFrame.count()
    labels.map { k =>
      Classifier.train(charFrame.select(col("__id"), col("n_words"),
        (col("__lang") === k).cast("double").as("y"), col("bs")),
        buckets, iters, lr, n)
    }
  }
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration of graft's custom expressions, so `spark.sql` users
  * can call them directly (`SELECT jaro_winkler(a, b) ...`). Every
  * [[Kernels]] entry with a usage text registers under its name; the
  * three hand-written expressions register below. Used by
  * [[graft.GraftExtensions]] (the `spark.sql.extensions` hook) and
  * registrable on an existing session via [[register]].
  */
object GraftSqlFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** A literal integer argument; a bigint literal only when it fits an
    * `Int` (narrowing it would silently run with a different value). */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private def stringArrayArg(e: Expression, fn: String): Seq[String] = e match {
    case a if a.foldable && (a.dataType == ArrayType(StringType, false) ||
        a.dataType == ArrayType(StringType, true)) =>
      a.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[UTF8String](StringType)
        .map(u => if (u == null) null else u.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string array argument like array('a','b'), got $other")
  }

  /** Reject wrong argument counts at analysis time: without this a call
    * like `collect_smallest(x, 5, true, 99)` would silently ignore the
    * extras (the builders index into `c` positionally), and a too-short
    * call would fail with an opaque IndexOutOfBounds.
    */
  private def arity(fn: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    (c: Seq[Expression]) => {
      if (c.length < min || c.length > max)
        throw new IllegalArgumentException(
          s"$fn expects ${if (min == max) s"$min" else s"$min to $max"} " +
            s"arguments, got ${c.length}; usage: $usage")
      build(c)
    }

  private def function(name: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage),
      arity(name, usage.split(" - ", 2)(0), min, max)(build))

  /** The SQL builder of the kernels sharing `name` (one per input count):
    * the inputs, then the kernel's SQL constants as literal integers.
    * [[Kernel.expr]] casts numeric arrays, as for a Column-API call. */
  private def fromKernels(name: String, ks: Seq[Kernel]) =
    function(name, ks.head.usage, ks.map(_.sqlMin).min, ks.map(_.sqlMax).max) { c =>
      val k = ks.find(k => c.length >= k.sqlMin && c.length <= k.sqlMax).get
      val (in, lits) = c.splitAt(k.inputs.length)
      k.expr(in, k.consts.zipWithIndex.map { case (const, i) =>
        if (const.sql && i < lits.length) intArg(lits(i), name) else const.default.get
      })
    }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Kernels.all.filter(_.usage != null).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (name, ks) => fromKernels(name, ks.sortBy(_.inputs.length)) } ++ Seq(
    function("sorted_jaccard", "sorted_jaccard(a, b) - Jaccard of sorted long arrays", 2, 2)(
      c => SortedLongJaccard(c(0), c(1))),
    function("multi_match",
      "multi_match(text, array('t1','t2',...)) - distinct listed terms " +
        "contained in text, in declaration order (one Aho-Corasick pass)", 2, 2)(
      c => MultiMatch(c(0), stringArrayArg(c(1), "multi_match"))),
    function("collect_smallest",
      "collect_smallest(x, limit) - the limit smallest values per group, " +
        "sorted; bounded aggregation buffer (safe on pathologically hot groups)", 2, 2)(
      c => CollectSmallest(c(0), intArg(c(1), "collect_smallest"))))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (id, inf, builder) =>
      registry.registerFunction(id, inf, builder)
    }
  }
}

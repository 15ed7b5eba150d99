package graft

import org.apache.spark.sql.GraftSqlFunctions

/** The custom expressions as seen by a SQL user. */
class SqlFunctionsSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftSqlFunctions.register(spark)
  }

  test("jaro_winkler callable from SQL") {
    val v = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS s")
      .collect().head.getDouble(0)
    assert(math.abs(v - 0.9611) < 1e-4)
  }

  test("shingle/minhash/jaccard pipeline in pure SQL") {
    val j = spark.sql(
      """SELECT sorted_jaccard(shingle_hashes64('the quick brown fox', 3),
        |                      shingle_hashes64('the quick brown cat', 3)) AS j
        |""".stripMargin).collect().head.getDouble(0)
    assert(j > 0.5 && j < 1.0)
    val ident = spark.sql(
      "SELECT sorted_jaccard(shingle_hashes64('same text', 3), shingle_hashes64('same text', 3))")
      .collect().head.getDouble(0)
    assert(ident == 1.0)
    val sig = spark.sql("SELECT minhashes(shingle_hashes64('hello world', 4), 8) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 8)
  }

  test("vector functions from SQL, incl. float arrays via implicit cast") {
    val row = spark.sql(
      """SELECT vector_cosine(array(3.0F, 4.0F), array(3.0F, 4.0F)) AS c,
        |       vector_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d,
        |       vector_lsh_bucket(array(1.0, 0.0), 4) AS b
        |""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getDouble(1) == 11.0)
    assert(row.getLong(2) >= 0L && row.getLong(2) < 16L)
  }

  test("text_stats struct from SQL") {
    val r = spark.sql("SELECT text_stats('the quick brown fox').n_tokens AS n")
      .collect().head.getLong(0)
    assert(r == 4L)
  }

  test("simhash_text deterministic from SQL") {
    val rows = spark.sql(
      "SELECT simhash_text('Spark AT scale') = simhash_text('spark at SCALE') AS eq")
      .collect().head.getBoolean(0)
    assert(rows)
  }

  test("collect_smallest aggregate from SQL: bounded, sorted, per group") {
    val out = spark.sql(
      """SELECT k, collect_smallest(v, 3) AS small
        |FROM VALUES ('a', 5), ('a', 1), ('a', 4), ('a', 2), ('a', 3), ('b', 9)
        |  AS t(k, v)
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(out(0).getSeq[Int](1) == Seq(1, 2, 3))
    assert(out(1).getSeq[Int](1) == Seq(9))
  }

  test("get_json_object and from_json agree on extraction (q_json_extract contract)") {
    // The benched query parses each props blob ONCE with from_json; this
    // spec carries the parser-agreement cross-check it used to do inline.
    val out = spark.sql(
      """SELECT CAST(get_json_object(j, '$.k') AS BIGINT) AS a,
        |       from_json(j, 'k BIGINT').k AS b
        |FROM VALUES ('{"k": 42}'), ('{"k": -7, "x": "y"}'), ('{"x": 1}'),
        |            ('{"k": null}'), ('not json'), (''), (CAST(NULL AS STRING))
        |  AS t(j)""".stripMargin).collect()
    out.foreach { r =>
      val a = if (r.isNullAt(0)) null else r.getLong(0)
      val b = if (r.isNullAt(1)) null else r.getLong(1)
      assert(a == b, s"path-extract $a != typed-parse $b")
    }
    assert(out.count(!_.isNullAt(0)) == 2) // only the two real k values survive
  }

  test("word_ngrams_all keeps duplicates in order; word_ngrams dedups") {
    val all = spark.sql("SELECT word_ngrams_all('a b a b', 2) AS g")
      .collect().head.getSeq[String](0)
    assert(all == Seq("a b", "b a", "a b"))
    val distinct = spark.sql("SELECT word_ngrams('a b a b', 2) AS g")
      .collect().head.getSeq[String](0)
    assert(distinct == Seq("a b", "b a"))
  }

  test("wrong argument counts are rejected, not silently ignored") {
    for (bad <- Seq(
        // extra 4th arg used to be dropped without error
        "SELECT collect_smallest(v, 3, true, 99) FROM VALUES (1) AS t(v)",
        "SELECT jaro_winkler('a')",
        "SELECT vector_dot(array(1.0))",
        "SELECT text_stats('a', 'b')")) {
      val e = intercept[Exception] { spark.sql(bad).collect() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).toSeq
      assert(chain(e).exists(_.contains("expects")), s"$bad -> ${chain(e)}")
    }
  }

  test("multi_match callable from SQL; non-literal pattern list rejected") {
    val rows = spark.sql(
      "SELECT multi_match(t, array('at', 'batch', 'zz')) FROM " +
        "VALUES ('a batch'), ('none') AS v(t)")
      .collect().map(_.getSeq[String](0).toList)
    assert(rows.toList == List(List("at", "batch"), Nil))
    val e = intercept[Exception] {
      spark.sql("SELECT multi_match(t, array(t)) FROM VALUES ('x') AS v(t)")
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(chain(e).exists(_.contains("literal string array")), chain(e))
  }

  test("cdc_boundaries and nfc_normalize callable from SQL, SQL == Column API") {
    val text = "the quick brown fox jumps over the lazy dog " * 8
    val viaSql = spark.sql(
      s"SELECT cdc_boundaries('$text', 5, 16, 128)")
      .collect()(0).getSeq[Int](0).toList
    val viaKernel = graft.functions.CdcKernels.boundaries(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), 5, 16, 128)
      .toIntArray().toList
    assert(viaSql == viaKernel && viaSql.nonEmpty)

    // the combining acute goes in as a real code point: Spark's chr()
    // is ASCII-mod-256 (unlike DuckDB's), so chr(769) would be \x01
    val nfc = spark.sql("SELECT nfc_normalize('cafe\u0301')")
      .collect()(0).getString(0)
    assert(nfc == "caf\u00e9")
  }

  test("non-literal size argument is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes64('abc', length('xy'))").collect()
    }
    assert(e.getMessage.contains("literal integer") ||
      e.getCause != null && e.getCause.getMessage.contains("literal integer"))
  }

  test("an integer argument outside the Int range is rejected, not narrowed") {
    // narrowed, 2^32 + 1 would run as k = 1 and 2^32 + 2 as k = 2
    for (bad <- Seq(
        "SELECT minhashes(shingle_hashes64('hello world', 4), 4294967297)",
        "SELECT zorder_n(array(1, 2), 4294967298)")) {
      val e = intercept[Exception] { spark.sql(bad).collect() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).toSeq
      assert(chain(e).exists(_.contains("expects a literal integer argument")),
        s"$bad -> ${chain(e)}")
    }
  }

  test("thresholded sorted_jaccard keeps a pair on the threshold and one in the rounding slack") {
    import graft.functions.MinHashKernels.denseJaccardAtLeast
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray
    // |A| = |B| = 3 sharing 2: J = 2/4, exactly on the threshold
    val (a, b) = (fromPrimitiveArray(Array(1L, 2L, 3L)), fromPrimitiveArray(Array(1L, 2L, 4L)))
    assert(denseJaccardAtLeast(a, b, 0.5) == 0.5)
    assert(denseJaccardAtLeast(a, b, Math.nextUp(0.5)) < Math.nextUp(0.5))
    // J = 2/3 rounds to 0.666667: a caller keeping round(j, 6) >= 0.666667
    // bounds the merge at 0.666666 and gets the exact score back
    val c = fromPrimitiveArray(Array(1L, 2L))
    assert(denseJaccardAtLeast(a, c, 0.666666) == 2.0 / 3)
    assert(denseJaccardAtLeast(a, c, 0.666667) < 0.666667)
    // through the blocked join: "abcd" and "abcde" share 2 of 3 trigrams
    import spark.implicits._
    val docs = Seq((1L, "abcd", "b"), (2L, "abcde", "b")).toDF("id", "t", "blk")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, "t", "id", "blk", n = 3,
      minJaccard = 0.666667).as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0.666667)))
    assert(graft.operators.Dedup.ngramJaccardPairs(docs, "t", "id", "blk", n = 3,
      minJaccard = 0.666668).count() == 0L)
  }

  test("thresholded sorted_jaccard: interpreted evaluation equals generated code") {
    import graft.operators.Dedup.sortedJaccard
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def set() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
    // `n` has a nullable element type, so (a, n) takes the NULL-checking
    // entry point and (a, b) the dense one
    val df = spark.sparkContext.parallelize(
      Seq.fill(300)((set(), set(), set().map(Option(_)))), 2).toDF("a", "b", "n")
    val cols = for (t <- Seq(0.0, 0.3, 0.5, 0.8); y <- Seq("b", "n"))
      yield sortedJaccard(col("a"), col(y), t)
    val codegen = df.select(cols: _*)
    assert(codegen.queryExecution.executedPlan.toString.contains("*(1)"))
    val compiled = codegen.collect().toSeq
    assert(compiled == interpreted(df.select(cols: _*).collect().toSeq))
  }

  test("sorted_jaccard: a NULL element fails naming its index") {
    def message(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $e"))
    // literal arrays (constant-folded, interpreted eval)
    val lit = intercept[Exception](
      spark.sql("SELECT sorted_jaccard(array(1L, NULL), array(1L))").collect())
    assert(message(lit).contains("null element at index 1"), message(lit))
    // column arrays through codegen: the null bitmap's second word
    import spark.implicits._
    val right = (0 until 80).map(i => if (i == 70) None else Some(i.toLong))
    val df = Seq((Seq(Option(1L)), right)).toDF("a", "b")
    val col = intercept[Exception](
      df.selectExpr("sorted_jaccard(a, b)").collect())
    assert(message(col).contains("null element at index 70"), message(col))
    // a nullable-typed array without NULLs still merges
    val ok = Seq((Seq(Option(1L), Option(2L)), Seq(Option(2L))))
      .toDF("a", "b").selectExpr("sorted_jaccard(a, b)").head().getDouble(0)
    assert(ok == 0.5)
  }
}

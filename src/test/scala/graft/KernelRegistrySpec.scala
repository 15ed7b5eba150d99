package graft

import java.lang.reflect.Modifier

import org.apache.spark.sql.{Column, DataFrame, GraftSqlFunctions, Kernel, Kernels, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The kernel registry's own contract: every entry names a real static
  * method, the SQL surface is exactly the pinned name set, NULL input
  * gives NULL, and interpreted evaluation (constant folding,
  * `NO_CODEGEN`) agrees with the generated code. */
class KernelRegistrySpec extends SparkSpec {

  /** The SQL-callable names: the registry's usage-bearing entries plus
    * the three hand-written expressions. */
  private val sqlNames = Set(
    "audio_dhash64", "audio_meta", "avro_meta", "brotli_decompress", "cdc_boundaries",
    "cfb_entries", "chunk_text", "cms_estimate", "collect_smallest", "decode_text",
    "dhash64", "doc_text", "eml_parts", "exif_meta", "feed_entries", "font_meta",
    "gunzip", "hilbert2", "html_extract", "html_links", "html_meta", "html_tables",
    "http_parts", "id3_tags", "image_meta", "jaro_winkler", "json_paths", "lz4_compress_store",
    "lz4_decompress", "lzw_compress", "lzw_decompress", "mbox_messages", "minhashes",
    "multi_match", "nfc_normalize", "parquet_meta", "pdf_images", "pdf_meta", "pdf_text",
    "ppt_text", "pptx_text", "rar_meta", "repetition_counts", "robots_crawl_delays",
    "robots_match", "robots_parse", "robots_sitemaps", "rtf_text", "sevenzip_meta",
    "shingle_hashes64", "simhash64", "simhash_text", "sitemap_entries", "sorted_jaccard",
    "tar_entries", "tar_extract", "text_stats", "unhilbert2", "url_parts", "url_resolve",
    "vector_cosine", "vector_dot", "vector_l2_normalize", "vector_lsh_bucket",
    "video_dhash64", "video_meta", "warc_records", "word_ngrams", "word_ngrams_all",
    "xls_cells", "xlsx_cells", "zip_entries", "zip_extract", "zorder2", "zorder_n",
    "zstd_decompress")

  /** Valid constants for every kernel that takes any. */
  private val consts: Map[String, Seq[Any]] = Map(
    "fuzzy_length_band" -> Seq(0.8), "fuzzy_signature" -> Seq(0.5),
    "shingle_hashes64" -> Seq(3), "minhashes" -> Seq(8), "cdc_boundaries" -> Seq(2, 4, 16),
    "word_ngrams" -> Seq(2), "word_ngrams_all" -> Seq(2), "chunk_text" -> Seq(3, 1),
    "bpe_tokens" -> Seq(Array("t", "th"), Array("h", "e")),
    "zorder_n" -> Seq(3), "hilbert2" -> Seq(16), "unhilbert2" -> Seq(16),
    "vector_lsh_bucket" -> Seq[Any](4, 42L),
    "top_centroids" -> Seq(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)), 1),
    "centroid_residual" -> Seq(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))),
    "centroid_dot" -> Seq(Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))),
    "pq_encode" -> Seq(Array(Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)))),
    "pq_query_table" -> Seq(Array(Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)))),
    "pq_adc" -> Seq(1),
    "sq8_encode" -> Seq(Array(-1.0, -1.0, -1.0), Array(4.0, 4.0, 4.0)),
    "sq8_decode" -> Seq(Array(-1.0, -1.0, -1.0), Array(4.0, 4.0, 4.0)),
    "decode_features" -> Seq(4, MultimodalSpec.stub))

  private val gz = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(bos)
    z.write("hello hello world".getBytes("UTF-8")); z.close()
    bos.toByteArray
  }

  private val cms = {
    val sketch = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.99, 7)
    Seq("alpha", "alpha", "beta").foreach(sketch.add(_))
    sketch.toByteArray
  }

  /** One non-NULL sample per input type (the first of each type), and
    * the inputs of kernels that refuse anything but their own format. */
  private val samples: Seq[(DataType, Any)] = Seq(
    StringType -> "The quick <b>brown</b> fox, the lazy dog. http://a.example/x?y=1",
    BinaryType -> gz,
    IntegerType -> 7,
    LongType -> 1L,
    ArrayType(StringType) -> Seq("alpha", "beta", "alpha"),
    ArrayType(IntegerType) -> Seq(1, 2, 3),
    ArrayType(LongType) -> Seq(1L, 1L, 1L),
    ArrayType(DoubleType) -> Seq(0.5, -1.0, 2.0),
    ArrayType(ArrayType(LongType)) -> Seq(Seq(1L, 1L, 1L), Seq(0L, 0L, 0L)),
    BinaryType -> cms,
    BinaryType -> Array[Byte](0, 64, -1),
    BinaryType -> graft.functions.LzwKernels.compress("hello hello world".getBytes("UTF-8")))
  private val ownInputs = Map(
    "cms_estimate" -> Seq("c9", "c0"), "sq8_decode" -> Seq("c10"), "lzw_decompress" -> Seq("c11"))
  private def column(t: DataType) = s"c${samples.indexWhere(_._1 == t)}"

  /** One row of all samples, as a scan (not a foldable literal). */
  private def frame(values: Seq[Any]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row.fromSeq(values)), 1),
    StructType(samples.indices.map(i => StructField(s"c$i", samples(i)._1))))

  private def call(k: Kernel): Column =
    k((ownInputs.getOrElse(k.name, k.inputs.map(column)).map(col) ++
      consts.getOrElse(k.name, Nil)): _*)

  test("every entry resolves a public static method") {
    assert(Kernels.all.size == 94)
    assert(Kernels.all.map(_.key).distinct.size == Kernels.all.size)
    for (k <- Kernels.all) {
      assert(k.inputs.forall(t => samples.exists(_._1 == t)), s"${k.name}: no sample input")
      assert(Modifier.isStatic(k.staticMethod.getModifiers), k.toString)
    }
  }

  test("the SQL-callable names are exactly the pinned set") {
    val registered = GraftSqlFunctions.all.map(_._1.funcName)
    assert(registered.size == sqlNames.size)
    assert(registered.toSet == sqlNames)
  }

  test("every SQL-callable entry returns NULL for NULL input, folded and scanned") {
    frame(samples.map(_ => null)).createOrReplaceTempView("kernel_nulls")
    for (k <- Kernels.all if k.usage != null) {
      val lits = consts.getOrElse(k.name, Nil).take(k.sqlMax - k.inputs.length)
      val folded = (k.inputs.map(t => s"CAST(NULL AS ${t.sql})") ++ lits).mkString(", ")
      val scanned = (k.inputs.map(column) ++ lits).mkString(", ")
      for (q <- Seq(s"SELECT ${k.name}($folded)", s"SELECT ${k.name}($scanned) FROM kernel_nulls"))
        assert(spark.sql(q).collect().head.isNullAt(0), q)
    }
  }

  test("array<float> vectors cast the same way through SQL and the Column API") {
    val df = spark.createDataFrame(java.util.Arrays.asList(
        Row(Seq(1.0f, 2.0f, 2.0f), Seq(3.0f, 0.5f, 4.0f)), Row(Seq(0.0f), Seq(0.0f))),
      StructType(Seq(StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType)))))
    df.createOrReplaceTempView("float_vectors")
    val viaSql = spark.sql("SELECT vector_dot(a, b), vector_cosine(a, b) FROM float_vectors")
      .collect().toSeq
    val viaColumn = df.select(Kernels.vectorDot(col("a"), col("b")),
      Kernels.vectorCosine(col("a"), col("b"))).collect().toSeq
    assert(viaColumn == viaSql)
    assert(viaSql.head.getDouble(0) == 12.0 && viaSql(1) == Row(0.0, 0.0))
  }

  test("interpreted evaluation equals generated code on a sample of every input type") {
    val df = frame(samples.map(_._2))
    var nonNull = 0
    // small groups, so each projection stays inside whole-stage codegen
    for (group <- Kernels.all.grouped(8)) {
      val codegen = df.select(group.map(call): _*)
      assert(codegen.queryExecution.executedPlan.toString.contains("*(1)"))
      val compiled = codegen.collect().head
      val plain = interpreted(df.select(group.map(call): _*).collect().head)
      // compared as one-field rows: Row equality compares binary by content
      for ((k, i) <- group.zipWithIndex)
        assert(Row(compiled.get(i)) == Row(plain.get(i)),
          s"${k.name}: codegen ${compiled.get(i)} != interpreted ${plain.get(i)}")
      nonNull += group.indices.count(i => !compiled.isNullAt(i))
    }
    // the sample reaches real work, not only the NULL paths
    assert(nonNull > 50, nonNull)
  }
}

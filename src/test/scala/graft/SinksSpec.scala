package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned parquet write round-trips and prunes partitions") {
    val dir = Files.createTempDirectory("graft-sink").toFile
    dir.deleteOnExit()
    val df = Seq((1L, "2024", "a"), (2L, "2024", "b"), (3L, "2025", "c"))
      .toDF("id", "year", "v")
    Sinks.writeParquet(df, dir.getAbsolutePath, partitionBy = Seq("year"))
    assert(new java.io.File(dir, "year=2024").exists())
    val back = spark.read.parquet(dir.getAbsolutePath)
    assert(back.count() == 3)
    // partition pruning: only the year=2025 directory is scanned
    val pruned = back.filter(col("year") === "2025")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
  }

  test("jsonl sink: gzip shards bounded by maxRecordsPerFile, lossless round-trip") {
    val dir = Files.createTempDirectory("graft-jsonl").toFile
    dir.deleteOnExit()
    val df = (0 until 100).map(i => (i.toLong, s"doc $i", if (i % 7 == 0) null else "en"))
      .toDF("doc_id", "text", "lang").coalesce(1)
    Sinks.writeJsonl(df, dir.getAbsolutePath, maxRecordsPerFile = 30,
      sortWithinPartitionsBy = Seq("doc_id"))
    val shards = dir.listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(shards.length == 4, shards.map(_.getName).mkString(",")) // ceil(100/30)
    val back = spark.read.json(dir.getAbsolutePath)
    assert(back.count() == 100)
    assert(back.filter(col("lang").isNull).count() == 15) // JSON null round-trips
    assert(back.select(sum("doc_id")).as[Long].collect().head == 4950L)
  }

  test("jsonl ingest: corrupt lines quarantined, never dropped, never fatal") {
    val dir = Files.createTempDirectory("graft-ingest").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "part-0.json")
    java.nio.file.Files.writeString(f.toPath,
      """{"doc_id": 1, "text": "good row"}
        |{"doc_id": 2 "text": "missing comma"}
        |{"doc_id": 3, "text": "another good row"}
        |not json at all
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    // every line is a row; corrupt ones keep the verbatim line in the
    // tag column and null data columns
    val tagged = graft.sources.Ingest.readJsonlTagged(spark, dir.getAbsolutePath, schema)
    assert(tagged.columns.toSeq == Seq("doc_id", "text", "_corrupt_record"))
    assert(tagged.count() == 4)
    assert(tagged.filter(col("_corrupt_record").isNull)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val bad = tagged.filter(col("_corrupt_record").isNotNull)
    assert(bad.filter(col("doc_id").isNull).count() == 2)
    val quarantined = bad.select("_corrupt_record").as[String].collect()
    assert(quarantined.length == 2)
    assert(quarantined.exists(_.contains("missing comma")))
    assert(quarantined.exists(_.contains("not json")))
  }

  test("jsonl ingest: whitespace-only lines (incl. CRLF remnants) are ignored, not quarantined") {
    val dir = Files.createTempDirectory("graft-ingest-blank").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(dir, "s.json").toPath,
      "{\"doc_id\": 1}\n\r\n\t\n   \n{\"doc_id\": 2}\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))
    val tagged = graft.sources.Ingest.readJsonlTagged(spark, dir.getAbsolutePath, schema)
    assert(tagged.count() == 2)
    // "\r", "\t", "   " are blanks, not errors
    assert(tagged.filter(col("_corrupt_record").isNotNull).count() == 0)
  }

  test("blob export + binaryFile ingest: byte-exact round trip, nulls skipped, bad names get null ids") {
    val dir = Files.createTempDirectory("graft-blobs").toFile
    dir.deleteOnExit()
    val rows = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Array[Byte](-128, 0, 127)),
      (7L, Array.tabulate(300)(_.toByte)))
    val df = rows.toDF("id", "blob")
      .unionByName(Seq((9L, null.asInstanceOf[Array[Byte]]))
        .toDF("id", "blob")) // null blob: skipped, never a 0-byte object
    graft.sources.Sinks.writeBlobs(df, "id", "blob", dir.getAbsolutePath, "bin")
    // a foreign file matching the glob but with a non-numeric base name
    java.nio.file.Files.write(new java.io.File(dir, "readme.bin").toPath,
      Array[Byte](42))
    val back = graft.sources.Ingest.readBlobs(spark, dir.getAbsolutePath, "*.bin")
    assert(back.columns.toSeq == Seq("media_id", "n_bytes", "blob"))
    val byId = back.filter(col("media_id").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    assert(byId.keySet == Set(1L, 2L, 7L))
    for ((id, blob) <- rows)
      assert(byId(id).toSeq == blob.toSeq, s"blob $id")
    // metadata length agrees with content without reading it
    assert(back.filter(col("media_id") === 7L)
      .select("n_bytes").as[Long].head() == 300L)
    // the non-numeric name surfaces as a null id for the caller to route
    assert(back.filter(col("media_id").isNull).count() == 1)
  }

  test("custom kernels compose inside a streaming plan: ingest -> redact -> quality gate") {
    val dir = Files.createTempDirectory("graft-stream-pipe").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(new java.io.File(dir, "s0.json").toPath,
      """{"doc_id": 1, "text": "good natural text mail me at a@b.io for more details here"}
        |{"doc_id": 2, "text": "spam spam spam spam spam spam spam spam spam spam"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val gated = spark.readStream.schema(schema).json(dir.getAbsolutePath)
      .withColumn("text", graft.functions.TextFunctions.redact(col("text"),
        Seq(graft.functions.TextFunctions.EmailPattern -> "<EMAIL>")))
      .withColumn("rep", graft.functions.TextFunctions.repetitionStats(col("text")))
      .filter(col("rep.distinct_ratio") >= 0.5)
      .select("doc_id", "text")
    val q = gated.writeStream.format("memory").queryName("pipe_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.sql("SELECT doc_id, text FROM pipe_out")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L)) // the repetitive doc is gated out
    assert(out(1L).contains("<EMAIL>") && !out(1L).contains("a@b.io"))
  }

  test("jdbcTemplate round-trips a MotoGP-shaped table through embedded Derby") {
    // the reference declares a live Postgres load (motogp.ktr:481-489);
    // no server database ships in this environment, so the SAME write
    // path is exercised against embedded Derby (in /opt/spark/jars for
    // the Hive metastore) — proving the JDBC sink works end-to-end, not
    // just that its options compile
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby.log")
    val db = Files.createTempDirectory("graft-derby").resolve("motogp").toString
    val url = s"jdbc:derby:$db;create=true"
    val riders = Seq(
      (1L, "Valentino Rossi", "Italy", 46),
      (2L, "Marc Marquez", "Spain", 93),
      (3L, "Fabio Quartararo", "France", 20))
      .toDF("id_rider", "rider_name", "country", "number")
    Sinks.jdbcTemplate(riders, url, "rider", user = "", password = "")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "rider").load()
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("country", "id_rider", "number", "rider_name"))
    assert(back.select("id_rider", "rider_name", "country", "number")
      .as[(Long, String, String, Int)].collect().toSet ==
      riders.as[(Long, String, String, Int)].collect().toSet)
    // append mode appends (the reference's load is incremental per run)
    Sinks.jdbcTemplate(riders.limit(1), url, "rider", user = "", password = "")
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "rider").load().count() == 4)
  }

  test("bucketed table: joins on the bucket key plan without a shuffle") {
    // managed tables land in the default warehouse dir (dropped below)
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Sinks.writeBucketed(df, "graft_bucketed_a", Seq("k"), 4, Seq("k"))
    Sinks.writeBucketed(df, "graft_bucketed_b", Seq("k"), 4, Seq("k"))
    val joined = spark.table("graft_bucketed_a")
      .join(spark.table("graft_bucketed_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == 100)
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
  }

  test("writeParquetBloom: filters land in the footer, admit written keys, reject absent ones") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-bloom").toFile
    // ids deliberately NOT sorted: min/max row-group stats cannot prune
    // a point lookup here — exactly the case the bloom filter exists for
    val df = (1 to 5000).map(i => ((i.toLong * 2654435761L) % 1000000L, s"v$i"))
      .toDF("doc_id", "v").repartition(2)
    Sinks.writeParquetBloom(df, dir.toString, Seq("doc_id"),
      ndvPerColumn = Map("doc_id" -> 5000L))
    val written = df.select("doc_id").as[Long].collect().toSet
    val files = dir.listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    var admitted = 0
    var absentRejected = 0
    val absentProbes = (1L to 1000L).map(_ + 2000000L).filterNot(written)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.foreach { rg =>
        val col = rg.getColumns.asScala
          .find(_.getPath.toDotString == "doc_id").get
        assert(col.getBloomFilterOffset >= 0,
          s"no bloom filter written for doc_id in ${f.getName}")
        val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(col)
        assert(bf != null)
        // every value actually in this file must be admitted
        val inFile = spark.read.parquet(f.getAbsolutePath)
          .select("doc_id").as[Long].collect()
        inFile.foreach { v =>
          assert(bf.findHash(bf.hash(v)), s"written key $v rejected")
        }
        admitted += inFile.length
        absentRejected += absentProbes.count(v => !bf.findHash(bf.hash(v)))
      } finally reader.close()
    }
    assert(admitted > 0)
    // default fpp is ~1%; even across both files' filters the absent
    // probes must be overwhelmingly rejected — this is the skipping
    assert(absentRejected > absentProbes.size * files.length * 0.9,
      s"absent-key rejection too weak: $absentRejected")
    // the data itself round-trips unchanged
    assert(spark.read.parquet(dir.toString).count() == 5000)
    // misuse guards
    intercept[IllegalArgumentException](
      Sinks.writeParquetBloom(df, dir.toString, Nil))
    intercept[IllegalArgumentException](
      Sinks.writeParquetBloom(df, dir.toString, Seq("nope")))
  }
}

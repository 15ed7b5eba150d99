package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Output tier. The reference's only sink surface is named terminal
  * tables plus a PostgreSQL connection template (motogp.ktr:481-489 —
  * the KTR itself has no TableOutput step; the load is out-of-band).
  * Here the same named-table contract is expressed as writers chosen for
  * cluster-scale reads:
  *
  *  - [[writeParquet]]: partitioned columnar output — partition columns
  *    choose the pruning dimension for downstream scans (date/year for
  *    facts). Low-cardinality columns only: every distinct value is a
  *    directory.
  *  - [[writeBucketed]]: hash-bucketed + sorted table — downstream joins
  *    and aggregations on the bucket keys skip the shuffle entirely
  *    (both sides bucketed → shuffle-free sort-merge join). The 100 TB
  *    co-location tool for repeatedly-joined fact tables.
  *  - [[jdbcTemplate]]: the reference's Postgres mirror, expressed as
  *    plain `df.write.jdbc` options (untested here: no database in the
  *    environment).
  */
object Sinks {

  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Parquet with per-column BLOOM FILTERS — the point-lookup lever at
    * 100 TB: min/max statistics prune row groups only when the file is
    * sorted by the probe column; a bloom filter prunes on ARBITRARY
    * high-cardinality columns (doc_id, content fingerprint, user_id),
    * so an incremental-dedup probe or a targeted re-crawl lookup skips
    * whole row groups of a layout ordered by something else (e.g. the
    * Hilbert curve). Uses parquet-mr's standard write options
    * (`parquet.bloom.filter.enabled#<col>`), so any parquet reader —
    * Spark, Trino, DuckDB — can use the filters. `ndvPerColumn` sizes
    * each filter (parquet-mr derives bits from expected distinct
    * values; unset → the 1 MB default ceiling applies).
    */
  def writeParquetBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                        ndvPerColumn: Map[String, Long] = Map.empty,
                        partitionBy: Seq[String] = Nil,
                        mode: String = "overwrite"): Unit = {
    require(bloomCols.nonEmpty, "writeParquetBloom without bloom columns " +
      "is writeParquet — name the probe columns")
    val missing = bloomCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"bloom columns not in the frame: $missing")
    var w = df.write.mode(mode)
    bloomCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      ndvPerColumn.get(c).foreach { ndv =>
        w = w.option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
      }
    }
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed managed table (requires a warehouse-backed catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    mode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty)
    var w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** JSON-Lines shards — the interchange format training pipelines
    * export corpora in (one JSON object per line, gzip per file).
    * `maxRecordsPerFile` bounds shard size so downstream loaders
    * parallelize over files regardless of upstream partitioning;
    * `sortWithinPartitionsBy` makes shard contents deterministic for a
    * fixed partitioning (useful with content-hash repartitioning for
    * reproducible exports).
    */
  def writeJsonl(df: DataFrame, path: String,
                 maxRecordsPerFile: Int = 100000,
                 compression: String = "gzip",
                 sortWithinPartitionsBy: Seq[String] = Nil,
                 mode: String = "overwrite"): Unit = {
    require(maxRecordsPerFile > 0)
    val sorted =
      if (sortWithinPartitionsBy.nonEmpty)
        df.sortWithinPartitions(sortWithinPartitionsBy.map(df.col): _*)
      else df
    sorted.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .option("compression", compression)
      .json(path)
  }

  /** Z-ORDERED parquet layout: rows range-partitioned and sorted along
    * the 2-D Morton curve of (c1, c2), so every output file covers a
    * tight rectangle in BOTH dimensions and parquet min/max footer
    * stats prune point/range scans on either column — the
    * multi-dimensional clustering a single-column sort cannot give
    * (sorting by c1 leaves every file spanning the full c2 range). At
    * 100 TB this is THE difference between a selective two-column
    * predicate reading one file and reading the table; the same key
    * works as a bucketing/partition expression.
    */
  def writeZOrdered(df: DataFrame, c1: String, c2: String, path: String,
                    numFiles: Int, mode: String = "overwrite"): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    import graft.functions.LayoutFunctions
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", LayoutFunctions.zOrder2(col(c1), col(c2)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Media-export sink: one object per blob, named `<id>.<ext>` — the
    * write half of the multimodal interchange contract whose read half
    * is `spark.read.format("binaryFile")` ([[Ingest.readBlobs]]).
    * Rows are written from the EXECUTORS (foreachPartition), so the
    * export parallelizes with the upstream partitioning; `dir` must
    * therefore be storage every executor can reach — an object store or
    * shared filesystem on a real cluster (the 100 TB deployment writes
    * `s3://…/` style URIs through a Hadoop FileSystem; this local
    * implementation uses java.nio for the sandbox's local paths).
    * NULL blobs and NULL ids are skipped — an all-null row carries
    * nothing worth a zero-byte object. Ids must be distinct (two rows
    * sharing an id would silently last-write-win).
    */
  def writeBlobs(df: DataFrame, idCol: String, blobCol: String,
                 dir: String, ext: String): Unit = {
    import java.nio.file.{Files, Paths}
    require(ext.nonEmpty && ext.forall(_.isLetterOrDigit), s"bad ext: $ext")
    Files.createDirectories(Paths.get(dir))
    df.select(col(idCol).cast("string"), col(blobCol))
      .foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1))
            Files.write(Paths.get(dir, s"${r.getString(0)}.$ext"),
              r.getAs[Array[Byte]](1))
        }
      }
  }

  /** Mirror of the reference's PostgreSQL connection shape
    * (motogp.ktr:481-489, db `MotoGP`). `extraOptions` passes any other
    * Spark JDBC option through — e.g. an explicit `driver` class for
    * drivers without a ServiceLoader registration, `batchsize` for bulk
    * loads, `isolationLevel`. Round-tripped against embedded Derby in
    * SinksSpec (the environment ships no server database).
    */
  def jdbcTemplate(df: DataFrame, url: String, table: String,
                   user: String, password: String,
                   mode: String = "append",
                   extraOptions: Map[String, String] = Map.empty): Unit =
    df.write.mode(mode)
      .format("jdbc")
      .option("url", url) // e.g. jdbc:postgresql://host:5432/MotoGP
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .options(extraOptions)
      .save()
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingest tier for corpus interchange formats — the read counterpart of
  * [[Sinks.writeJsonl]]. A 100 TB crawl drop always contains malformed
  * lines; the contract here is that bad input NEVER kills the job and
  * NEVER silently disappears: corrupt lines are quarantined into a
  * side channel the caller can count, sample, and alert on.
  */
object Ingest {

  /** One-scan form: every non-blank input line becomes a row carrying
    * the schema columns (null when the line didn't parse) plus
    * `corruptCol` holding the VERBATIM line for malformed input (null
    * for good rows). This is the 100 TB shape — write it once,
    * splitting at the sink (e.g. `partitionBy` on `corruptCol IS NULL`,
    * or two filtered writes over a persisted frame), so the input is
    * read and parsed exactly once.
    *
    * Lines are read as text and parsed with `from_json`, NOT
    * `spark.read.json`: the raw-JSON source forbids plans referencing
    * only its internal corrupt column (its documented workaround is
    * caching the parsed frame), while text+from_json has no such
    * restriction and keeps the verbatim line for the quarantine
    * channel. The schema is EXPLICIT, never inferred — inference is a
    * full extra pass and makes pipeline types depend on the data. Gzip
    * shards decompress transparently; whitespace-only lines (including
    * the `\r` remnants of CRLF corpora) are ignored, not quarantined.
    */
  def readJsonlTagged(spark: SparkSession, path: String, schema: StructType,
                      corruptCol: String = "_corrupt_record"): DataFrame =
    tagLines(spark.read.text(path), schema, corruptCol)

  /** Media ingestion through Spark's `binaryFile` source — the read
    * half of [[Sinks.writeBlobs]]: every object matching `glob` under
    * `dir` becomes a row of (`idCol` parsed from the file name,
    * `n_bytes` from source METADATA — no content read needed to get
    * it, `blobCol` with the raw bytes). The source never decodes —
    * blobs stay opaque binary for a downstream
    * [[graft.operators.Multimodal.featurize]], and files larger than
    * `spark.sql.sources.binaryFile.maxLength` fail loudly rather than
    * truncate. Listing parallelizes over files; a 100 TB media corpus
    * reads as one partition per ~128 MB of objects with no driver-side
    * enumeration of contents.
    *
    * The id is the file's base name without its extension; files whose
    * base name isn't a decimal integer get a NULL id rather than being
    * dropped — the caller's quarantine decision, not the reader's.
    */
  def readBlobs(spark: SparkSession, dir: String, glob: String,
                idCol: String = "media_id",
                blobCol: String = "blob"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        nullif(regexp_extract(col("path"), "/([0-9]+)\\.[^/.]+$", 1), lit(""))
          .cast("bigint").as(idCol),
        col("length").as("n_bytes"),
        col("content").as(blobCol))

  private def tagLines(lines: DataFrame, schema: StructType,
                       corruptCol: String): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema must not already define $corruptCol")
    val withCorrupt = StructType(schema.fields :+
      StructField(corruptCol, StringType, nullable = true))
    lines
      .filter(col("value").rlike("\\S")) // blank = ANY whitespace-only line
      .select(col("value"), from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> corruptCol)).as("__j"))
      .select(
        (schema.fieldNames.map(n => col(s"__j.`$n`").as(n)) :+
          when(col("__j").isNull || col(s"__j.`$corruptCol`").isNotNull,
            col("value")).as(corruptCol)): _*)
  }
}

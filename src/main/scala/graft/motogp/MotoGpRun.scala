package graft.motogp

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end MotoGP materializer: builds the reference's seven
  * integrated star-schema tables (the reference's entire purpose —
  * terminal steps motogp.ktr:1653,4649,3595,4888,8525,4149,8426) from
  * `/root/reference` source data, writes them as parquet via
  * [[graft.sources.Sinks.writeParquet]], and verifies each against a
  * committed frozen golden (row count + order-independent content hash
  * + schema). One command rebuilds and proves the star schema outside
  * ScalaTest:
  *
  * {{{
  *   sbt "runMain graft.motogp.MotoGpRun /tmp/motogp_out"            # build + verify
  *   sbt "runMain graft.motogp.MotoGpRun /tmp/motogp_out --freeze"   # re-freeze goldens
  * }}}
  *
  * `race_results_view.csv` is a stripped blob in the upstream repo, so
  * the committed fixture `fixtures/motogp/race_results.csv` (the same
  * one MotoGpSpec builds against) stands in for that single input; all
  * ten other sources are read from the reference checkout directly.
  *
  * The golden hash is order-independent (a sum of per-row xxhash64 over
  * the name-sorted, string-casted row image), so a plan change that only
  * reorders output rows — legal for an unsorted table — cannot break the
  * freeze, while any value/row/schema drift does.
  */
object MotoGpRun {

  val goldenPath = "goldens/motogp_goldens.tsv"

  /** (rows, contentHash, schema) — deterministic, order-independent. */
  def tableSignature(df: DataFrame): (Long, String, String) = {
    val cols = df.columns.sorted.toSeq
    val parts = cols.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val hashed = df.select(xxhash64(concat_ws("\u0001", parts: _*)).as("__h"))
      // decimal(38,0) sum: a plain long sum overflows (ANSI mode throws)
      .agg(count(lit(1)).as("n"), sum(col("__h").cast("decimal(38,0)")).as("h"))
      .collect().head
    val rows = hashed.getLong(0)
    val hash = if (hashed.isNullAt(1)) "0" else hashed.getDecimal(1).toBigInteger.toString
    (rows, hash, cols.mkString(","))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MotoGpRun <outDir> [--freeze]")
    val outDir = args(0)
    val freeze = args.contains("--freeze")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pipelines = new MotoGpPipelines(spark, MotoGpPaths(base = MotoGpPaths.referenceBase,
      raceResults = "fixtures/motogp/race_results.csv"))

    val signatures = pipelines.tables.toSeq.sortBy(_._1).map { case (name, df) =>
      Sinks.writeParquet(df, s"$outDir/$name")
      // sign what was WRITTEN, not the in-memory plan — the golden then
      // also covers the sink round-trip
      val (rows, hash, schema) = tableSignature(spark.read.parquet(s"$outDir/$name"))
      println(f"[motogp] $name%-15s $rows%6d rows  hash=$hash%s  ($schema)")
      (name, rows, hash, schema)
    }

    if (freeze) {
      val lines = signatures.map { case (n, r, h, s) => s"$n\t$r\t$h\t$s" }
      Files.createDirectories(Paths.get(goldenPath).getParent)
      Files.writeString(Paths.get(goldenPath),
        lines.mkString("", "\n", "\n"))
      println(s"[motogp] froze ${signatures.size} goldens -> $goldenPath")
    } else {
      val golden = Files.readAllLines(Paths.get(goldenPath)).asScala
        .filter(_.nonEmpty).map(_.split("\t")).map(a =>
          a(0) -> ((a(1).toLong, a(2), a(3)))).toMap
      var failed = 0
      signatures.foreach { case (name, rows, hash, schema) =>
        golden.get(name) match {
          case Some((gr, gh, gs)) if gr == rows && gh == hash && gs == schema =>
            println(s"[motogp] $name OK")
          case Some((gr, gh, gs)) =>
            failed += 1
            System.err.println(s"[motogp] $name MISMATCH: " +
              s"rows $rows vs $gr, hash $hash vs $gh, schema " +
              (if (schema == gs) "equal" else s"'$schema' vs '$gs'"))
          case None =>
            failed += 1
            System.err.println(s"[motogp] $name has no golden entry")
        }
      }
      val missing = golden.keySet -- signatures.map(_._1).toSet
      missing.foreach { n => failed += 1
        System.err.println(s"[motogp] golden table $n was not produced")
      }
      if (failed > 0) { spark.stop(); sys.exit(1) }
      println(s"[motogp] all ${signatures.size} tables match frozen goldens")
    }
    spark.stop()
  }
}

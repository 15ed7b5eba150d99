package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.sources.Tables
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** The source-table reader infers a Parquet file's schema once per
  * session: later reads plan without a Spark job, and a rewritten file
  * or a changed SQL conf infers afresh. Each test reads through a new
  * session, so no other suite's reads warm its cache. */
class TablesSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_tables_")

  /** `df` as ONE parquet file at `target` (Spark writes a directory). */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val dir = Files.createTempDirectory(root, "w")
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val part = Files.list(dir).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def read(s: SparkSession, path: Path, group: String): (DataFrame, Int) = {
    val (df, shape) = JobShape.of(s, group)(Tables.parquet(s, path.toString))
    (df, shape.jobs)
  }

  test("a second read of the same file submits no job") {
    val s = spark.newSession()
    val f = root.resolve("ab.parquet")
    writeFile(s.range(0L, 50L).selectExpr("id", "id * 2 AS v"), f)
    val (first, firstJobs) = read(s, f, "tables-first")
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    val (second, secondJobs) = read(s, f, "tables-second")
    assert(secondJobs == 0, s"the second read submitted $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.schema == s.read.parquet(f.toString).schema)
    assert(second.selectExpr("sum(v)").head().getLong(0) == 2450L)
  }

  test("an overwritten file with a new schema reads with the new schema") {
    val s = spark.newSession()
    val f = root.resolve("rewritten.parquet")
    writeFile(s.range(0L, 5L).selectExpr("id AS a"), f)
    assert(Tables.parquet(s, f.toString).columns.toSeq == Seq("a"))
    writeFile(s.range(0L, 7L).selectExpr("id AS b", "cast(id AS string) AS c"), f)
    val again = Tables.parquet(s, f.toString)
    assert(again.schema == s.read.parquet(f.toString).schema)
    assert(again.columns.toSeq == Seq("b", "c"))
    assert(again.count() == 7L)
  }

  test("a changed session SQL conf infers again, once") {
    val s = spark.newSession()
    val f = root.resolve("conf.parquet")
    writeFile(s.range(0L, 5L).toDF(), f)
    read(s, f, "tables-conf-warm")
    assert(read(s, f, "tables-conf-same")._2 == 0)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(read(s, f, "tables-conf-changed")._2 >= 1)
    assert(read(s, f, "tables-conf-changed-again")._2 == 0)
  }

  test("directories and missing paths behave as the plain reader") {
    val s = spark.newSession()
    val dir = root.resolve("table_dir").toString
    s.range(0L, 40L, 1L, numPartitions = 3).selectExpr("id", "id % 4 AS k")
      .write.mode("overwrite").parquet(dir)
    val df = Tables.parquet(s, dir)
    assert(df.schema == s.read.parquet(dir).schema)
    assert(df.selectExpr("sum(id)", "count(*)").head().toSeq == Seq(780L, 40L))
    val missing = root.resolve("absent.parquet").toString
    val ours = intercept[AnalysisException](Tables.parquet(s, missing))
    val plain = intercept[AnalysisException](s.read.parquet(missing))
    assert(ours.getMessage == plain.getMessage)
  }

  test("q_text_stats: a second run builds without a Spark job") {
    val s = spark.newSession()
    val dir = new java.io.File("perfbench/data/sf0.1").getAbsolutePath
    val run = SparkEntry.queries("q_text_stats")
    run(s, dir)
    val (df, shape) = JobShape.of(s, "tables-q-text-stats")(run(s, dir))
    assert(shape.jobs == 0, s"the second build submitted ${shape.jobs} jobs")
    assert(df.count() > 0L)
  }
}

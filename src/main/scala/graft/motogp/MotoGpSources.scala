package graft.motogp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Input layout + explicit schemas for the MotoGP star-schema build.
  *
  * Schemas mirror the reference's declared per-column input metadata
  * (CsvInput/JsonInput steps of /root/reference/motogp.ktr; see
  * SURVEY.md §1): schema inference stays OFF, Kettle `Integer` maps to
  * LongType, `Number`/`BigNumber` to DoubleType (all uses are
  * coordinates/speeds/points), `String` stays string. Dates arrive as
  * strings and are cast `yyyy-MM-dd` inside the pipelines, exactly where
  * the reference retypes them.
  *
  * Paths default to the reference repo's layout relative to `base`;
  * every file is individually overridable (race_results_view.csv is a
  * stripped blob upstream, so tests inject a synthesized fixture).
  */
final case class MotoGpPaths(
    base: String,
    bikes: String = null,
    riders: String = null,
    teams: String = null,
    raceResults: String = null,
    circuits: String = null,
    constructors: String = null,
    ridersPositions: String = null,
    ridersInfo: String = null,
    quali: String = null,
    races: String = null,
    weather: String = null) {
  private def or(v: String, rel: String) = Option(v).getOrElse(s"$base/$rel")
  def bikesPath: String = or(bikes, "MotoGP_Results&Bikes/bikes.csv")
  def ridersPath: String = or(riders, "MotoGP_Results&Bikes/riders.csv")
  def teamsPath: String = or(teams, "MotoGP_Results&Bikes/teams.csv")
  def raceResultsPath: String = or(raceResults, "MotoGP_Results&Bikes/race_results_view.csv")
  def circuitsPath: String = or(circuits, "MotoGP_Circuits/circuit_data.csv")
  def constructorsPath: String = or(constructors, "archive 1/constructure-world-championship.csv")
  def ridersPositionsPath: String = or(ridersPositions, "archive 1/riders-finishing-positions.csv")
  def ridersInfoPath: String = or(ridersInfo, "archive 1/riders-info.csv")
  def qualiPath: String = or(quali, "scraping/motogp_griglia.csv")
  def racesPath: String = or(races, "scraping/motogp_gran_premi.json")
  def weatherPath: String = or(weather, "scraping/race_weather_data_final.json")
}

object MotoGpPaths {
  /** The reference repository's checkout, whose source data the build
    * reads: `SPARK_GRAFT_REFERENCE`, else the default below. */
  def referenceBase: String = sys.env.getOrElse("SPARK_GRAFT_REFERENCE", "/root/reference")
}

object MotoGpSchemas {
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val bikes: StructType = st("id" -> LongType, "name" -> StringType, "country" -> StringType)
  val riders: StructType = st("id" -> LongType, "first_name" -> StringType,
    "last_name" -> StringType, "country" -> StringType, "number" -> DoubleType)
  val teams: StructType = st("id" -> LongType, "name" -> StringType, "country" -> StringType)
  val raceResults: StructType = st(
    "year" -> LongType, "category" -> StringType, "sequence" -> LongType,
    "shortname" -> StringType, "circuit_name" -> StringType, "rider" -> LongType,
    "rider_name" -> StringType, "team_name" -> StringType, "bike_name" -> StringType,
    "position" -> LongType, "points" -> DoubleType, "number" -> DoubleType,
    "country" -> StringType, "speed" -> DoubleType, "time" -> StringType)
  val circuits: StructType = st(
    "Name" -> StringType, "Lat" -> DoubleType, "Long" -> DoubleType,
    "Country" -> StringType, "Pole Position" -> StringType,
    "Length in meters" -> LongType, "Width in meters" -> StringType,
    "Right Corners" -> LongType, "Left Corners" -> LongType,
    "Longest Straight" -> LongType, "Constructed" -> LongType, "Modified" -> LongType)
  val constructors: StructType = st(
    "Season" -> LongType, "Constructor" -> StringType, "Class" -> StringType)
  val ridersPositions: StructType = st(
    "Rider" -> StringType, "Victories" -> LongType, "NumberofSecond" -> LongType,
    "NumberofThird" -> LongType, "Numberof4th" -> LongType, "Numberof5th" -> LongType,
    "Numberof6th" -> LongType, "Country" -> StringType)
  val ridersInfo: StructType = st(
    "Riders All Time in All Classes" -> StringType, "Victories" -> LongType,
    "2nd places" -> DoubleType, "3rd places" -> DoubleType,
    "Pole positions from '74 to 2022" -> DoubleType,
    "Race fastest lap to 2022" -> DoubleType, "World Championships" -> DoubleType)
  val quali: StructType = st(
    "Year" -> LongType, "Circuit" -> StringType, "OfficialName" -> StringType,
    "Class" -> StringType, "RiderName" -> StringType, "Position" -> LongType)
  val races: StructType = st(
    "Anno" -> LongType, "Data" -> StringType, "Circuito" -> StringType,
    "Nome_Ufficiale" -> StringType, "Percorso" -> StringType,
    "Notturna" -> StringType, "Latitudine" -> StringType, "Longitudine" -> StringType)
  val weather: StructType = st(
    "Circuito" -> StringType, "Data" -> StringType, "Temp_Max" -> DoubleType,
    "Temp_Min" -> DoubleType, "Precipitazione" -> DoubleType,
    "Condizione_Meteo" -> StringType)
}

object MotoGpSources {
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", true)
      .option("quote", "\"")
      .option("encoding", "UTF-8")
      .csv(path)

  /** Top-level-array JSON (one row per element, missing leaves → null —
    * the reference's `defaultPathLeafToNull=Y`). A missing file yields an
    * empty frame with the declared schema — the reference's
    * `doNotFailIfNoFile=Y`. */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus, not exists: paths may legally be globs
    val matches = fs.globStatus(p)
    if (matches == null || matches.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).option("multiLine", true).json(path)
  }
}

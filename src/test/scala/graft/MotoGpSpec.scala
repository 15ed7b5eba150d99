package graft

import graft.motogp.{MotoGpPaths, MotoGpPipelines}
import org.apache.spark.sql.functions._

/** End-to-end build of the seven integrated tables over the reference's
  * committed source data (read-only fixtures). race_results_view.csv is
  * a stripped blob upstream, so a small synthesized fixture with the
  * declared schema stands in (ids/names reference the real dimension
  * files so every join has live paths).
  */
class MotoGpSpec extends SparkSpec {

  // the committed fixture (also used by graft.motogp.MotoGpRun, whose
  // frozen goldens depend on it): rider 1 = Leslie Graham, rider 2 =
  // Nello Pagani (riders.csv); bike Honda (bikes.csv id 2); team ids 2/3
  // (teams.csv); one pre-2005 row that must be filtered out everywhere
  private lazy val pipelines = new MotoGpPipelines(spark,
    MotoGpPaths(base = MotoGpPaths.referenceBase,
      raceResults = "fixtures/motogp/race_results.csv"))

  test("race table: one row per scraped race, contiguous id_race, fuzzy circuit_id") {
    val rt = pipelines.raceTable
    assert(rt.columns.toSeq == Seq("circuit_name", "date", "year",
      "circuit_name3", "off_name", "country", "circuit_id", "id_race"))
    val n = rt.count()
    assert(n == 313) // weather ⋈ races on date, both 313 date-aligned... modulo date collisions
    val ids = rt.agg(min("id_race"), max("id_race"), countDistinct("id_race")).collect().head
    assert(ids.getLong(0) == 1L && ids.getLong(2) == n)
    assert(rt.filter(col("circuit_id").isNull).count() == 0)
  }

  test("circuit table ordered by country, id from the circuit CSV") {
    val ct = pipelines.circuitTable
    assert(ct.columns.toSeq == Seq("name_circuit", "lat", "long", "country",
      "pole_position", "length", "width", "constructed", "modifies", "circuit_id"))
    assert(ct.filter(col("circuit_id").isNull).count() == 0)
    // fuzzy best-match: the Jerez weather rows must land on the Jerez circuit
    val jerez = ct.filter(lower(col("name_circuit")).contains("jerez"))
      .select("country").distinct().collect()
    assert(jerez.map(_.getString(0)).toSet == Set("ES"))
  }

  test("info race carries weather metrics keyed by id_race") {
    val ir = pipelines.infoRace
    assert(ir.count() == 313)
    assert(ir.columns.contains("temp_max") && ir.columns.contains("id_race"))
  }

  test("fact spine: resultsBase assigns race_id with no ExistingRDD barrier") {
    // the file-order sequence must stay a declarative plan — an RDD
    // round-trip here cuts codegen/columnar/AQE on the hottest input
    val p = pipelines.resultsBase.queryExecution.executedPlan.toString
    assert(!p.contains("ExistingRDD"), p)
    // and the ids are still the contiguous 1..n file-order sequence
    val rb = pipelines.resultsBase
    val n = rb.count()
    val ids = rb.agg(min("race_id"), max("race_id"),
      countDistinct("race_id")).collect().head
    assert(ids.getLong(0) == 1L && ids.getLong(1) == n && ids.getLong(2) == n)
  }

  test("teams table: surrogate contiguous team_id over the teams file") {
    val tt = pipelines.teamsTable
    assert(tt.count() == 970)
    val ids = tt.agg(min("team_id"), max("team_id")).collect().head
    assert(ids.getLong(0) == 1L && ids.getLong(1) == 970L)
  }

  test("rider table: podium counts via the 5-way INNER join semantics") {
    val r = pipelines.riderTable.collect()
    // Both fixture riders have 1st/2nd/3rd/other rows post-2005 → survive.
    // riders-finishing-positions.csv has TWO "Nello Pagani" rows, which
    // duplicates his dimension row through the stats join and doubles his
    // counts — faithful reference-join behavior, reproduced not "fixed".
    val byName = r.groupBy(_.getString(0))
    assert(byName.keySet == Set("Leslie Graham", "Nello Pagani"))
    val graham = byName("Leslie Graham").head
    assert(graham.getLong(1) == 1L && graham.getLong(2) == 1L &&
      graham.getLong(3) == 1L && graham.getLong(6) == 1L) // 1st/2nd/3rd/other
    assert(byName("Nello Pagani").length == 2) // distinct id_rider_seq per dup
    assert(byName("Nello Pagani").forall(_.getLong(1) == 2L))
  }

  test("partecipation: MotoGP-only, year desc, fuzzy id_race resolved") {
    val p = pipelines.partecipation
    val rows = p.collect()
    // 2021 rows only (2003 filtered): 4 Graham + 4 Pagani × 2 rider-table
    // duplicates (see rider-table test) = 12
    assert(rows.length == 12)
    assert(p.columns.toSeq.take(4) == Seq("year", "category", "race_name", "circuit_name"))
    assert(rows.forall(!_.isNullAt(p.columns.indexOf("id_race"))))
    // jerez participation rows must fuzzy-resolve to a jerez race
    val jerezIdRace = rows.filter(_.getString(3).contains("jerez"))
      .map(_.getLong(p.columns.indexOf("id_race"))).toSet
    val jerezRaces = pipelines.raceTable
      .filter(lower(col("circuit_name")).contains("jerez"))
      .select("id_race").collect().map(_.getLong(0)).toSet
    assert(jerezIdRace.subsetOf(jerezRaces))
  }

  test("golden signatures are column-order and row-order independent, value-sensitive") {
    import graft.motogp.MotoGpRun.tableSignature
    val df = spark.range(0, 100).selectExpr("id", "id * 2 AS v", "CAST(id AS STRING) AS s")
    val base = tableSignature(df)
    // column order must not matter (signature sorts by name)
    assert(tableSignature(df.select("s", "id", "v")) == base)
    // row order must not matter (orderless hash sum)
    assert(tableSignature(df.orderBy(col("v").desc)) == base)
    // any value drift must
    assert(tableSignature(df.withColumn("v", col("v") + 1)) != base)
    // schema drift must (renamed column changes the schema component)
    assert(tableSignature(df.withColumnRenamed("v", "w")) != base)
  }

  test("json source: missing file and glob paths behave sanely") {
    import graft.motogp.{MotoGpSchemas, MotoGpSources}
    // missing file → empty frame with declared schema (doNotFailIfNoFile=Y)
    val missing = MotoGpSources.json(spark, "/tmp/does-not-exist-xyz.json",
      MotoGpSchemas.weather)
    assert(missing.count() == 0 && missing.schema == MotoGpSchemas.weather)
    // glob that matches → actually read, not treated as missing
    val glob = MotoGpSources.json(spark,
      s"${MotoGpPaths.referenceBase}/scraping/race_weather_*.json", MotoGpSchemas.weather)
    assert(glob.count() == 313)
  }

  test("disabled branch: unioned rider names dedup keep-first (head wins)") {
    val u = pipelines.riderNamesUnioned
    assert(u.columns.toSeq == Seq("rider_name", "victories", "2nd", "3rd"))
    // every rider_name unique; "NELLO PAGANI" exists in both sources and
    // twice in the head stream → exactly one survivor
    assert(u.count() == u.select("rider_name").distinct().count())
    assert(u.filter(col("rider_name") === "NELLO PAGANI").count() == 1)
  }

  test("team standings: era-filtered, summed, ranked per (year, category)") {
    val ts = pipelines.teamStandings.collect()
    assert(ts.length == 2) // two teams, one (year, category)
    val byTeam = ts.map(r => r.getString(2) -> r).toMap
    // Pagani's team: 25+20+16+11 = 72 > Graham's 25+20+16+9 = 70
    assert(byTeam("Movistar Honda MotoGP").getLong(4) == 1L)
    assert(byTeam("Gauloises Yamaha Team").getLong(4) == 2L)
    assert(byTeam("Movistar Honda MotoGP").getDouble(3) == 72.0)
  }
}

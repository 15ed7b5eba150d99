package graft

import graft.operators.Dimensions
import java.sql.Date
import org.apache.spark.sql.functions._

class DimensionsSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: updates win, untouched rows pass, new keys append") {
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val updates = Seq((2L, "b2", 25.0), (9L, "new", 90.0))
      .toDF("k", "name", "bal")
    val out = Dimensions.upsert(existing, updates, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set((1L, "a", 10.0), (2L, "b2", 25.0),
      (3L, "c", 30.0), (9L, "new", 90.0)))
  }

  private def d(s: String) = Date.valueOf(s)

  private val dim = Seq(
    // key 1: one closed version + one open version
    (1L, "old-red", Some(d("1980-01-01")), Some(d("1990-01-01"))),
    (1L, "red", Some(d("1990-01-01")), None),
    (2L, "blue", Some(d("1990-01-01")), None),
    (3L, "green", Some(d("1990-01-01")), None),
    (5L, null.asInstanceOf[String], Some(d("1990-01-01")), None) // null attr
  ).toDF("k", "color", "valid_from", "valid_to")

  test("scd2Apply: change closes+reopens, no-op leaves one version, new key opens") {
    val changes = Seq(
      (1L, "crimson", d("2020-06-01")), // changed -> close + open
      (2L, "blue", d("2020-06-01")),    // identical -> no-op
      (4L, "black", d("2020-06-01"))    // unseen key -> first version
    ).toDF("k", "color", "eff")
    val out = Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString))).toSet
    assert(out == Set(
      (1L, Some("old-red"), "1980-01-01", Some("1990-01-01")), // history verbatim
      (1L, Some("red"), "1990-01-01", Some("2020-06-01")),     // closed now
      (1L, Some("crimson"), "2020-06-01", None),               // reopened
      (2L, Some("blue"), "1990-01-01", None),                  // no-op
      (3L, Some("green"), "1990-01-01", None),                 // untouched
      (4L, Some("black"), "2020-06-01", None),                 // new key
      (5L, None, "1990-01-01", None)))                         // untouched null
  }

  test("scd2Apply: null-safe attribute compare in both directions") {
    val changes = Seq(
      (5L, Some("violet"), d("2020-06-01")), // null -> value: a change
      (3L, None, d("2020-06-01"))            // value -> null: a change
    ).toDF("k", "color", "eff")
      .select(col("k"), col("color"), col("eff"))
    val out = Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
      .filter(col("k").isin(3L, 5L))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(out == Set(
      (5L, None, Some("2020-06-01")), (5L, Some("violet"), None),
      (3L, Some("green"), Some("2020-06-01")), (3L, None, None)))
  }

  test("scd2Apply rejects two changes for one key in a batch") {
    val changes = Seq((1L, "x", d("2020-01-01")), (1L, "y", d("2020-02-01")))
      .toDF("k", "color", "eff")
    val e = intercept[IllegalArgumentException] {
      Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
    }
    assert(e.getMessage.contains("multiple changes"))
  }

  test("scd2Apply: open row with NULL valid_from survives (presence is a marker, not a data column)") {
    val nullFrom = Seq((8L, "grey", None: Option[Date], None: Option[Date]))
      .toDF("k", "color", "valid_from", "valid_to")
    val changes = Seq((8L, "silver", d("2020-06-01"))).toDF("k", "color", "eff")
    val out = Dimensions.scd2Apply(nullFrom, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
      .collect().map(r => (Option(r.getString(1)),
        Option(r.getDate(2)).map(_.toString),
        Option(r.getDate(3)).map(_.toString))).toSet
    // the NULL-from open row CLOSES (not vanishes); the change opens
    assert(out == Set(
      (Some("grey"), None, Some("2020-06-01")),
      (Some("silver"), Some("2020-06-01"), None)))
  }

  test("scd2Apply rejects a NULL effective value instead of no-op'ing it") {
    val changes = Seq((1L, "x", null.asInstanceOf[Date])).toDF("k", "color", "eff")
    val e = intercept[IllegalArgumentException] {
      Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
    }
    assert(e.getMessage.contains("NULL effective"))
  }

  test("scd2Apply keeps the dimension's date types when eff is a timestamp") {
    import java.sql.Timestamp
    val changes = Seq((1L, "crimson", Timestamp.valueOf("2020-06-01 00:00:00")))
      .toDF("k", "color", "eff")
    val out = Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
      "valid_from", "valid_to", "eff")
    // output schema matches the input dimension (DATE, not widened)
    assert(out.schema("valid_from").dataType == dim.schema("valid_from").dataType)
    assert(out.schema("valid_to").dataType == dim.schema("valid_to").dataType)
  }

  test("upsert rejects duplicate keys within the update batch") {
    val existing = Seq((1L, "a", 10.0)).toDF("k", "name", "bal")
    val updates = Seq((1L, "x", 1.0), (1L, "y", 2.0)).toDF("k", "name", "bal")
    val e = intercept[IllegalArgumentException] {
      Dimensions.upsert(existing, updates, Seq("k"))
    }
    assert(e.getMessage.contains("multiple update rows"))
  }

  test("scd2Apply rejects a dimension with two OPEN rows for one key") {
    val corrupt = dim.unionByName(
      Seq((2L, "navy", Some(d("1995-01-01")), None: Option[Date]))
        .toDF("k", "color", "valid_from", "valid_to"))
    val changes = Seq((2L, "teal", d("2020-06-01"))).toDF("k", "color", "eff")
    val e = intercept[IllegalArgumentException] {
      Dimensions.scd2Apply(corrupt, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff")
    }
    assert(e.getMessage.contains("multiple OPEN rows"))
  }

  // ---- scd2ApplyOrdered: multi-change batches ----

  test("scd2ApplyOrdered folds several changes per key in eff order") {
    val changes = Seq(
      (1L, "crimson", d("2020-01-10")),
      (1L, "maroon", d("2020-06-01")),
      (1L, "scarlet", d("2021-01-01")),
      (4L, "black", d("2020-06-01")),   // unseen key, single change
      (4L, "grey", d("2021-01-01"))
    ).toDF("k", "color", "eff").withColumn("seq", lit(0L))
    val out = Dimensions.scd2ApplyOrdered(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff", "seq")
      .filter(col("k").isin(1L, 4L))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getDate(2)).map(_.toString),
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(out == Set(
      (1L, "old-red", Some("1980-01-01"), Some("1990-01-01")), // closed verbatim
      (1L, "red", Some("1990-01-01"), Some("2020-01-10")),
      (1L, "crimson", Some("2020-01-10"), Some("2020-06-01")),
      (1L, "maroon", Some("2020-06-01"), Some("2021-01-01")),
      (1L, "scarlet", Some("2021-01-01"), None),
      (4L, "black", Some("2020-06-01"), Some("2021-01-01")),
      (4L, "grey", Some("2021-01-01"), None)))
  }

  test("scd2ApplyOrdered collapses no-op entries against the last surviving version") {
    val changes = Seq(
      (2L, "blue", d("2020-01-10")),   // equals open row -> no-op
      (2L, "navy", d("2020-06-01")),   // change
      (2L, "navy", d("2020-09-01")),   // equals previous version -> no-op
      (2L, "blue", d("2021-01-01"))    // back to blue: a REAL new version
    ).toDF("k", "color", "eff").withColumn("seq", lit(0L))
    val out = Dimensions.scd2ApplyOrdered(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff", "seq")
      .filter(col("k") === 2L)
      .collect().map(r => (r.getString(1),
        Option(r.getDate(2)).map(_.toString),
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(out == Set(
      ("blue", Some("1990-01-01"), Some("2020-06-01")),
      ("navy", Some("2020-06-01"), Some("2021-01-01")),
      ("blue", Some("2021-01-01"), None)))
  }

  test("scd2ApplyOrdered: same-day ties break on orderCol, earlier gets a zero-width version") {
    val changes = Seq(
      (3L, "lime", d("2020-06-01"), 1L),
      (3L, "olive", d("2020-06-01"), 2L)
    ).toDF("k", "color", "eff", "seq")
    val out = Dimensions.scd2ApplyOrdered(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff", "seq")
      .filter(col("k") === 3L)
      .collect().map(r => (r.getString(1),
        Option(r.getDate(2)).map(_.toString),
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(out == Set(
      ("green", Some("1990-01-01"), Some("2020-06-01")),
      ("lime", Some("2020-06-01"), Some("2020-06-01")), // zero-width
      ("olive", Some("2020-06-01"), None)))             // tie-winner stays open
  }

  test("scd2ApplyOrdered rejects changes tied on key, effective value and order") {
    val changes = Seq(
      (3L, "lime", d("2020-06-01"), 1L),
      (3L, "olive", d("2020-06-01"), 1L)
    ).toDF("k", "color", "eff", "seq")
    val e = intercept[IllegalArgumentException] {
      Dimensions.scd2ApplyOrdered(dim, changes, Seq("k"), Seq("color"),
        "valid_from", "valid_to", "eff", "seq")
    }
    assert(e.getMessage.contains("tied changes (same key, effective value, seq)"))
  }

  test("scd2ApplyOrdered with a one-change-per-key batch matches scd2Apply") {
    val changes = Seq(
      (1L, "crimson", d("2020-06-01")),
      (2L, "blue", d("2020-06-01")),
      (4L, "black", d("2020-06-01"))
    ).toDF("k", "color", "eff").withColumn("seq", lit(0L))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getDate(2)).map(_.toString),
        Option(r.getDate(3)).map(_.toString))).toSet
    val a = norm(Dimensions.scd2Apply(dim, changes, Seq("k"), Seq("color"),
      "valid_from", "valid_to", "eff"))
    val b = norm(Dimensions.scd2ApplyOrdered(dim, changes, Seq("k"), Seq("color"),
      "valid_from", "valid_to", "eff", "seq"))
    assert(a == b)
  }

  test("snapshotDiff: four change classes, identical dropped by default") {
    val old = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("k", "v", "w")
    val neu = Seq((1L, "a", 10),          // identical
                  (2L, "B2", 20),         // changed (v)
                  (4L, "d", 41),          // changed (w)
                  (5L, "e", 50))          // new; 3 deleted
      .toDF("k", "v", "w")
    val out = Dimensions.snapshotDiff(old, neu, Seq("k"), Seq("v", "w"))
      .as[(Long, String, Int, String)].collect().toSet
    assert(out == Set((2L, "B2", 20, "changed"), (4L, "d", 41, "changed"),
      (3L, "c", 30, "deleted"), (5L, "e", 50, "new")))
  }

  test("snapshotDiff: duplicate key on either side is rejected eagerly") {
    val dup = Seq((1L, "A"), (1L, "B")).toDF("k", "v")
    val clean = Seq((1L, "A")).toDF("k", "v")
    // dup old: the new row would match BOTH old rows through the
    // full-outer join and emit a phantom "changed" row for an
    // unchanged key — the exact hazard upsert/scd2Apply already reject
    for ((o, n) <- Seq((dup, clean), (clean, dup))) {
      val e = intercept[IllegalArgumentException] {
        Dimensions.snapshotDiff(o, n, Seq("k"), Seq("v"))
      }
      assert(e.getMessage.contains("duplicate key"))
    }
  }

  test("snapshotDiff: bucketed snapshots diff with ZERO exchanges") {
    // the scaladoc's 100 TB claim is that a recrawl diff over snapshots
    // bucketed on the keys is exchange-free — pin it to the plan
    try {
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .write.bucketBy(4, "k").saveAsTable("graft_snap_old")
      (1L to 100L).map(i => (i, if (i % 10 == 0) s"v$i+" else s"v$i"))
        .toDF("k", "v")
        .write.bucketBy(4, "k").saveAsTable("graft_snap_new")
      val out = Dimensions.snapshotDiff(spark.table("graft_snap_old"),
        spark.table("graft_snap_new"), Seq("k"), Seq("v"))
      assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
        out.queryExecution.executedPlan.toString)
      assert(out.count() == 10)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_snap_old")
      spark.sql("DROP TABLE IF EXISTS graft_snap_new")
    }
  }

  test("snapshotDiff: null-safe compare — null↔value changes, null↔null doesn't") {
    val old = Seq((1L, null.asInstanceOf[String]), (2L, "x"),
      (3L, null.asInstanceOf[String])).toDF("k", "v")
    val neu = Seq((1L, "now set"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("k", "v")
    val changes = Dimensions.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .select("k", "change").as[(Long, String)].collect().toMap
    assert(changes == Map(1L -> "changed", 2L -> "changed"))
  }

  test("snapshotDiff feeds upsert: applying the delta reproduces the new snapshot") {
    val old = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val neu = (1L to 50L).filter(_ % 7 != 0)
      .map(i => (i, if (i % 5 == 0) s"v$i+" else s"v$i"))
      .toDF("k", "v")
      .unionByName(Seq((99L, "v99")).toDF("k", "v"))
    val diff = Dimensions.snapshotDiff(old, neu, Seq("k"), Seq("v"))
    val updates = diff.filter(col("change").isin("new", "changed")).drop("change")
    val deletedKeys = diff.filter(col("change") === "deleted").select("k")
    val applied = Dimensions.upsert(old, updates, Seq("k"))
      .join(deletedKeys, Seq("k"), "left_anti")
    assert(applied.except(neu).isEmpty && neu.except(applied).isEmpty)
  }

  test("asOfLookup: half-open boundaries, open-ended NULL, uncovered facts keep NULLs") {
    val dim = Seq(
      (1L, "v1", "2020-01-01", "2021-01-01"),
      (1L, "v2", "2021-01-01", null),
      (2L, "w1", "2020-06-01", "2020-07-01")
    ).toDF("k", "attr", "f", "t")
      .select(col("k"), col("attr"), col("f").cast("date").as("valid_from"),
        col("t").cast("date").as("valid_to"))
    val facts = Seq(
      (10L, 1L, "2020-05-05"), // inside v1
      (11L, 1L, "2021-01-01"), // ON the boundary -> the NEW version (half-open)
      (12L, 1L, "2030-01-01"), // open-ended v2
      (13L, 1L, "2019-12-31"), // before any version
      (14L, 2L, "2020-07-01"), // ON w1's exclusive end -> no match
      (15L, 3L, "2020-06-15")  // unknown key
    ).toDF("fid", "fk", "ts0")
      .select(col("fid"), col("fk"), col("ts0").cast("date").as("ts"))
    val out = Dimensions.asOfLookup(facts, dim, Seq("fk"), Seq("k"),
        "ts", "valid_from", "valid_to")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(out == Map(10L -> "v1", 11L -> "v2", 12L -> "v2",
      13L -> null, 14L -> null, 15L -> null))
    // exactly one row per fact: a healthy dim never fans out
    assert(Dimensions.asOfLookup(facts, dim, Seq("fk"), Seq("k"),
      "ts", "valid_from", "valid_to").count() == 6)
    // dim bookkeeping columns are gone; fact columns plus attrs remain
    assert(Dimensions.asOfLookup(facts, dim, Seq("fk"), Seq("k"),
      "ts", "valid_from", "valid_to").columns.toSeq ==
      Seq("fid", "fk", "ts", "attr"))
  }
}

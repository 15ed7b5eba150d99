package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

object EventStreamsSpec {
  final case class Click(user_id: Long, click_ts: Timestamp, click_id: Long)
  final case class View(user_id: Long, view_ts: Timestamp, view_id: Long)
}

class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("attribution: stream-stream interval join matches across batches, bounds the window") {
    import EventStreamsSpec.Click
    import EventStreamsSpec.View
    val clicks = MemoryStream[Click](spark, numPartitions = 1)
    val views = MemoryStream[View](spark, numPartitions = 1)
    val joined = EventStreams.attribution(
      clicks.toDF().withWatermark("click_ts", "1 hour"),
      views.toDF().withWatermark("view_ts", "1 hour"),
      "user_id", "click_ts", "view_ts", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()

    def ts(min: Int): Timestamp = new Timestamp(3600000L + min * 60000L)
    // views arrive in an EARLIER batch than the clicks they attribute
    views.addData(View(1L, ts(0), 100L), View(1L, ts(30), 101L),
      View(2L, ts(0), 102L))
    q.processAllAvailable()
    clicks.addData(Click(1L, ts(5), 200L),  // 5 min after view 100 → match
      Click(1L, ts(45), 201L),              // 15 min after view 101 → NO match
      Click(2L, ts(9), 202L))               // 9 min after view 102 → match
    q.processAllAvailable()
    q.stop()

    val out = spark.table("attrib").select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((200L, 100L), (202L, 102L)))
  }

  test("attribution parity: the same operator code, batch vs replayed stream") {
    val dir = "/root/testdata/sf0.001"
    // a file stream needs a declared schema: take the events table's own
    // (its `ts` encoding varies between data generations), and stream
    // the whole directory — the other tables' rows null-fill the events
    // columns and fall out at the event_type filters below
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val ev = EventTime.normalizeTs(spark.readStream.schema(schema).parquet(dir))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "48 hours")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "48 hours")
    val q = EventStreams.attribution(clicks, views,
        "user_id", "click_ts", "view_ts", "24 hours")
      .select("click_id", "view_id")
      .writeStream.format("memory").queryName("attrib_parity")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("attrib_parity")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Queries.all.find(_.name == "q_event_attribution").get
      .run(spark, dir)
      .select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("attribution rejects a malformed lookback instead of splicing it into SQL") {
    val a = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "ats")
    val c = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00")))
      .toDF("user_id", "cts")
    // "1.5 hours" sits here deliberately: Spark's own interval grammar
    // allows fractions only in seconds, so it was never valid input
    for (bad <- Seq("7 fortnights", "1; DROP TABLE x", "1 hour) OR (true", "",
        "1 hour + current_timestamp()", "1.5 hours")) {
      val e = intercept[IllegalArgumentException] {
        EventStreams.attribution(a, c, "user_id", "ats", "cts", bad)
      }
      assert(e.getMessage.contains("malformed lookback"), s"for: $bad")
    }
    // multi-term and case-insensitive forms still pass
    assert(EventStreams.attribution(a, c, "user_id", "ats", "cts",
      "1 Day 12 hours").count() == 1)
    // every form Spark's own interval parser accepts must stay valid —
    // the round-7 shape whitelist silently rejected month/year units,
    // fractional seconds, and the quoted form; the parser-backed build
    // must not
    for (ok <- Seq("3 months", "1 year", "3600.5 seconds", "90 minutes", "'1 hour'"))
      assert(EventStreams.attribution(a, c, "user_id", "ats", "cts", ok)
        .count() == 1, s"for: $ok")
    // a net-NEGATIVE lookback parses fine but would make the window
    // empty on every row forever — reject it loudly; a mixed form with
    // net-positive duration stays valid
    for (neg <- Seq("-30 minutes", "-1 year")) {
      val e = intercept[IllegalArgumentException] {
        EventStreams.attribution(a, c, "user_id", "ats", "cts", neg)
      }
      assert(e.getMessage.contains("negative lookback"), s"for: $neg")
    }
    assert(EventStreams.attribution(a, c, "user_id", "ats", "cts",
      "2 days -12 hours").count() == 1)
  }

  test("collect_smallest works inside a streaming aggregation (state-store round trip)") {
    // the bounded aggregate must survive the streaming state store's
    // serialize/merge cycle across triggers — a running "k best scores
    // per key" is the streaming shape it exists for
    val input = MemoryStream[(String, Long)](spark, numPartitions = 1)
    val agg = input.toDF().toDF("k", "v")
      .groupBy("k")
      .agg(graft.operators.Dedup.collectSmallest(col("v"), 3).as("best"))
    val q = agg.writeStream.format("memory").queryName("stream_topk")
      .outputMode("complete").start()
    input.addData(("a", 5L), ("a", 9L), ("b", 2L))
    q.processAllAvailable()
    input.addData(("a", 1L), ("a", 7L), ("a", 3L)) // second trigger merges state
    q.processAllAvailable()
    q.stop()
    val out = spark.table("stream_topk")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out == Map("a" -> Seq(1L, 3L, 5L), "b" -> Seq(2L)))
  }
}

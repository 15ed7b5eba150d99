package graft

import graft.functions.FeedKernels
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[FeedKernels]] — RSS 2.0 and Atom parsing: entry fields, CDATA,
  * entities, link-rel preference, skip nesting, fail-closed framing. */
class FeedSpec extends AnyFunSuite {

  private def entries(xml: String): Seq[(String, String, String, String, String)] = {
    val a = FeedKernels.feedEntries(UTF8String.fromString(xml))
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 5)
      def f(k: Int) = if (r.isNullAt(k)) null else r.getUTF8String(k).toString
      (f(0), f(1), f(2), f(3), f(4))
    }
  }

  test("RSS 2.0: items with title/link/pubDate/description, channel " +
    "metadata skipped, CDATA + entities decode") {
    val xml = """<?xml version="1.0"?>
      |<rss version="2.0"><channel>
      |<title>Site Feed</title><link>https://ex.org/</link>
      |<description>meta, not an item</description>
      |<item>
      |  <title>First &amp; Foremost</title>
      |  <link>https://ex.org/a?x=1&amp;y=2</link>
      |  <pubDate>Mon, 01 Jan 2024 10:00:00 GMT</pubDate>
      |  <description><![CDATA[Body with <b>markup</b> kept raw]]></description>
      |</item>
      |<item><title>Second</title><link>https://ex.org/b</link>
      |  <category>misc</category></item>
      |</channel></rss>""".stripMargin
    assert(entries(xml) == Seq(
      ("rss", "First & Foremost", "https://ex.org/a?x=1&y=2",
        "Mon, 01 Jan 2024 10:00:00 GMT", "Body with <b>markup</b> kept raw"),
      ("rss", "Second", "https://ex.org/b", null, null)))
  }

  test("Atom: entries with href links (alternate preferred), updated " +
    "falling back to published, summary; nested content skipped") {
    val xml = """<feed xmlns="http://www.w3.org/2005/Atom">
      |<title>A Blog</title><id>urn:x</id>
      |<entry>
      |  <title>Post One</title>
      |  <link rel="self" href="https://b.ex/1.atom"/>
      |  <link rel="alternate" href="https://b.ex/1"/>
      |  <published>2024-01-01T00:00:00Z</published>
      |  <summary>sum one</summary>
      |  <content type="html">&lt;p&gt;ignored&lt;/p&gt;</content>
      |</entry>
      |<entry><title>Post Two</title><link href="https://b.ex/2"/>
      |  <updated>2024-02-02T00:00:00Z</updated></entry>
      |</feed>""".stripMargin
    assert(entries(xml) == Seq(
      ("atom", "Post One", "https://b.ex/1", "2024-01-01T00:00:00Z", "sum one"),
      ("atom", "Post Two", "https://b.ex/2", "2024-02-02T00:00:00Z", null)))
  }

  test("fail-closed: unterminated item, stray text in channel, " +
    "titleless+linkless entry, trailing garbage, non-feed XML") {
    assert(entries("<rss><channel><item><title>x</title>") == null)
    assert(entries("<rss><channel>loose text</channel></rss>") == null)
    assert(entries("<feed><entry><updated>2024</updated></entry></feed>") == null)
    assert(entries("<rss><channel></channel></rss>junk") == null)
    assert(entries("<urlset><url><loc>x</loc></url></urlset>") == null)
    assert(entries("") == null)
    assert(FeedKernels.feedEntries(null) == null)
    // empty-but-valid feeds
    assert(entries("<rss><channel></channel></rss>") == Seq.empty)
    assert(entries("<feed></feed>") == Seq.empty)
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, "<feed><entry><title>t</title><link href=\"u\"/></entry></feed>"),
      (2, "nope")).toDF("id", "x")
    df.createOrReplaceTempView("feed_t")
    val rows = spark.sql(
      "SELECT id, size(feed_entries(x)) AS n FROM feed_t ORDER BY id")
      .collect()
    assert(rows(0).getInt(1) == 1)
    assert(rows(1).isNullAt(1) || rows(1).getInt(1) == -1)
    val viaCol = df.select(org.apache.spark.sql.Kernels
      .feedEntries($"x").as("e")).collect()
    assert(!viaCol(0).isNullAt(0))
  }
}

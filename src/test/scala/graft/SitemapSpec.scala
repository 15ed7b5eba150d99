package graft

import graft.functions.SitemapKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[SitemapKernels]] — sitemaps.org urlset / sitemapindex parsing.
  * Fail-closed framing violations each get a hostile fixture, per the
  * WARC/robots kernel pattern.
  */
class SitemapSpec extends SparkSpec {
  import spark.implicits._

  private def parse(x: String): Seq[(String, String, String)] = {
    val arr = SitemapKernels.entries(UTF8String.fromString(x))
    if (arr == null) null
    else (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString)
    }
  }

  test("urlset: loc + optional lastmod in document order, entities decoded") {
    val x = """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      |  <url><loc>https://a.example/p?x=1&amp;y=2</loc>
      |       <lastmod>2026-01-02</lastmod><priority>0.8</priority></url>
      |  <url><loc> https://a.example/q </loc></url>
      |</urlset>""".stripMargin
    assert(parse(x) == Seq(
      ("url", "https://a.example/p?x=1&y=2", "2026-01-02"),
      ("url", "https://a.example/q", null)))
  }

  test("sitemapindex: kind=sitemap; namespace prefixes on tags accepted") {
    val x = "<sm:sitemapindex xmlns:sm=\"x\"><sm:sitemap>" +
      "<sm:loc>https://a.example/s1.xml</sm:loc>" +
      "<sm:lastmod>2026-08-01T00:00:00Z</sm:lastmod>" +
      "</sm:sitemap></sm:sitemapindex>"
    assert(parse(x) ==
      Seq(("sitemap", "https://a.example/s1.xml", "2026-08-01T00:00:00Z")))
  }

  test("CDATA loc, numeric entities, self-closing + nested unknown " +
    "elements skipped, comments and BOM tolerated") {
    val x = "﻿<!-- head --><urlset><url>" +
      "<xhtml:link rel=\"alternate\" href=\"/x\"/>" +
      "<loc><![CDATA[https://a.example/cd?a=<1>]]></loc>" +
      "<video:video><video:title>t &amp; t</video:title></video:video>" +
      "<changefreq>daily</changefreq></url>" +
      "<url><loc>https://a.example/&#x41;&#66;</loc></url></urlset>"
    assert(parse(x) == Seq(
      ("url", "https://a.example/cd?a=<1>", null),
      ("url", "https://a.example/AB", null)))
  }

  test("empty urlset (self-closing or paired) parses to zero entries") {
    assert(parse("<urlset/>") == Seq.empty)
    assert(parse("<urlset></urlset>") == Seq.empty)
  }

  test("fail-closed: every framing violation NULLs the whole document") {
    assert(parse("") == null)                              // no root
    assert(parse("<rss><channel/></rss>") == null)         // wrong root
    assert(parse("<?xml version=\"1.0\"") == null)         // truncated decl
    assert(parse("<urlset><url><loc>x</loc></url>") == null) // no root close
    assert(parse("<urlset><url></url></urlset>") == null)  // entry without loc
    assert(parse("<urlset><url><loc></loc></url></urlset>") == null) // empty loc
    assert(parse("<urlset><url><loc>a</loc><loc>b</loc></url></urlset>") == null)
    assert(parse("<urlset><url><loc>a</loc></url></urlset>junk") == null)
    assert(parse("<urlset><url><loc><![CDATA[x</loc></url></urlset>") == null)
    assert(parse("<urlset><!-- open <url><loc>a</loc></url></urlset>") == null)
    assert(parse("<urlset>text<url><loc>a</loc></url></urlset>") == null)
    assert(parse("<urlset><url/></urlset>") == null)       // self-closing entry
    assert(parse("<urlset><other><loc>a</loc></other></urlset>") == null)
    assert(parse("<urlset><url><loc>a<b>c</b></loc></url></urlset>") == null)
  }

  test("protocol cap: more than 50000 entries is refused") {
    val sb = new StringBuilder("<urlset>")
    for (i <- 0 to SitemapKernels.MaxEntries) // one over the cap
      sb.append(s"<url><loc>https://a.example/$i</loc></url>")
    sb.append("</urlset>")
    assert(parse(sb.toString) == null)
    // exactly at the cap: fine
    val ok = new StringBuilder("<urlset>")
    for (i <- 1 to 3) ok.append(s"<url><loc>https://a.example/$i</loc></url>")
    ok.append("</urlset>")
    assert(parse(ok.toString).length == 3)
  }

  test("SQL + DataFrame chain: robots_sitemaps -> sitemap_entries -> " +
    "url_resolve -> url_parts") {
    val robots = "User-agent: *\nSitemap: https://h.example.com/sitemap.xml\n"
    val xml = "<urlset><url><loc>/rel/1</loc></url>" +
      "<url><loc>https://Other.Example.com/abs</loc></url></urlset>"
    val df = Seq((robots, xml)).toDF("robots", "xml")
      .select(element_at(Kernels.robotsSitemaps(col("robots")), 1)
        .as("sm"), posexplode(Kernels.sitemapEntries(col("xml")))
        .as(Seq("pos", "e")))
      .select(Kernels.urlParts(
        Kernels.urlResolve(col("sm"), col("e.loc")))
        .getField("normalized").as("url"))
    assert(df.as[String].collect().toSeq == Seq(
      "https://h.example.com/rel/1", "https://other.example.com/abs"))
    val n = spark.sql("SELECT size(sitemap_entries('<urlset/>')) AS n")
      .as[Int].head()
    assert(n == 0)
  }

  test("fuzz: random strings and truncations never throw") {
    val rnd = new scala.util.Random(0x51e317L)
    val base = "<urlset><url><loc>https://a.example/p?x=1&amp;y=2</loc>" +
      "<lastmod>2026-01-02</lastmod></url></urlset>"
    for (cut <- 0 to base.length) {
      val r = parse(base.take(cut))
      assert(r == null || cut == base.length, s"partial parse at cut=$cut")
    }
    for (_ <- 0 until 300) {
      val chars = "<>&;/ab c\"'![]-?x\n"
      val junk = (0 until rnd.nextInt(120)).map(_ =>
        chars.charAt(rnd.nextInt(chars.length))).mkString
      parse(junk) // no throw
      parse("<urlset>" + junk + "</urlset>")
    }
  }
}

package graft

import graft.functions.HtmlKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[HtmlKernels.htmlExtract]] — the WET-style HTML → text strip.
  * Kernel-level cases pin the documented semantics byte-for-byte;
  * DataFrame cases exercise the codegen expression path and the SQL
  * registration; the fuzz block asserts total robustness (crawl blobs
  * are adversarial by default).
  */
class HtmlExtractSpec extends SparkSpec {
  import spark.implicits._

  private def x(html: String): String =
    HtmlKernels.htmlExtract(UTF8String.fromString(html)).toString

  test("tags stripped: block tags separate with newline, inline tags with nothing") {
    assert(x("<p>Hello</p><p>World</p>") == "Hello\nWorld")
    assert(x("a<b>b</b>c") == "abc")
    assert(x("<div>one</div><span>two</span>") == "one\ntwo")
    assert(x("a<br>b") == "a\nb")
    assert(x("<h2>T</h2>body") == "T\nbody")
  }

  test("table cells separate with a space, rows with a newline") {
    assert(x("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>")
      == "a b\nc")
  }

  test("script and style contents dropped; rawtext ends at the real close tag") {
    assert(x("x<script>var a = 1 < 2;</script>y") == "xy")
    assert(x("x<style>p { color: red; }</style>y") == "xy")
    // a string containing a LOOKALIKE close ("</scr" + "ipt>") does not
    // end the rawtext; the real </script> does, case-insensitively
    assert(x("""a<script>var s="</scr"+"ipt>";</SCRIPT>b""") == "ab")
    assert(x("a<SCRIPT type=\"text/javascript\">if(1<2){}</script>b") == "ab")
    // unterminated rawtext: fail-closed to EOF
    assert(x("a<script>everything after is code") == "a")
  }

  test("comments dropped, including markup inside; unterminated comment drops to EOF") {
    assert(x("a<!-- <p>hidden</p> -->b") == "ab")
    assert(x("a<!-- never closed") == "a")
    assert(x("a<!---->b") == "ab")
  }

  test("CDATA content kept verbatim; doctype and processing instructions dropped") {
    assert(x("a<![CDATA[1<2&3]]>b") == "a1<2&3b")
    assert(x("a<![CDATA[no close") == "ano close")
    assert(x("<!DOCTYPE html><?xml version=\"1.0\"?>x") == "x")
  }

  test("a '<' not opening markup is literal text") {
    assert(x("1 < 2") == "1 < 2")
    assert(x("i <3 u") == "i <3 u")
    assert(x("a <= b") == "a <= b")
    assert(x("trailing <") == "trailing <")
  }

  test("'>' inside quoted attribute values does not end the tag; unterminated quote is fail-closed") {
    assert(x("""<p title="a>b">x</p>""") == "x")
    assert(x("""<p title='1>2'>x</p>""") == "x")
    // the unterminated quote swallows the rest of the document as attribute
    assert(x("""before<p a="x>y text after""") == "before")
  }

  test("named character references: known decode, unknown and unterminated stay verbatim") {
    assert(x("&amp;&lt;&gt;&quot;&apos;") == "&<>\"'")
    assert(x("a&nbsp;b") == "a b")
    assert(x("co&shy;op") == "coop")
    assert(x("5&deg; &copy;2024 &trade;") == "5° ©2024 ™")
    assert(x("&unknown; stays") == "&unknown; stays")
    assert(x("fish &amp chips") == "fish &amp chips") // no ';'
    assert(x("AT&T") == "AT&T")
    assert(x("&AMP;") == "&AMP;") // case-sensitive by contract
  }

  test("numeric character references: decimal, hex, and every invalid shape verbatim") {
    assert(x("&#65;&#x42;&#X43;") == "ABC")
    assert(x("&#233;") == "é")
    assert(x("&#x10FFFF;") == new String(Character.toChars(0x10ffff)))
    assert(x("&#;") == "&#;")
    assert(x("&#xZZ;") == "&#xZZ;")
    assert(x("&#xD800;") == "&#xD800;") // surrogate
    assert(x("&#0;") == "&#0;")         // NUL
    assert(x("&#1114112;") == "&#1114112;") // 0x110000, out of range
    assert(x("&#12345678;") == "&#12345678;") // > 7 digits
    assert(x("&#65") == "&#65")         // unterminated
  }

  test("whitespace collapse: runs with a newline become one newline, else one space; ends trimmed") {
    assert(x("a \t  b") == "a b")
    assert(x("a \n \n b") == "a\nb")
    assert(x("  lead and trail \n") == "lead and trail")
    assert(x("a\u00A0b") == "a b")       // literal NBSP
    assert(x(" a") == "a")
    assert(x("a\r\nb") == "a\nb")
    // \x0B and \f are NOT whitespace for this kernel (matches the
    // oracle's explicit RE2 class)
    assert(x("a\u000Bb") == "a\u000Bb")
    // block newline wins over adjacent spaces
    assert(x(" <p> padded </p> ") == "padded")
  }

  test("multi-byte text passes through untouched") {
    assert(x("<p>Résumé — §5 日本語</p>") == "Résumé — §5 日本語")
    assert(x("<h1>naïve&nbsp;café</h1>") == "naïve café")
  }

  test("unterminated open tag at EOF is dropped; empty input stays empty") {
    assert(x("abc<p def") == "abc")
    assert(x("") == "")
    assert(x("<p></p>") == "")
    assert(x("<script>") == "")
  }

  test("DataFrame path: codegen expression and NULL propagation") {
    val df = Seq(
      (1L, "<p>Hello &amp; goodbye</p><script>x<y</script>"),
      (2L, null.asInstanceOf[String]),
      (3L, "plain")
    ).toDF("id", "html")
    val got = df.select(col("id"), Kernels.htmlExtract(col("html")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Hello & goodbye")
    assert(got(2L) == null)
    assert(got(3L) == "plain")
  }

  test("SQL registration: html_extract callable from spark.sql") {
    val got = spark.sql(
      "SELECT html_extract('<ul><li>a</li><li>b &lt;3</li></ul>') AS t")
      .as[String].head()
    assert(got == "a\nb <3")
  }

  private def links(html: String): Seq[String] = {
    val arr = HtmlKernels.htmlLinks(UTF8String.fromString(html))
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
  }

  test("htmlLinks: href values in document order, quote styles, case-insensitive names") {
    assert(links("""<a href="/x">t</a><a href='/y'>u</a>""") == Seq("/x", "/y"))
    assert(links("<a href=/plain>t</a>") == Seq("/plain"))
    assert(links("<a href=/p class=c>t</a>") == Seq("/p"))
    assert(links("""<A HREF="/up">t</A><area href="/m">""") == Seq("/up", "/m"))
    // only a/area carry frontier links; no-href anchors contribute nothing
    assert(links("""<link href="/css"><div href="/no"><a>text</a>""").isEmpty)
    assert(links("""<a data-href="/no" href="/yes">t</a>""") == Seq("/yes"))
    // duplicate attribute: first wins (browser behavior)
    assert(links("""<a href="/1" href="/2">t</a>""") == Seq("/1"))
    // duplicates across tags are KEPT (frontier dedups after canonicalization)
    assert(links("""<a href="/d">1</a><a href="/d">2</a>""") == Seq("/d", "/d"))
    assert(links("""<a href="">self</a>""") == Seq(""))
  }

  test("htmlLinks: entity decoding in values; skipped contexts never leak links") {
    assert(links("""<a href="/p?a=1&amp;b=2&#47;c">t</a>""") == Seq("/p?a=1&b=2/c"))
    assert(links("""<!-- <a href="/no1"> --><a href="/ok">t</a>""") == Seq("/ok"))
    assert(links("""<script>var s = '<a href="/no2">';</script><a href="/ok">t</a>""")
      == Seq("/ok"))
    assert(links("""<![CDATA[<a href="/no3">]]><a href="/ok">t</a>""") == Seq("/ok"))
    // a quoted '>' in an EARLIER attribute doesn't end the tag
    assert(links("""<a title="x>y" href="/z">t</a>""") == Seq("/z"))
    // unterminated quote swallows the rest: fail-closed, no links
    assert(links("""<a href="/unclosed rest of doc""").isEmpty)
  }

  test("htmlLinks: DataFrame + SQL paths, NULL propagation") {
    val got = spark.sql(
      """SELECT html_links('<a href="/a">x</a><area href="/b">') AS l""")
      .as[Seq[String]].head()
    assert(got == Seq("/a", "/b"))
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "html")
      .select(Kernels.htmlLinks(col("html"))).collect()
    assert(df.head.isNullAt(0))
  }

  test("fuzz: arbitrary byte garbage never throws, output is bounded") {
    val rnd = new scala.util.Random(0x47ade13L)
    val alphabet = "<>&;!-/\"'= \t\n abcPSCRIPTstyle#x09[]DATA—é"
    for (trial <- 0 until 500) {
      val len = rnd.nextInt(200)
      val s = new String(Array.fill(len)(alphabet.charAt(rnd.nextInt(alphabet.length))))
      val out = x(s) // must not throw
      links(s)       // the link walker is total too
      assert(out.getBytes("UTF-8").length <= 2 * s.getBytes("UTF-8").length + 8,
        s"trial $trial blew the size bound: ${s.take(50)}")
    }
    // raw random bytes too (invalid UTF-8 sequences included)
    for (trial <- 0 until 200) {
      val bytes = Array.fill(rnd.nextInt(120))(rnd.nextInt(256).toByte)
      HtmlKernels.htmlExtract(UTF8String.fromBytes(bytes)) // no throw
    }
  }

  test("html_meta (r17): title collapse + entities, og fields, name " +
    "description, canonical link, html lang; first occurrence wins; " +
    "best-effort on soup") {
    def meta(html: String) = {
      val r = HtmlKernels.htmlMeta(UTF8String.fromString(html))
      (0 until 7).map(i =>
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
    }
    val page = """<!DOCTYPE html><html lang="en-GB"><head>
      |<title>  A &amp;
      |  Title  </title>
      |<meta property="og:title" content="OG &quot;Title&quot;">
      |<meta property="og:description" content="og desc"/>
      |<meta property="og:image" content="https://x/img.png">
      |<meta name="description" content="plain desc">
      |<link rel="stylesheet" href="s.css">
      |<link href="https://x/canon" rel="canonical">
      |<script>var t = "<title>not me</title>";</script>
      |<title>second ignored</title>
      |</head><body><p>body</p></body></html>""".stripMargin
    assert(meta(page) == Seq("A & Title", "plain desc", "OG \"Title\"",
      "og desc", "https://x/img.png", "https://x/canon", "en-GB"))
    // soup: fields absent -> nulls, struct present
    assert(meta("<p>no head at all</p>") == Seq.fill(7)(null))
    assert(meta("") == Seq.fill(7)(null))
    assert(HtmlKernels.htmlMeta(null) == null)
    // unquoted attribute values and single quotes
    assert(meta("<html lang=fr><title>t</title>")(6) == "fr")
    assert(meta("<meta property='og:title' content='sq'>")(2) == "sq")
    // SQL surface
    val rows = spark.sql(
      "SELECT html_meta('<title>sql t</title>').title AS t").collect()
    assert(rows(0).getString(0) == "sql t")
  }
}

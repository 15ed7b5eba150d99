package graft

import graft.functions.UrlKernels
import org.apache.spark.sql.{Kernels, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[UrlKernels.urlParts]] — URL canonicalization. Hand-pinned cases
  * for every normalization step, the fail-closed NULL contract for
  * every malformed shape, the codegen/SQL paths, and fuzz totality.
  */
class UrlPartsSpec extends SparkSpec {
  import spark.implicits._

  private def parts(u: String): Row = {
    val r = UrlKernels.urlParts(UTF8String.fromString(u))
    if (r == null) null
    else Row(r.getUTF8String(0).toString, r.getUTF8String(1).toString,
      r.getUTF8String(2).toString,
      if (r.isNullAt(3)) null else r.getInt(3),
      r.getUTF8String(4).toString,
      if (r.isNullAt(5)) null else r.getUTF8String(5).toString,
      r.getUTF8String(6).toString)
  }
  private def norm(u: String): String = {
    val p = parts(u); if (p == null) null else p.getString(0)
  }

  test("the kitchen-sink URL: case, default port, dot segments, tracking params, sort, fragment") {
    val p = parts("HTTP://Example.COM:80/a/./b/../c?utm_source=x&b=2&a=1#frag")
    assert(p.getString(0) == "http://example.com/a/c?a=1&b=2")
    assert(p.getString(1) == "http" && p.getString(2) == "example.com")
    assert(p.getInt(3) == 80) // effective port, stripped from the text
    assert(p.getString(4) == "/a/c" && p.getString(5) == "a=1&b=2")
    assert(p.getString(6) == "example.com")
  }

  test("default ports per scheme stripped; explicit non-default ports kept") {
    assert(norm("https://h.com:443/x") == "https://h.com/x")
    assert(norm("ftp://h.com:21/x") == "ftp://h.com/x")
    assert(norm("https://h.com:8443/x") == "https://h.com:8443/x")
    assert(parts("https://h.com:8443/x").getInt(3) == 8443)
    // unknown scheme: no default, port null when absent
    assert(parts("wss://h.com/x").isNullAt(3))
    assert(parts("wss://h.com:9000/x").getInt(3) == 9000)
  }

  test("empty path becomes '/'; duplicate slashes are kept; root dot segments clamp") {
    assert(norm("https://example.com") == "https://example.com/")
    assert(norm("https://example.com?a=1") == "https://example.com/?a=1")
    assert(norm("http://h.com//double//slash") == "http://h.com//double//slash")
    assert(norm("http://h.com/..") == "http://h.com/")
    assert(norm("http://h.com/a/b/..") == "http://h.com/a/")
    assert(norm("http://h.com/a/b/.") == "http://h.com/a/b/")
  }

  test("percent-escapes: unreserved decoded, others uppercased, malformed verbatim") {
    assert(norm("http://h.com/%7euser/%2fdocs") == "http://h.com/~user/%2Fdocs")
    assert(norm("http://h.com/a%zz/b%4") == "http://h.com/a%zz/b%4")
    assert(norm("http://h.com/x?k=%41%3d") == "http://h.com/x?k=A%3D")
  }

  test("query canonicalization: empties dropped, tracking removed, bytewise sort, valueless kept") {
    assert(norm("http://h.com/x?b=2&&a=1&") == "http://h.com/x?a=1&b=2")
    assert(norm("http://h.com/x?UTM_CAMPAIGN=c&gclid=1&fbclid=2&msclkid=3&q=ok")
      == "http://h.com/x?q=ok")
    assert(norm("http://h.com/x?utm_source=a") == "http://h.com/x")
    assert(norm("http://h.com/x?flag&a=1") == "http://h.com/x?a=1&flag")
    // "a=1" sorts before "a=10" (prefix first), both kept (no value merge)
    assert(norm("http://h.com/x?a=10&a=1") == "http://h.com/x?a=1&a=10")
  }

  test("userinfo kept verbatim; IPv6 hosts bracketed and lowercased") {
    assert(norm("http://user:pw@H.com/x") == "http://user:pw@h.com/x")
    val p = parts("http://[2001:DB8::1]:8080/x")
    assert(p.getString(2) == "[2001:db8::1]" && p.getInt(3) == 8080)
    assert(p.getString(0) == "http://[2001:db8::1]:8080/x")
  }

  test("apex heuristic: last two labels; single-label and IPv6 hosts pass through") {
    assert(parts("http://a.b.example.co/x").getString(6) == "example.co")
    assert(parts("http://localhost/x").getString(6) == "localhost")
    assert(parts("http://[2001:db8::1]/x").getString(6) == "[2001:db8::1]")
  }

  test("fail-closed NULL for every malformed shape") {
    val bad = Seq(
      "not a url", "http//x.com", "://x.com", "http://", "http://#f",
      "http://:80/x", "http://h.com:ab/x", "http://h.com:99999999/x",
      "http://h.com:70000/x", "http://[::1/x", "1http://h.com/", "",
      "http:/h.com/x", "  ")
    bad.foreach(u => assert(parts(u) == null, s"expected NULL for '$u'"))
  }

  test("DataFrame + SQL paths, NULL propagation") {
    val df = Seq(
      (1L, "HTTPS://A.Example.com/p?utm_source=x&z=1"),
      (2L, "junk"), (3L, null.asInstanceOf[String])
    ).toDF("id", "u")
    val got = df.select(col("id"), Kernels.urlParts(col("u")).as("p"))
      .select(col("id"), col("p.normalized"), col("p.apex"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L) == (("https://a.example.com/p?z=1", "example.com")))
    assert(got(2L) == ((null, null)) && got(3L) == ((null, null)))
    val sql = spark.sql(
      "SELECT url_parts('http://X.com:80/a/../b').normalized AS n").as[String].head()
    assert(sql == "http://x.com/b")
  }

  test("urlResolve: the RFC 3986 section 5.4 vectors, normal and abnormal, strict mode") {
    val base = "http://a/b/c/d;p?q"
    def r(ref: String): String = {
      val out = UrlKernels.resolve(
        UTF8String.fromString(base), UTF8String.fromString(ref))
      if (out == null) null else out.toString
    }
    val vectors = Seq(
      "g:h" -> "g:h", "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g", "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y", "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q#s", "g#s" -> "http://a/b/c/g#s",
      "g?y#s" -> "http://a/b/c/g?y#s", ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x", "g;x?y#s" -> "http://a/b/c/g;x?y#s",
      "" -> "http://a/b/c/d;p?q", "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/", ".." -> "http://a/b/", "../" -> "http://a/b/",
      "../g" -> "http://a/b/g", "../.." -> "http://a/", "../../" -> "http://a/",
      "../../g" -> "http://a/g",
      // abnormal (5.4.2)
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "http:g" -> "http:g") // strict parser keeps the scheme'd ref
    for ((ref, want) <- vectors)
      assert(r(ref) == want, s"resolve('$ref') = ${r(ref)}, want $want")
    // empty base path merges at root; unparseable base is NULL
    assert(UrlKernels.resolve(UTF8String.fromString("http://h.com"),
      UTF8String.fromString("g")).toString == "http://h.com/g")
    assert(UrlKernels.resolve(UTF8String.fromString("not a url"),
      UTF8String.fromString("g")) == null)
    // SQL surface
    val viaSql = spark.sql(
      "SELECT url_resolve('http://a/b/c/d;p?q', '../g') AS u").as[String].head()
    assert(viaSql == "http://a/b/g")
  }

  test("IDN hosts fold to punycode ACE (r14): known vectors, ACE " +
    "passthrough equivalence, fuzz vs java.net.IDN") {
    assert(norm("https://BÜCHER.example/p") == "https://xn--bcher-kva.example/p")
    assert(norm("http://münchen.de") == "http://xn--mnchen-3ya.de/")
    assert(norm("https://пример.рф/x") == "https://xn--e1afmkfd.xn--p1ai/x")
    assert(norm("https://例え.jp/") == "https://xn--r8jz45g.jp/")
    assert(norm("https://mixed-ascii.örg") == "https://mixed-ascii.xn--rg-eka/")
    // the unicode form and its ACE form share ONE canonical key
    assert(norm("https://bücher.example/p") == norm("https://xn--bcher-kva.example/p"))
    // ASCII hosts untouched
    assert(norm("https://plain.example/p") == "https://plain.example/p")
    // fuzz the punycode encoder against the platform's IDNA (same
    // bootstring algorithm) over random lowercase BMP labels
    val rnd = new scala.util.Random(0x1d4a)
    def cp(): Int = {
      val r = rnd.nextInt(4)
      if (r == 0) 'a' + rnd.nextInt(26)
      else if (r == 1) 0xe0 + rnd.nextInt(0x250 - 0xe0)   // latin ext / IPA
      else if (r == 2) 0x430 + rnd.nextInt(0x45f - 0x430) // cyrillic lower
      else 0x3b1 + rnd.nextInt(0x3c9 - 0x3b1)             // greek lower
    }
    // roundtrip through an INDEPENDENT RFC 3492 §6.2 decoder (the
    // platform IDN.toUnicode refuses labels nameprep would remap, like
    // ς→σ — an IDNA2003 mapping outside our documented scope, not a
    // punycode property)
    def punyDecode(in: String): String = {
      val lastDash = in.lastIndexOf('-')
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      if (lastDash > 0) in.substring(0, lastDash).foreach(c => out += c.toInt)
      var n = 128; var i = 0; var bias = 72
      var p = if (lastDash >= 0) lastDash + 1 else 0
      def adapt(d0: Int, numpoints: Int, first: Boolean): Int = {
        var d = if (first) d0 / 700 else d0 / 2
        d += d / numpoints
        var k = 0
        while (d > (35 * 26) / 2) { d /= 35; k += 36 }
        k + (36 * d) / (d + 38)
      }
      while (p < in.length) {
        val oldi = i
        var w = 1
        var k = 36
        var going = true
        while (going) {
          val c = in.charAt(p); p += 1
          val digit = if (c >= 'a' && c <= 'z') c - 'a'
            else if (c >= '0' && c <= '9') c - '0' + 26 else fail(s"bad digit $c")
          i += digit * w
          val t = if (k <= bias) 1 else if (k >= bias + 26) 26 else k - bias
          if (digit < t) going = false else { w *= 36 - t; k += 36 }
        }
        bias = adapt(i - oldi, out.length + 1, oldi == 0)
        n += i / (out.length + 1)
        i %= out.length + 1
        out.insert(i, n)
        i += 1
      }
      new String(out.toArray, 0, out.length)
    }
    def fail(m: String): Nothing = throw new AssertionError(m)
    var checked = 0
    for (_ <- 0 until 400) {
      val label = (0 until 1 + rnd.nextInt(12)).map(_ => cp().toChar).mkString
      if (label.exists(_ >= 128)) {
        val mine = norm(s"https://$label.example/")
        val ace = mine.stripPrefix("https://").takeWhile(_ != '.')
        assert(ace.startsWith("xn--"), s"label '$label': $mine")
        val back = punyDecode(ace.stripPrefix("xn--"))
        checked += 1
        assert(back == label.toLowerCase,
          s"label '$label': ace=$ace decodes to '$back'")
      }
    }
    assert(checked > 200, s"fuzz only checked $checked labels")
  }

  test("fuzz: arbitrary strings never throw") {
    val rnd = new scala.util.Random(0x0731a17L)
    val alphabet = ":/?#[]@!$&'()*+,;=%abcXYZ09._~-é "
    for (_ <- 0 until 1000) {
      val s = new String(Array.fill(rnd.nextInt(60))(
        alphabet.charAt(rnd.nextInt(alphabet.length))))
      UrlKernels.urlParts(UTF8String.fromString(s)) // no throw
      UrlKernels.urlParts(UTF8String.fromString("http://" + s))
      UrlKernels.urlParts(UTF8String.fromString("https://h.com/" + s))
      UrlKernels.resolve(UTF8String.fromString("http://a/b/c/d;p?q"),
        UTF8String.fromString(s))
      UrlKernels.resolve(UTF8String.fromString(s), UTF8String.fromString("/x"))
    }
  }
}

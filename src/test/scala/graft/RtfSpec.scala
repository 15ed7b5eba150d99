package graft

import graft.functions.RtfKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[RtfKernels]] — RTF text extraction: control words, destination
  * skipping, cp1252 and unicode escapes, the \uc fallback protocol,
  * and the fail-closed structural contract. */
class RtfSpec extends AnyFunSuite {

  private def t(s: String): String = {
    val r = RtfKernels.rtfText(s.getBytes("ISO-8859-1"))
    if (r == null) null else r.toString
  }

  test("plain text, \\par/\\line/\\tab, escaped braces and backslash") {
    assert(t("""{\rtf1\ansi Hello World}""") == "Hello World")
    assert(t("""{\rtf1 a\par b\line c\tab d}""") == "a\nb\nc\td")
    assert(t("""{\rtf1 lit \{x\} and \\ done}""") == "lit {x} and \\ done")
    assert(t("""{\rtf1 a\~b}""") == "a b") // \~ = non-breaking space
  }

  test("font/color/stylesheet/info destinations and {\\*...} skip; " +
    "formatting words are transparent") {
    val doc = """{\rtf1\ansi\deff0{\fonttbl{\f0\fswiss Helvetica;}}""" +
      """{\colortbl;\red0\green0\blue0;}{\info{\author nobody}}""" +
      """{\*\generator Acme Writer 9.1;}\f0\fs24\b Bold\b0  and plain\par}"""
    assert(t(doc) == "Bold and plain\n")
  }

  test("cp1252 \\'hh bytes, raw high bytes, symbol words") {
    assert(t("""{\rtf1 caf\'e9 \'80 ok}""") == "café € ok")
    assert(t("""{\rtf1 a\emdash b\endash c\bullet\lquote d\rquote}""") ==
      "a—b–c•‘d’")
    // raw cp1252 byte in the stream (0x93 = left double quote)
    assert(t("{\\rtf1 xy}") == "x“y")
  }

  // NOTE: \\u forms are built by concatenation — a literal
  // backslash-u in Scala source is lexed as a unicode escape.
  private val bu = "\\" + "u"

  test("\\uN unicode with \\uc fallback skipping, negative form") {
    assert(t(s"{\\rtf1 ${bu}948 ?delta}") == "δdelta")
    assert(t(s"{\\rtf1\\uc2 ${bu}10003 ??done}") == "✓done")
    assert(t(s"{\\rtf1 \\uc0${bu}948 delta}") == "δdelta")
    // negative = codepoint - 65536 per the 16-bit signed convention
    assert(t(s"{\\rtf1 ${bu}-1396 ?x}") == (0x10000 - 1396).toChar + "x")
    // the skip counts \'hh fallbacks as one character each
    assert(t(s"{\\rtf1\\uc1 ${bu}948 \\'64y}") == "δy")
  }

  test("\\binN skips raw bytes; nested groups restore \\uc state") {
    assert(t("{\\rtf1 a\\bin3 \u0001\u0002\u0003b}") == "ab")
    assert(t(s"{\\rtf1\\uc1 {\\uc0${bu}948 }${bu}949 ?z}") == "δεz")
  }

  test("fail-closed: non-RTF, unbalanced groups, truncation, bad hex") {
    assert(t("not rtf at all") == null)
    assert(t("""{\rtf1 unclosed""") == null)
    assert(t("""{\rtf1 too}many}""") == null)
    assert(t("""{\rtf1 \'zz}""") == null)
    assert(t("""{\rtf1 \bin99 x}""") == null)
    assert(RtfKernels.rtfText(null) == null)
    val good = """{\rtf1\ansi{\fonttbl{\f0 F;}}body text\par}"""
    var cut = 1
    while (cut < good.length) {
      RtfKernels.rtfText(good.take(cut).getBytes("ISO-8859-1"))
      cut += 3
    }
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, """{\rtf1 sql body\par}""".getBytes("ISO-8859-1")),
      (2, "junk".getBytes("ISO-8859-1"))).toDF("id", "b")
    df.createOrReplaceTempView("rtf_t")
    val rows = spark.sql("SELECT id, rtf_text(b) AS t FROM rtf_t ORDER BY id")
      .collect()
    assert(rows(0).getString(1) == "sql body\n")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.rtfText($"b").as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(viaCol.count(_.isDefined) == 1)
  }
}

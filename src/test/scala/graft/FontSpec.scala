package graft

import graft.functions.FontKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[FontKernels]] — TTF/OTF/TTC/WOFF/WOFF2 triage over spec-faithful
  * framing from the in-repo builders. */
class FontSpec extends AnyFunSuite {

  private def meta(b: Array[Byte]): Option[(String, String, Option[Int], Int)] = {
    val r = FontKernels.fontMeta(b)
    if (r == null) None
    else Some((r.getUTF8String(0).toString,
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
      if (r.isNullAt(2)) None else Some(r.getInt(2)),
      r.getInt(3)))
  }

  private def tables(family: String, glyphs: Int) = Seq(
    "name" -> FontKernels.buildNameTable(family),
    "maxp" -> FontKernels.buildMaxp(glyphs),
    "glyf" -> new Array[Byte](64))

  test("ttf/otf: family from the Windows name record, glyph count " +
    "from maxp, table count") {
    val ttf = FontKernels.buildSfnt(otf = false, tables("Family Açaí", 321))
    assert(meta(ttf) == Some(("ttf", "Family Açaí", Some(321), 3)))
    val otf = FontKernels.buildSfnt(otf = true, tables("Other", 7))
    assert(meta(otf) == Some(("otf", "Other", Some(7), 3)))
    // nameless font: sound container, NULL family
    val bare = FontKernels.buildSfnt(otf = false,
      Seq("maxp" -> FontKernels.buildMaxp(5)))
    assert(meta(bare) == Some(("ttf", null, Some(5), 1)))
  }

  test("woff: compressed and stored tables inflate; flavor carries " +
    "through; corrupt deflate refused") {
    val w = FontKernels.buildWoff(otf = false, Seq(
      ("name", FontKernels.buildNameTable("Webby"), true),
      ("maxp", FontKernels.buildMaxp(99), false),
      ("glyf", Array.fill[Byte](300)(7), true)))
    assert(meta(w) == Some(("woff-ttf", "Webby", Some(99), 3)))
    val wo = FontKernels.buildWoff(otf = true, Seq(
      ("name", FontKernels.buildNameTable("WebOt"), true)))
    assert(meta(wo) == Some(("woff-otf", "WebOt", None, 1)))
    val bad = w.clone()
    // find the compressed name table region and corrupt it
    bad(70) = (bad(70) ^ 0x55).toByte
    assert(meta(bad).isEmpty || meta(bad).get._2 != "Webby")
  }

  test("ttc picks the first font; woff2 is header-only census") {
    val f1 = FontKernels.buildSfnt(otf = false, tables("In Collection", 12), base = 16)
    val ttc = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("ttcf".getBytes("US-ASCII"))
      out.write(Array[Byte](0, 1, 0, 0))
      out.write(Array[Byte](0, 0, 0, 1)) // one font
      out.write(Array[Byte](0, 0, 0, 16)) // offset to its directory
      out.write(f1)
      out.toByteArray
    }
    assert(meta(ttc) == Some(("ttf", "In Collection", Some(12), 3)))
    val woff2 = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("wOF2".getBytes("US-ASCII"))
      out.write(Array[Byte](0, 1, 0, 0))
      out.write(Array[Byte](0, 0, 4, 0)) // total size
      out.write(Array[Byte](0, 5))       // numTables
      out.write(new Array[Byte](34))
      out.toByteArray
    }
    assert(meta(woff2) == Some(("woff2", null, None, 5)))
  }

  test("fail-closed: junk, truncation, directory overruns") {
    assert(meta("not a font at all".getBytes("UTF-8")).isEmpty)
    assert(FontKernels.fontMeta(null) == null)
    val good = FontKernels.buildSfnt(otf = false, tables("T", 3))
    var cut = 1
    while (cut < good.length) {
      FontKernels.fontMeta(java.util.Arrays.copyOf(good, cut))
      cut += 7
    }
    val bad = good.clone()
    bad(12 + 12) = 0x7f // inflate a table offset past the blob
    assert(meta(bad).isEmpty)
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, FontKernels.buildSfnt(otf = false, tables("Sql Sans", 10))),
      (2, "junk".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("font_t")
    val rows = spark.sql(
      "SELECT id, font_meta(b).family AS f FROM font_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "Sql Sans")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.fontMeta($"b")
      .getField("n_glyphs").as("g")).collect()
    assert(viaCol(0).getInt(0) == 10 && viaCol(1).isNullAt(0))
  }
}

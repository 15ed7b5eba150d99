package graft

import graft.functions.TableKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[TableKernels]] — HTML table extraction state machine. */
class HtmlTablesSpec extends SparkSpec {
  import spark.implicits._

  private def cells(html: String): Seq[(Int, Int, Int, String)] = {
    val a = TableKernels.tables(UTF8String.fromString(html))
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 4)
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getUTF8String(3).toString)
    }
  }

  test("rows/cells with omitted closing tags; entities; inner markup text") {
    val html = "<table>" +
      "<tr><th>h1</th><th>a &amp; b</th></tr>" +
      "<tr><td>one<td><b>bo</b>ld" + // omitted </td>, </tr>
      "<tr><td>  spaced   out </td><td>&#65;x</td></tr>" +
      "</table>"
    assert(cells(html) == Seq(
      (0, 0, 0, "h1"), (0, 0, 1, "a & b"),
      (0, 1, 0, "one"), (0, 1, 1, "bold"),
      (0, 2, 0, "spaced out"), (0, 2, 1, "Ax")))
  }

  test("nested tables own their text; document-order numbering; " +
    "script/style/comments never leak; no tables = empty") {
    val html = "<p>x</p><table><tr><td>A" +
      "<table><tr><td>inner</td></tr></table>" +
      "<script>var t = '<td>no</td>';</script>" +
      "<!-- <td>never</td> -->B</td><td>C</td></tr></table>"
    assert(cells(html) == Seq(
      (0, 0, 0, "AB"), (0, 0, 1, "C"),
      (1, 0, 0, "inner")))
    assert(cells("<p>no tables here</p>") == Seq.empty)
    // text outside cells never attaches
    assert(cells("<table>stray<tr>more<td>real</td></tr></table>") ==
      Seq((0, 0, 0, "real")))
  }

  test("fail-closed: unclosed table NULL; stray close NULL; fuzz never throws") {
    assert(cells("<table><tr><td>cut off") == null)
    assert(cells("</table>") == null)
    assert(cells("<table><tr><td>x</td></tr></table></table>") == null)
    val rnd = new scala.util.Random(0x7ab1e)
    val chars = "<>tdrh/ab &;#x\"'-!"
    for (_ <- 0 until 300) {
      val junk = (0 until rnd.nextInt(150)).map(_ =>
        chars.charAt(rnd.nextInt(chars.length))).mkString
      TableKernels.tables(UTF8String.fromString(junk))
      TableKernels.tables(UTF8String.fromString("<table>" + junk + "</table>"))
    }
  }

  test("DataFrame + SQL surface") {
    val out = Seq(Tuple1("<table><tr><td>q</td><td>r</td></tr></table>"))
      .toDF("h")
      .select(explode(Kernels.htmlTables(col("h"))).as("c"))
      .select(col("c.table"), col("c.row"), col("c.col"), col("c.text"))
      .as[(Int, Int, Int, String)].collect().toSeq
    assert(out == Seq((0, 0, 0, "q"), (0, 0, 1, "r")))
    val n = spark.sql(
      "SELECT size(html_tables('<p>none</p>')) AS n").as[Int].head()
    assert(n == 0)
  }
}

package graft

import graft.functions.PptxKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[PptxKernels]] — PPTX slide-text extraction over real ZIP
  * framing: slide part ordering, paragraph/run structure, entities,
  * and the fail-closed contract. */
class PptxSpec extends AnyFunSuite {

  private def zip(members: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    members.foreach { case (name, content) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def textOf(b: Array[Byte]): String = {
    val t = PptxKernels.pptxText(b)
    if (t == null) null else t.toString
  }

  private def slide(paras: Seq[Seq[String]]): String =
    "<p:sld xmlns:a=\"x\"><p:cSld><p:spTree>" +
      paras.map(runs => "<a:p>" +
        runs.map(r => s"<a:t>$r</a:t>").mkString("<a:r/>") +
        "</a:p>").mkString +
      "</p:spTree></p:cSld></p:sld>"

  test("runs concatenate per paragraph, paragraphs become lines, " +
    "slides separate with a blank line; entities decode; empty runs ok") {
    val pptx = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/slides/slide1.xml" -> slide(Seq(
        Seq("Title ", "&amp; subtitle"), Seq("bullet one"))),
      "ppt/slides/slide2.xml" ->
        ("<p:sld><p:txBody><a:p><a:t/><a:t>second deck</a:t></a:p>" +
          "<a:p></a:p></p:txBody></p:sld>"))
    assert(textOf(pptx) ==
      "Title & subtitle\nbullet one\n\nsecond deck")
  }

  test("slide part numbering stops at the first gap; archive member " +
    "order does not matter") {
    val pptx = zip(
      "ppt/slides/slide2.xml" -> slide(Seq(Seq("two"))),
      "ppt/slides/slide1.xml" -> slide(Seq(Seq("one"))),
      "ppt/slides/slide4.xml" -> slide(Seq(Seq("orphan"))))
    assert(textOf(pptx) == "one\n\ntwo") // slide3 absent: 4 unreachable
  }

  test("fail-closed: no slide1, malformed a:t, damaged zip, junk") {
    assert(textOf(zip("word/document.xml" -> "<w:document/>")) == null)
    assert(textOf(zip("ppt/slides/slide1.xml" ->
      "<a:p><a:t>unclosed run</a:p>")) == null)
    assert(textOf("PK garbage".getBytes("UTF-8")) == null)
    assert(PptxKernels.pptxText(null) == null)
    val good = zip("ppt/slides/slide1.xml" -> slide(Seq(Seq("x"))))
    var cut = 1
    while (cut < good.length) {
      PptxKernels.pptxText(java.util.Arrays.copyOf(good, cut))
      cut += 5
    }
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val good = zip("ppt/slides/slide1.xml" -> slide(Seq(Seq("sql deck"))))
    val df = Seq((1, good), (2, "nope".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("pptx_t")
    val rows = spark.sql(
      "SELECT id, pptx_text(b) AS t FROM pptx_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "sql deck")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.pptxText($"b").as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(viaCol.count(_.isDefined) == 1)
  }
}

package graft

import graft.functions.XlsxKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

/** [[XlsxKernels]] — the OOXML spreadsheet chain over the ZIP +
  * sharedStrings layers. Archives are built with the JDK's
  * ZipOutputStream (DEFLATED members — the real-writer shape, unlike
  * the stored in-plan fixtures), so extraction exercises the inflate
  * path too.
  */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

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

  private def cellsOf(b: Array[Byte]): Option[Seq[(Int, Int, String)]] =
    Option(XlsxKernels.cells(b)).map { a =>
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 3)
        (r.getInt(0), r.getInt(1), r.getUTF8String(2).toString)
      }
    }

  private val sharedXml =
    """<?xml version="1.0"?><sst count="3" uniqueCount="3">
      |<si><t>name</t></si>
      |<si><t xml:space="preserve">count &amp; total</t></si>
      |<si><r><rPr><b/></rPr><t>rich </t></r><r><t>run</t></r></si>
      |</sst>""".stripMargin

  test("shared, inline, numeric, formula-string and boolean cells; " +
    "ref-addressed sparse columns; rich-text runs concatenate") {
    val sheet =
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
        |  <c r="D1" t="s"><v>2</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>inline &lt;ok&gt;</t></is></c>
        |  <c r="B3"><v>42.5</v></c>
        |  <c r="C3" t="str"><v>SUM!</v></c>
        |  <c r="D3" t="b"><v>1</v></c>
        |  <c r="AA3"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val xlsx = zip("xl/worksheets/sheet1.xml" -> sheet,
      "xl/sharedStrings.xml" -> sharedXml)
    assert(cellsOf(xlsx).get === Seq(
      (0, 0, "name"), (0, 1, "count & total"), (0, 3, "rich run"),
      (2, 0, "inline <ok>"), (2, 1, "42.5"), (2, 2, "SUM!"),
      (2, 3, "1"), (2, 26, "7")))
  }

  test("empty cells emit nothing; a sheet with no cells is an empty " +
    "array; no sharedStrings member is fine without string cells") {
    val sheet = """<worksheet><sheetData>
      |<row r="1"><c r="A1"/><c r="B1"><v>3</v></c><c r="C1"></c></row>
      |</sheetData></worksheet>""".stripMargin
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" -> sheet)).get ===
      Seq((0, 1, "3")))
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" ->
      "<worksheet><sheetData/></worksheet>")).get === Seq.empty)
  }

  test("fail-closed: truncated archive, missing sheet1, string cell " +
    "without sharedStrings, out-of-range index, ref-less cell, bad ref") {
    val okSheet = """<worksheet><sheetData>
      |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
      |</sheetData></worksheet>""".stripMargin
    val full = zip("xl/worksheets/sheet1.xml" -> okSheet,
      "xl/sharedStrings.xml" -> sharedXml)
    assert(cellsOf(full).get === Seq((0, 0, "name")))
    assert(cellsOf(full.take(40)).isEmpty)                 // truncated zip
    assert(cellsOf(zip("xl/other.xml" -> "<x/>")).isEmpty) // no sheet1
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" -> okSheet)).isEmpty)
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" ->
      okSheet.replace(">0<", ">99<"),
      "xl/sharedStrings.xml" -> sharedXml)).isEmpty)       // index 99 > 2
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" ->
      "<worksheet><sheetData><c><v>1</v></c></sheetData></worksheet>")).isEmpty)
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" ->
      okSheet.replace("A1", "11"))).isEmpty)               // digit-first ref
    assert(XlsxKernels.cells(null) == null)
    // fuzz: random bytes and truncations never throw
    val rnd = new scala.util.Random(0x15c3)
    for (_ <- 0 until 200)
      XlsxKernels.cells(Array.fill(rnd.nextInt(160))(rnd.nextInt(256).toByte))
    for (cut <- 1 until full.length by 17) XlsxKernels.cells(full.take(cut))
  }

  test("r15 review fixes: whitespace after the cell name parses (pretty-" +
    "printed writers), malformed inlineStr NULLs the whole blob, and a " +
    "large sheet extracts in one linear scan") {
    val wsSheet = "<worksheet><sheetData><row r=\"1\"><c\n  r=\"A1\"" +
      " t=\"inlineStr\"><is><t>ws cell</t></is></c><c\tr=\"B1\"><v>5</v>" +
      "</c></row></sheetData></worksheet>"
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" -> wsSheet)).get ===
      Seq((0, 0, "ws cell"), (0, 1, "5")))
    // a truncated <t> inside <is> is structural damage, not a skipped cell
    val badIs = """<worksheet><sheetData><row r="1">
      |<c r="A1" t="inlineStr"><is><t>never closed</is></c>
      |</row></sheetData></worksheet>""".stripMargin
    assert(cellsOf(zip("xl/worksheets/sheet1.xml" -> badIs)).isEmpty)
    // 20k spec-legal cells (every cell attributed, so the old bare-"<c>"
    // rescan would touch ~the whole document per cell): linear now
    val big = new StringBuilder("<worksheet><sheetData>")
    for (r <- 1 to 500) {
      big.append(s"""<row r="$r">""")
      for (c <- 0 until 40)
        big.append(s"""<c r="${('A' + c % 26).toChar}$r"><v>${r * 40 + c}</v></c>""")
      big.append("</row>")
    }
    big.append("</sheetData></worksheet>")
    val t0 = System.nanoTime()
    val got = cellsOf(zip("xl/worksheets/sheet1.xml" -> big.toString)).get
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.size === 500 * 40)
    assert(sec < 10.0, f"large-sheet extraction took $sec%.1f s — rescan regression?")
  }

  test("multi-sheet workbooks (r15): sheet N by 1-based part number; an " +
    "absent sheet is NULL, never a guessed empty array") {
    val s1 = """<worksheet><sheetData><row r="1">
      |<c r="A1" t="inlineStr"><is><t>first</t></is></c>
      |</row></sheetData></worksheet>""".stripMargin
    val s2 = s1.replace("first", "second")
    val wb = zip("xl/worksheets/sheet1.xml" -> s1,
      "xl/worksheets/sheet2.xml" -> s2)
    def at(sheet: Int) = Option(XlsxKernels.cells(wb, sheet)).map { a =>
      (0 until a.numElements()).map(i =>
        a.getStruct(i, 3).getUTF8String(2).toString)
    }
    assert(at(1).get === Seq("first"))
    assert(at(2).get === Seq("second"))
    assert(at(3).isEmpty)  // absent part: NULL
    assert(at(0).isEmpty)  // nonsense index: NULL
    import spark.implicits._
    val viaSql = spark.sql("SELECT inline(xlsx_cells(unhex('" +
      wb.map("%02x".format(_)).mkString + "'), 2))")
      .as[(Int, Int, String)].collect().toSeq
    assert(viaSql === Seq((0, 0, "second")))
  }

  test("DataFrame + SQL surface") {
    val sheet = """<worksheet><sheetData>
      |<row r="2"><c r="B2" t="inlineStr"><is><t>df cell</t></is></c></row>
      |</sheetData></worksheet>""".stripMargin
    val xlsx = zip("xl/worksheets/sheet1.xml" -> sheet)
    val rows = Seq((1, xlsx)).toDF("id", "b")
      .select(col("id"), explode(Kernels.xlsxCells(col("b"))).as("c"))
      .select(col("c.row"), col("c.col"), col("c.value"))
      .as[(Int, Int, String)].collect().toSeq
    assert(rows === Seq((1, 1, "df cell")))
    val viaSql = spark.sql("SELECT inline(xlsx_cells(unhex('" +
      xlsx.map("%02x".format(_)).mkString + "')))")
      .as[(Int, Int, String)].collect().toSeq
    assert(viaSql === Seq((1, 1, "df cell")))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** XLSX cell extraction (round 15) — spreadsheets are the next most
  * common document container in crawled corpora after docx; this is
  * the docx chain's pattern (ZIP central directory → member XML →
  * text) with the OOXML SpreadsheetML cell model on top
  * (ECMA-376 part 1, §18.3): `xl/worksheets/sheet1.xml` carries
  * `<c r="B2" t="...">` cells, string-typed cells index into
  * `xl/sharedStrings.xml`'s `<si>` list.
  *
  * Output: flat (row, col, value) cells — row/col 0-based from the
  * A1-style `r` attribute (ref-addressed, NOT positional: sparse rows
  * keep their true columns). Cell types:
  *  - `t="s"`: shared string — `<v>` is an index into sharedStrings;
  *    an index past the table is structural damage → whole blob NULL;
  *  - `t="inlineStr"`: the `<is><t>…</t></is>` runs, concatenated;
  *  - `t="str"` (formula result), `t="b"`, `t="e"`, and untyped
  *    numeric cells: the raw `<v>` text;
  *  - a `<c>` with neither value nor inline string is an EMPTY cell
  *    and emits nothing.
  * `<si>` entries concatenate every `<t>` run (rich-text `<r>` runs
  * included); XML entities decode in both layers. `<t>` content never
  * contains markup per schema, so the scan is linear and allocation-
  * light.
  *
  * Fail-closed: truncated/undecodable archive, missing sheet1, a cell
  * without an `r` ref, a malformed ref, an out-of-range shared-string
  * index, or a string cell with no sharedStrings member → NULL (the
  * whole-blob contract every container kernel here follows). A sheet
  * with zero cells is an empty array — a fact, not a failure.
  */
object XlsxKernels {

  import Decode.Refused

  import org.apache.spark.sql.types._
  val cellSchema: StructType = StructType(Seq(
    StructField("row", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private val MaxCells = 1 << 22 // 4M cells per sheet: bomb guard

  private def decodeEntities(t: String): String = XmlEntities.decode(t)

  /** All `<t ...>text</t>` contents inside s[from, to), concatenated
    * and entity-decoded; null on a malformed t element. */
  private def tRuns(s: String, from: Int, to: Int): String = {
    val sb = new StringBuilder()
    var i = from
    while (i < to) {
      val open = s.indexOf("<t", i)
      if (open < 0 || open >= to) return decodeEntities(sb.toString)
      val afterName = open + 2
      // must be exactly `t` (not <tableParts...): next char ends the name
      if (afterName < to &&
          (s.charAt(afterName) == '>' || s.charAt(afterName) == ' ' ||
           s.charAt(afterName) == '/')) {
        val gt = s.indexOf('>', afterName)
        if (gt < 0 || gt >= to) return null
        if (s.charAt(gt - 1) == '/') { i = gt + 1 } // <t/>: empty run
        else {
          val close = s.indexOf("</t>", gt + 1)
          if (close < 0 || close > to) return null
          // underlying java builder: scala's append(Any) would tuple-ize
          sb.underlying.append(s, gt + 1, close)
          i = close + 4
        }
      } else i = afterName
    }
    decodeEntities(sb.toString)
  }

  /** sharedStrings.xml → the si-indexed string table; null if damaged. */
  private def parseShared(xml: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (true) {
      val open = xml.indexOf("<si>", i)
      if (open < 0) return out.toArray
      val close = xml.indexOf("</si>", open + 4)
      if (close < 0) return null
      val t = tRuns(xml, open + 4, close)
      if (t == null) return null
      out += t
      i = close + 5
    }
    null // unreachable
  }

  /** "B7" → (rowIdx0, colIdx0); null on malformed refs. */
  private def parseRef(ref: String): (Int, Int) = {
    var i = 0
    var col = 0L
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z') {
      col = col * 26 + (ref.charAt(i) - 'A' + 1)
      if (col > Int.MaxValue) return null
      i += 1
    }
    if (i == 0 || i >= ref.length) return null
    var row = 0L
    while (i < ref.length) {
      val c = ref.charAt(i)
      if (c < '0' || c > '9') return null
      row = row * 10 + (c - '0')
      if (row > Int.MaxValue) return null
      i += 1
    }
    if (row == 0) return null
    ((row - 1).toInt, (col - 1).toInt)
  }

  private def attr(tag: String, name: String): String = {
    val k = name + "=\""
    val at = tag.indexOf(k)
    if (at < 0) return null
    val end = tag.indexOf('"', at + k.length)
    if (end < 0) return null
    tag.substring(at + k.length, end)
  }

  /** The whole-workbook entry point: blob → flat cells of sheet 1. */
  def cells(b: Array[Byte]): ArrayData = cells(b, 1)

  /** Cells of the `sheet`-th worksheet (1-based, the OOXML part
    * numbering `xl/worksheets/sheetN.xml`); NULL when the workbook is
    * damaged OR the sheet does not exist — an absent part is
    * indistinguishable from a truncated archive at this layer, and
    * guessing an empty sheet would hide real damage. */
  def cells(b: Array[Byte], sheet: Int): ArrayData = {
    if (b == null || sheet < 1 || sheet > 100000) return null
    try {
      val sheetRaw = ZipKernels.extract(b,
        UTF8String.fromString(s"xl/worksheets/sheet$sheet.xml"))
      if (sheetRaw == null) return null
      val sharedRaw = ZipKernels.extract(b,
        UTF8String.fromString("xl/sharedStrings.xml"))
      val shared: Array[String] =
        if (sharedRaw == null) null
        else parseShared(new String(sharedRaw, java.nio.charset.StandardCharsets.UTF_8))
      if (sharedRaw != null && shared == null) return null // damaged table
      sheetCells(new String(sheetRaw, java.nio.charset.StandardCharsets.UTF_8),
        shared)
    } catch { case Refused() => null }
  }

  private def isXmlWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n'

  private def sheetCells(xml: String, shared: Array[String]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (true) {
      // ONE forward scan for "<c" with a name-boundary check — a second
      // indexOf for a bare "<c>" (which real cells never are) rescanned
      // the remaining document per cell, O(cells × size) on spec-legal
      // sheets (r15 review); XML-legal whitespace after the name
      // (<c\n r=...>) is a cell too, not something to silently skip.
      var open = -1
      var probe = i
      while (open < 0) {
        val at = xml.indexOf("<c", probe)
        if (at < 0) return new GenericArrayData(out.toArray)
        val after = if (at + 2 < xml.length) xml.charAt(at + 2) else '\u0000'
        if (after == '>' || after == '/' || isXmlWs(after)) open = at
        else probe = at + 2
      }
      val gt = xml.indexOf('>', open)
      if (gt < 0) return null
      val tag = xml.substring(open, gt + 1)
      val selfClosed = xml.charAt(gt - 1) == '/'
      val ref = attr(tag, "r")
      if (ref == null) return null // ref-less cells: refuse, not guess
      val rc = parseRef(ref)
      if (rc == null) return null
      if (selfClosed) { i = gt + 1 } // empty cell: emits nothing
      else {
        val close = xml.indexOf("</c>", gt + 1)
        if (close < 0) return null
        val typ = attr(tag, "t") match { case null => "n"; case t => t }
        val value: String = typ match {
          case "inlineStr" =>
            // a malformed <is>/<t> block is structural damage — the
            // whole-blob NULL contract, never a silently dropped cell
            val t = tRuns(xml, gt + 1, close)
            if (t == null) return null
            t
          case _ =>
            val vOpen = xml.indexOf("<v>", gt + 1)
            if (vOpen < 0 || vOpen >= close) null // no value: empty cell
            else {
              val vClose = xml.indexOf("</v>", vOpen + 3)
              if (vClose < 0 || vClose > close) return null
              val raw = decodeEntities(xml.substring(vOpen + 3, vClose))
              if (typ == "s") {
                if (shared == null) return null
                val idx = try raw.trim.toInt catch { case _: Exception => return null }
                if (idx < 0 || idx >= shared.length) return null
                shared(idx)
              } else raw
            }
        }
        if (value != null)
          out += new GenericInternalRow(Array[Any](
            rc._1, rc._2, UTF8String.fromString(value)))
        if (out.size > MaxCells) return null
        i = close + 4
      }
    }
    null // unreachable
  }
}

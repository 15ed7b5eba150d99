package graft

import graft.functions.PdfKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

/** [[PdfKernels]] — PDF triage + text extraction. Fixtures are built
  * byte-by-byte with REAL cross-reference offsets (classic tables,
  * xref streams with and without PNG predictors, compressed object
  * streams), so the parser is exercised against the actual framing
  * crawled PDFs carry, not a hand-wave.
  */
class PdfSpec extends SparkSpec {
  import spark.implicits._

  private def b(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  private def zlib(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 12)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  /** Classic-xref PDF with one content stream per page; `filter` runs
    * each content stream through an encoder chain with the given
    * /Filter value (r15: LZW / ASCII85 / ASCIIHex and chains). */
  private def classicPdf(pageContents: Seq[String],
                         version: String = "1.4",
                         flate: Boolean = false,
                         xrefEol: String = " \n",
                         filter: Option[(String, Array[Byte] => Array[Byte])] = None)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L) // obj 0
    def emit(s: Array[Byte]): Unit = out.write(s)
    emit(b(s"%PDF-$version\n"))
    val n = pageContents.size
    // object numbering: 1 catalog, 2 pages, 3..3+n-1 page objs,
    // 3+n..3+2n-1 content streams
    offsets += out.size()
    emit(b("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"))
    offsets += out.size()
    val kids = (0 until n).map(i => s"${3 + i} 0 R").mkString(" ")
    emit(b(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $n >> endobj\n"))
    for (i <- 0 until n) {
      offsets += out.size()
      emit(b(s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R " +
        s"/Contents ${3 + n + i} 0 R >> endobj\n"))
    }
    for (i <- 0 until n) {
      offsets += out.size()
      val payload =
        if (flate) zlib(b(pageContents(i)))
        else filter.map(_._2(b(pageContents(i)))).getOrElse(b(pageContents(i)))
      val filterSpec =
        if (flate) "/Filter /FlateDecode "
        else filter.map(f => s"/Filter ${f._1} ").getOrElse("")
      emit(b(s"${3 + n + i} 0 obj << $filterSpec/Length ${payload.length} >> stream\n"))
      emit(payload)
      emit(b("\nendstream endobj\n"))
    }
    val xrefOff = out.size()
    emit(b(s"xref\n0 ${3 + 2 * n}\n"))
    emit(b(s"0000000000 65535 f$xrefEol"))
    for (i <- 1 until 3 + 2 * n)
      emit(b(f"${offsets(i)}%010d 00000 n$xrefEol"))
    emit(b(s"trailer << /Size ${3 + 2 * n} /Root 1 0 R >>\n" +
      s"startxref\n$xrefOff\n%%EOF"))
    out.toByteArray
  }

  /** xref-STREAM PDF; optionally stores catalog/pages/page dicts in a
    * compressed object stream (type-2 entries) and optionally runs the
    * xref rows through the PNG up predictor. */
  private def xrefStreamPdf(content: String, objStm: Boolean,
                            predictor: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def emit(s: Array[Byte]): Unit = out.write(s)
    emit(b("%PDF-1.5\n"))
    val offsets = scala.collection.mutable.HashMap.empty[Int, Long]
    // obj 4: the content stream (always top-level)
    val payload = zlib(b(content))
    // objects 1..3 either top-level or inside ObjStm obj 5
    val catalog = "<< /Type /Catalog /Pages 2 0 R >>"
    val pages = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    val page = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    if (!objStm) {
      offsets(1) = out.size(); emit(b(s"1 0 obj $catalog endobj\n"))
      offsets(2) = out.size(); emit(b(s"2 0 obj $pages endobj\n"))
      offsets(3) = out.size(); emit(b(s"3 0 obj $page endobj\n"))
    } else {
      // ObjStm obj 5: header "1 off1 2 off2 3 off3" then the dicts
      val bodies = Seq(catalog, pages, page)
      val sb = new StringBuilder
      val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
      bodies.foreach { body => offs += sb.length; sb.append(body).append(' ') }
      val header = (1 to 3).zip(offs).map { case (num, o) => s"$num $o" }
        .mkString(" ") + " "
      val stm = zlib(b(header + sb.toString))
      offsets(5) = out.size()
      emit(b(s"5 0 obj << /Type /ObjStm /N 3 /First ${header.length} " +
        s"/Filter /FlateDecode /Length ${stm.length} >> stream\n"))
      emit(stm)
      emit(b("\nendstream endobj\n"))
    }
    offsets(4) = out.size()
    emit(b(s"4 0 obj << /Filter /FlateDecode /Length ${payload.length} >> stream\n"))
    emit(payload)
    emit(b("\nendstream endobj\n"))
    // obj 6: the xref stream. W = [1 4 2]; entries for objects 0..6.
    val xrefOff = out.size()
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = {
      val r = new Array[Byte](7)
      r(0) = t.toByte
      r(1) = ((f2 >> 24) & 0xff).toByte; r(2) = ((f2 >> 16) & 0xff).toByte
      r(3) = ((f2 >> 8) & 0xff).toByte; r(4) = (f2 & 0xff).toByte
      r(5) = ((f3 >> 8) & 0xff).toByte; r(6) = (f3 & 0xff).toByte
      r
    }
    val rows: Seq[Array[Byte]] =
      if (!objStm) Seq(
        row(0, 0, 0xffff),
        row(1, offsets(1), 0), row(1, offsets(2), 0), row(1, offsets(3), 0),
        row(1, offsets(4), 0), row(0, 0, 0), row(1, xrefOff, 0))
      else Seq(
        row(0, 0, 0xffff),
        row(2, 5, 0), row(2, 5, 1), row(2, 5, 2), // in ObjStm 5 at idx 0..2
        row(1, offsets(4), 0), row(1, offsets(5), 0), row(1, xrefOff, 0))
    val rawRows: Array[Byte] =
      if (!predictor) rows.flatten.toArray
      else {
        // PNG Up (filter type 2) per row, filter byte prefixed
        val filtered = new java.io.ByteArrayOutputStream()
        var prev = new Array[Byte](7)
        rows.foreach { r =>
          filtered.write(2)
          for (i <- 0 until 7)
            filtered.write((r(i) - prev(i)) & 0xff)
          prev = r
        }
        filtered.toByteArray
      }
    val xstm = zlib(rawRows)
    val parms = if (predictor) "/DecodeParms << /Predictor 12 /Columns 7 >> " else ""
    emit(b(s"6 0 obj << /Type /XRef /Size 7 /W [1 4 2] $parms" +
      s"/Root 1 0 R /Filter /FlateDecode /Length ${xstm.length} >> stream\n"))
    emit(xstm)
    emit(b("\nendstream endobj\n"))
    emit(b(s"startxref\n$xrefOff\n%%EOF"))
    out.toByteArray
  }

  private def metaOf(pdf: Array[Byte]): Option[(String, Int, Boolean)] =
    Option(PdfKernels.meta(pdf)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getBoolean(2)))

  private def textOf(pdf: Array[Byte]): String =
    Option(PdfKernels.text(pdf)).map(_.toString).orNull

  test("classic xref: meta + single-page Tj extraction") {
    val pdf = classicPdf(Seq("BT /F1 12 Tf 72 720 Td (Hello classic) Tj ET"))
    assert(metaOf(pdf).contains(("1.4", 1, false)))
    assert(textOf(pdf) == "\nHello classic")
  }

  test("classic xref: 19-byte single-char-EOL rows (LF and CR writers) — " +
    "the last row of a subsection must not eat `trailer` (ADVICE r14)") {
    for (eol <- Seq("\n", "\r")) {
      val pdf = classicPdf(
        Seq("BT (short rows) Tj ET", "BT (page two) Tj ET"), xrefEol = eol)
      assert(metaOf(pdf).contains(("1.4", 2, false)), s"eol=${eol.map(_.toInt)}")
      assert(textOf(pdf) == "short rows\npage two", s"eol=${eol.map(_.toInt)}")
    }
    // spec 20-byte CR LF variant still parses
    val crlf = classicPdf(Seq("BT (crlf rows) Tj ET"), xrefEol = "\r\n")
    assert(textOf(crlf) == "crlf rows")
  }

  test("multi-page + TJ arrays + escapes + octal + hex strings + quote ops") {
    val p1 = "BT (line one) Tj T* (line two) Tj ET"
    val p2 = "BT [(kerned )-120(pa)5(irs)] TJ ET"
    val p3 = "BT (esc \\(parens\\) \\\\slash \\101) Tj <48495F21> Tj ET"
    val p4 = "BT (x) Tj (quoted) ' ET"
    val pdf = classicPdf(Seq(p1, p2, p3, p4))
    assert(metaOf(pdf).contains(("1.4", 4, false)))
    assert(textOf(pdf) ==
      "line one\nline two" +
        "\nkerned pairs" +
        "\nesc (parens) \\slash AHI_!" +
        "\nx\nquoted")
  }

  test("FlateDecode content streams extract identically") {
    val pdf = classicPdf(Seq("BT (flate page ok) Tj ET"), flate = true)
    assert(textOf(pdf) == "flate page ok")
  }

  test("LZWDecode (r15): the ISO 32000 §7.4.4 worked example decodes " +
    "bit-exactly; encoder/decoder roundtrip crosses the 9→10→11 width " +
    "bumps; EarlyChange=0 honored; malformed streams fail closed") {
    import graft.functions.{PdfKernels, PdfStreamEncoders}
    // spec example: codes 256,45,258,258,65,259,66,257 at width 9
    // decode to "-----A---B" (45×5, 65, 45×3, 66)
    val codes = Seq(256, 45, 258, 258, 65, 259, 66, 257)
    var acc = 0L; var nb = 0
    val bs = new java.io.ByteArrayOutputStream()
    codes.foreach { c =>
      acc = (acc << 9) | c; nb += 9
      while (nb >= 8) { bs.write(((acc >>> (nb - 8)) & 0xff).toInt); nb -= 8 }
    }
    if (nb > 0) bs.write(((acc << (8 - nb)) & 0xff).toInt)
    assert(PdfKernels.lzwDecode(bs.toByteArray, 1).toSeq ==
      "-----A---B".getBytes("US-ASCII").toSeq)
    // roundtrip across width bumps: >1500 additions crosses 9→10→11
    val rnd = new scala.util.Random(0x12f5)
    for (early <- Seq(1, 0); len <- Seq(10, 300, 2600)) {
      val data = Array.fill(len)(rnd.nextInt(256).toByte)
      val enc = PdfStreamEncoders.lzw(data, early)
      assert(PdfKernels.lzwDecode(enc, early).toSeq == data.toSeq,
        s"early=$early len=$len")
    }
    // repetitive data exercises real dictionary chains + KwKwK
    val rep = ("abcabcabcab" * 400).getBytes("US-ASCII")
    assert(PdfKernels.lzwDecode(PdfStreamEncoders.lzw(rep), 1).toSeq == rep.toSeq)
    // fail-closed: truncation (no EOD) and first-code-not-literal
    intercept[Exception] {
      PdfKernels.lzwDecode(PdfStreamEncoders.lzw(rep).dropRight(3), 1) }
    // end-to-end: an LZWDecode content stream page
    val pdf = classicPdf(Seq("BT (lzw page ok) Tj ET"),
      filter = Some(("/LZWDecode", d => PdfStreamEncoders.lzw(d))))
    assert(metaOf(pdf).contains(("1.4", 1, false)))
    assert(textOf(pdf) == "lzw page ok")
  }

  test("ASCII85 / ASCIIHex (r15): z-shorthand, partial groups, " +
    "whitespace, odd-digit padding; an ASCII85+Flate CHAIN page " +
    "extracts; malformed streams fail closed") {
    import graft.functions.{KernelReferences, PdfKernels, PdfStreamEncoders}
    def a85(s: String): Array[Byte] =
      PdfKernels.ascii85Decode(s.getBytes("US-ASCII"))
    // z = four zeros; partial final group; whitespace transparent
    assert(a85("z~>").toSeq == Seq[Byte](0, 0, 0, 0))
    assert(a85("<~ 87 cUR\n~>").toSeq == "Hell".getBytes("US-ASCII").toSeq)
    val rnd = new scala.util.Random(0x85)
    for (len <- Seq(0, 1, 2, 3, 4, 5, 63)) {
      val d = Array.fill(len)(rnd.nextInt(256).toByte)
      assert(PdfKernels.ascii85Decode(PdfStreamEncoders.ascii85(d)).toSeq
        == d.toSeq, s"len=$len")
      assert(PdfKernels.asciiHexDecode(KernelReferences.asciiHex(d)).toSeq
        == d.toSeq, s"len=$len")
    }
    // odd trailing hex digit pads with 0; '>' required
    assert(PdfKernels.asciiHexDecode("4 16\n77>".getBytes).toSeq ==
      Seq[Byte](0x41, 0x67, 0x70))
    intercept[Exception] { PdfKernels.asciiHexDecode("41".getBytes) }
    intercept[Exception] { a85("abc") }        // no ~> terminator
    intercept[Exception] { a85("v~>") }        // 'v' out of range
    intercept[Exception] { a85("!~>") }        // 1-char group malformed
    // chain: A85 wraps Flate — /Filter [/ASCII85Decode /FlateDecode]
    val pdf = classicPdf(Seq("BT (a85 flate chain) Tj ET"),
      filter = Some(("[/ASCII85Decode /FlateDecode]",
        d => PdfStreamEncoders.ascii85(zlib(d)))))
    assert(textOf(pdf) == "a85 flate chain")
    // and LZW behind ASCIIHex
    val pdf2 = classicPdf(Seq("BT (hex lzw chain) Tj ET"),
      filter = Some(("[/ASCIIHexDecode /LZWDecode]",
        d => KernelReferences.asciiHex(PdfStreamEncoders.lzw(d)))))
    assert(textOf(pdf2) == "hex lzw chain")
    // RunLengthDecode: literal runs + repeats + the 128 EOD
    def rle(d: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < d.length) { // naive: 1-literal packets
        val n = math.min(128, d.length - i)
        out.write(n - 1); out.write(d, i, n); i += n
      }
      out.write(128)
      out.toByteArray
    }
    assert(PdfKernels.runLengthDecode(
      Array[Byte](2, 'a', 'b', 'c', (257 - 250 - 1).toByte)
        .take(4) ++ Array[Byte](250.toByte, 'x', 128.toByte)).toSeq ==
      ("abc" + "x" * 7).getBytes("US-ASCII").toSeq)
    intercept[Exception] { PdfKernels.runLengthDecode(Array[Byte](2, 'a')) }
    intercept[Exception] { PdfKernels.runLengthDecode(Array[Byte](0, 'a')) } // no EOD
    val pdf3 = classicPdf(Seq("BT (rle page) Tj ET"),
      filter = Some(("/RunLengthDecode", rle)))
    assert(textOf(pdf3) == "rle page")
  }

  test("xref stream (W fields), with and without the PNG Up predictor") {
    for (pred <- Seq(false, true)) {
      val pdf = xrefStreamPdf("BT (xref stream text) Tj ET",
        objStm = false, predictor = pred)
      assert(metaOf(pdf).contains(("1.5", 1, false)), s"pred=$pred")
      assert(textOf(pdf) == "xref stream text", s"pred=$pred")
    }
  }

  test("compressed object streams (type-2 entries) resolve the page tree") {
    val pdf = xrefStreamPdf("BT (objstm text) Tj ET",
      objStm = true, predictor = true)
    assert(metaOf(pdf).contains(("1.5", 1, false)))
    assert(textOf(pdf) == "objstm text")
  }

  test("incremental update (/Prev chain): the newest xref wins, older " +
    "sections fill the gaps") {
    // the classic save-in-place layout: original document, then an
    // APPENDED update that replaces the content stream (object 4) and
    // adds an xref section whose trailer /Prev points at the original
    val orig = classicPdf(Seq("BT (original text) Tj ET"))
    val origXrefOff = {
      val s = new String(orig, "ISO-8859-1")
      s.substring(s.lastIndexOf("startxref") + 10).trim.takeWhile(_.isDigit)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(orig)
    out.write('\n')
    val newContent = "BT (updated text) Tj ET"
    val obj4Off = out.size()
    out.write(b(s"4 0 obj << /Length ${newContent.length} >> stream\n" +
      s"$newContent\nendstream endobj\n"))
    val xrefOff = out.size()
    out.write(b("xref\n4 1\n" + f"$obj4Off%010d" + " 00000 n \n"))
    out.write(b(s"trailer << /Size 5 /Root 1 0 R /Prev $origXrefOff >>\n" +
      s"startxref\n$xrefOff\n%%EOF"))
    val updated = out.toByteArray
    assert(metaOf(updated).contains(("1.4", 1, false)))
    assert(textOf(updated) == "updated text") // newest section wins
    assert(textOf(orig) == "original text")   // the original still reads
  }

  test("ToUnicode CMaps (r16): Type0 glyph codes translate through " +
    "bfchar/bfrange; Tf switches per font; no-ToUnicode keeps the " +
    "Latin-1 passthrough; unmapped codes surface as U+FFFD") {
    def type0Pdf(cmap: String, content: String,
                 fontHasMap: Boolean = true): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
      def emit(s: String): Unit = out.write(b(s))
      emit("%PDF-1.7\n")
      offsets += out.size()
      emit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
      offsets += out.size()
      emit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
      offsets += out.size()
      emit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F9 5 0 R >> >> >> endobj\n")
      offsets += out.size()
      emit(s"4 0 obj << /Length ${content.length} >> stream\n" +
        content + "\nendstream endobj\n")
      offsets += out.size()
      val tu = if (fontHasMap) "/ToUnicode 6 0 R " else ""
      emit("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /T " +
        tu + ">> endobj\n")
      offsets += out.size()
      emit(s"6 0 obj << /Length ${cmap.length} >> stream\n" +
        cmap + "\nendstream endobj\n")
      val xrefOff = out.size()
      emit("xref\n0 7\n0000000000 65535 f \n")
      (1 to 6).foreach(i => emit(f"${offsets(i)}%010d 00000 n \n"))
      emit(s"trailer << /Size 7 /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF")
      out.toByteArray
    }
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <0055>
        |<0002> <006E>
        |endbfchar
        |2 beginbfrange
        |<0010> <0013> <0069>
        |<0020> <0021> [<00E9> <2713>]
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin
    // 2-byte glyph codes: bfchar "Un", bfrange run "ijkl", array "é✓";
    // then Tf to an unmapped font name -> literal passthrough
    val pdf = type0Pdf(cmap,
      "BT /F9 12 Tf <00010002001000110012001300200021> Tj T* " +
        "/F1 12 Tf (latin passthrough) Tj ET")
    assert(textOf(pdf) == "Unijklé✓\nlatin passthrough")
    // CMaps apply to LITERAL strings of the mapped font too (code
    // bytes are code bytes regardless of string syntax) -- PDF octal
    // escapes carry the 2-byte codes 0x0001 0x0002
    assert(textOf(type0Pdf(cmap,
      "BT /F9 1 Tf (\\000\\001\\000\\002) Tj ET")) == "Un")
    // an unmapped code inside a mapped font is VISIBLE, not dropped
    assert(textOf(type0Pdf(cmap, "BT /F9 1 Tf <00010099> Tj ET")) == "U�")
    // 1-byte codespace form (simple font with ToUnicode)
    val cmap1 =
      """begincmap
        |1 begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |1 beginbfchar
        |<41> <0042>
        |endbfchar
        |endcmap""".stripMargin
    assert(textOf(type0Pdf(cmap1, "BT /F9 1 Tf (A) Tj ET")) == "B")
    // no ToUnicode at all: documented Latin-1 passthrough
    assert(textOf(type0Pdf(cmap, "BT /F9 1 Tf (plain) Tj ET",
      fontHasMap = false)) == "plain")
    // garbage CMap stream: falls back to passthrough, never throws
    assert(textOf(type0Pdf("not a cmap at all ((", "BT /F9 1 Tf (ok) Tj ET"))
      == "ok")
    // TJ arrays route through the same per-font map
    assert(textOf(type0Pdf(cmap, "BT /F9 1 Tf [<0001> -20 <0002>] TJ ET"))
      == "Un")
    // codespace MISS skip width (ADVICE r16, §9.7.6.3): with a partial
    // initial-byte match the full range width is consumed (here 2
    // bytes: 0x25 is inside [0x20,0x2F] but 0x60 is past 0x50), so one
    // bad code gives ONE U+FFFD and the next code stays in sync
    val cmapNarrow =
      """begincmap
        |1 begincodespacerange
        |<2000> <2F50>
        |endcodespacerange
        |2 beginbfchar
        |<2001> <0041>
        |<2002> <0042>
        |endbfchar
        |endcmap""".stripMargin
    assert(textOf(type0Pdf(cmapNarrow, "BT /F9 1 Tf <200125602002> Tj ET"))
      == "A�B")
    // no partial match at all (first byte outside every range): 1-byte
    // skip is the documented fallback — the trailing in-range code
    // still decodes after an ODD number of junk bytes
    assert(textOf(type0Pdf(cmapNarrow, "BT /F9 1 Tf <4040402001> Tj ET"))
      == "���A")
  }

  /** An encrypted single-page PDF (standard security handler): /O is
    * derived from a REAL owner password via Algorithm 3, /U from the
    * empty user password via Algorithms 4/5, and the content stream is
    * encrypted per Algorithm 1 — a faithful owner-password-only
    * document of the kind the r16 verdict flagged as the encrypted
    * majority. */
  private def encryptedPdf(content: String, v: Int, r: Int, keyLen: Int,
                           aes: Boolean, flate: Boolean = false,
                           flipU: Boolean = false,
                           ownerPwd: String = "s3cret-owner"): Array[Byte] = {
    import graft.functions.PdfKernels
    def md5(parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(md.update)
      md.digest()
    }
    def pad32(pw: String): Array[Byte] =
      (pw.getBytes("ISO-8859-1") ++ PdfKernels.PdfPad).take(32)
    val id0 = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    // Algorithm 3: the /O entry from the owner password
    var h = md5(pad32(ownerPwd))
    if (r >= 3) (0 until 50).foreach(_ =>
      h = md5(java.util.Arrays.copyOf(h, keyLen)))
    val oKey = java.util.Arrays.copyOf(h, keyLen)
    var oEntry = PdfKernels.rc4(oKey, pad32(""))
    if (r >= 3) (1 to 19).foreach { i =>
      oEntry = PdfKernels.rc4(oKey.map(x => (x ^ i).toByte), oEntry)
    }
    val p = -3904
    val key = PdfKernels.fileKey(oEntry, p, id0, r, keyLen,
      encryptMetadata = true)
    val u16 = PdfKernels.expectedU(key, id0, r)
    val uEntry =
      (if (r == 2) u16 else u16.take(16) ++ new Array[Byte](16)).clone()
    if (flipU) uEntry(3) = (uEntry(3) ^ 0x40).toByte
    val encf = PdfKernels.fixtureEncryptor(key, aes)
    def hx(a: Array[Byte]): String = a.map("%02x".format(_)).mkString
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
    def emit(s: String): Unit = out.write(b(s))
    emit("%PDF-1.6\n")
    offsets += out.size()
    emit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size()
    emit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    offsets += out.size()
    emit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    offsets += out.size()
    val plain = if (flate) zlib(b(content)) else b(content)
    val payload = encf(4, 0, plain)
    val fspec = if (flate) "/Filter /FlateDecode " else ""
    emit(s"4 0 obj << $fspec/Length ${payload.length} >> stream\n")
    out.write(payload)
    emit("\nendstream endobj\n")
    offsets += out.size()
    val cf = if (v == 4)
      "/CF << /StdCF << /CFM " + (if (aes) "/AESV2" else "/V2") +
        " /AuthEvent /DocOpen /Length " + keyLen + " >> >> " +
        "/StmF /StdCF /StrF /StdCF "
    else ""
    emit(s"5 0 obj << /Filter /Standard /V $v /R $r " +
      s"/Length ${keyLen * 8} $cf/O <${hx(oEntry)}> /U <${hx(uEntry)}> " +
      s"/P $p >> endobj\n")
    val xrefOff = out.size()
    emit("xref\n0 6\n0000000000 65535 f \n")
    (1 to 5).foreach(i => emit(f"${offsets(i)}%010d 00000 n \n"))
    emit(s"trailer << /Size 6 /Root 1 0 R /Encrypt 5 0 R " +
      s"/ID [<${hx(id0)}> <${hx(id0)}>] >>\nstartxref\n$xrefOff\n%%EOF")
    out.toByteArray
  }

  test("encrypted PDFs with an empty user password decrypt (r17): " +
    "RC4-40, RC4-128, AES-128, with and without Flate; meta still " +
    "reports encrypted=true; a real user password stays NULL") {
    val variants = Seq(
      ("rc4-40 V1 R2", encryptedPdf("BT (rc4 forty) Tj ET", 1, 2, 5,
        aes = false), "rc4 forty"),
      ("rc4-128 V2 R3", encryptedPdf("BT (rc4 onetwentyeight) Tj ET", 2, 3,
        16, aes = false), "rc4 onetwentyeight"),
      ("rc4-128 V4 R4 CFM V2", encryptedPdf("BT (cf v2) Tj ET", 4, 4, 16,
        aes = false), "cf v2"),
      ("aes-128 V4 R4", encryptedPdf("BT (aes page) Tj ET", 4, 4, 16,
        aes = true), "aes page"),
      ("aes-128 + flate", encryptedPdf("BT (aes flate body) Tj ET", 4, 4,
        16, aes = true, flate = true), "aes flate body"),
      ("rc4-40 + flate", encryptedPdf("BT (forty flate) Tj ET", 1, 2, 5,
        aes = false, flate = true), "forty flate"))
    for ((label, pdf, want) <- variants) {
      assert(metaOf(pdf).exists(m => m._2 == 1 && m._3), s"$label meta")
      assert(textOf(pdf) == want, s"$label text")
    }
    // a document whose USER password is not empty: /U validation fails
    assert(textOf(encryptedPdf("BT (locked) Tj ET", 2, 3, 16, aes = false,
      flipU = true)) == null)
    // V5 / AES-256: declared out of scope, refused
    val v5 = new String(encryptedPdf("BT (x) Tj ET", 4, 4, 16, aes = true),
      "ISO-8859-1").replace("/V 4 /R 4", "/V 5 /R 6")
    assert(textOf(b(v5)) == null)
    // truncated AES payload (not a whole number of blocks): refused
    val aesPdf = encryptedPdf("BT (aes page) Tj ET", 4, 4, 16, aes = true)
    val cutAt = new String(aesPdf, "ISO-8859-1").indexOf("stream\n") + 20
    val mut = aesPdf.clone()
    mut(cutAt) = (mut(cutAt) ^ 0x11).toByte // corrupt ciphertext
    assert(textOf(mut) != "aes page") // never silently-wrong text
  }

  /** Classic-xref PDF with arbitrary extra stream objects (numbered
    * from 5): the image-extraction fixtures. */
  private def pdfWithStreams(extra: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
    def emit(s: Array[Byte]): Unit = out.write(s)
    emit(b("%PDF-1.5\n"))
    offsets += out.size()
    emit(b("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"))
    offsets += out.size()
    emit(b("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"))
    offsets += out.size()
    emit(b("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"))
    offsets += out.size()
    val content = "BT (img host) Tj ET"
    emit(b(s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n"))
    extra.zipWithIndex.foreach { case ((dict, payload), i) =>
      offsets += out.size()
      emit(b(s"${5 + i} 0 obj << $dict /Length ${payload.length} >> stream\n"))
      emit(payload)
      emit(b("\nendstream endobj\n"))
    }
    val total = 5 + extra.size
    val xrefOff = out.size()
    emit(b(s"xref\n0 $total\n0000000000 65535 f \n"))
    (1 until total).foreach(i => emit(b(f"${offsets(i)}%010d 00000 n \n")))
    emit(b(s"trailer << /Size $total /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF"))
    out.toByteArray
  }

  private def imagesOf(pdf: Array[Byte]): Seq[(Int, String, Option[Int], Option[Int], Option[Array[Byte]])] = {
    val a = graft.functions.PdfKernels.images(pdf)
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 5)
      (r.getInt(0), r.getUTF8String(1).toString,
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getBinary(4)))
    }
  }

  test("pdf_images (r17): DCT payloads come back verbatim as jpeg, " +
    "Flate RGB/gray decode to P6/P5, 1-bit gray expands with row " +
    "padding, unsupported spaces are surfaced, damage fails closed") {
    val jpeg = graft.functions.ImageEncoders.jpegGrayBlocks(
      Array.tabulate(8, 8)((r, c) => (r * 8 + c) * 3 % 256))
    val rgb = Array.tabulate[Byte](4 * 4 * 3)(i => ((i * 37) % 256).toByte)
    val gray = Array.tabulate[Byte](6 * 2)(i => ((i * 41) % 256).toByte)
    // 1-bit 10x3: rows are byte-aligned (2 bytes per row)
    val bits = Array[Byte](0xAA.toByte, 0x80.toByte, 0x55, 0x40,
      0xFF.toByte, 0xC0.toByte)
    val pdf = pdfWithStreams(Seq(
      ("/Subtype /Image /Width 8 /Height 8 /ColorSpace /DeviceGray " +
        "/BitsPerComponent 8 /Filter /DCTDecode", jpeg),
      ("/Subtype /Image /Width 4 /Height 4 /ColorSpace /DeviceRGB " +
        "/BitsPerComponent 8 /Filter /FlateDecode", zlib(rgb)),
      ("/Subtype /Image /Width 6 /Height 2 /ColorSpace /DeviceGray " +
        "/BitsPerComponent 8", gray),
      ("/Subtype /Image /Width 10 /Height 3 /ColorSpace /DeviceGray " +
        "/BitsPerComponent 1", bits),
      ("/Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8 " +
        "/ColorSpace [/Indexed /DeviceRGB 1 <000000FFFFFF>]",
        Array[Byte](0, 1, 1, 0))))
    val imgs = imagesOf(pdf)
    assert(imgs.map(x => (x._1, x._2)) == Seq(
      (5, "jpeg"), (6, "ppm"), (7, "pgm"), (8, "pgm"), (9, "unsupported")))
    // jpeg payload byte-identical and decodable by the JPEG tier
    assert(java.util.Arrays.equals(imgs(0)._5.get, jpeg))
    assert(graft.functions.PHashKernels.dhash64(imgs(0)._5.get) != null)
    // P6 framing + exact pixels
    assert(java.util.Arrays.equals(imgs(1)._5.get,
      "P6\n4 4\n255\n".getBytes("US-ASCII") ++ rgb))
    assert(java.util.Arrays.equals(imgs(2)._5.get,
      "P5\n6 2\n255\n".getBytes("US-ASCII") ++ gray))
    // 1-bit expansion: 0xAA80 -> alternating, padding bits dropped
    val exp = imgs(3)._5.get.drop("P5\n10 3\n255\n".length)
    assert(exp.length == 30)
    assert(exp.take(10).map(x => if (x == -1) 1 else 0).toSeq ==
      Seq(1, 0, 1, 0, 1, 0, 1, 0, 1, 0))
    assert(exp.slice(20, 30).forall(_ == -1.toByte)) // 0xFFC0 row
    assert(imgs(4)._4 == Some(2) && imgs(4)._5.isEmpty)
    // truncated document: whole-blob NULL
    assert(imagesOf(java.util.Arrays.copyOf(pdf, pdf.length / 2)) == null)
    // a PDF with no images: empty array
    assert(imagesOf(classicPdf(Seq("BT (no images) Tj ET"))).isEmpty)
  }

  test("pdf_images on ENCRYPTED documents: the image stream decrypts " +
    "with the same empty-user-password handler as text") {
    import graft.functions.PdfKernels
    // assemble an encrypted doc whose obj 6 is a Flate gray image
    def md5(parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(md.update); md.digest()
    }
    def pad32(pw: String): Array[Byte] =
      (pw.getBytes("ISO-8859-1") ++ PdfKernels.PdfPad).take(32)
    val keyLen = 16
    val id0 = Array.tabulate[Byte](16)(i => (i * 11 + 5).toByte)
    var h = md5(pad32("owner2"))
    (0 until 50).foreach(_ => h = md5(java.util.Arrays.copyOf(h, keyLen)))
    val oKey = java.util.Arrays.copyOf(h, keyLen)
    var oEntry = PdfKernels.rc4(oKey, pad32(""))
    (1 to 19).foreach(i =>
      oEntry = PdfKernels.rc4(oKey.map(x => (x ^ i).toByte), oEntry))
    val p = -3904
    val key = PdfKernels.fileKey(oEntry, p, id0, 3, keyLen, true)
    val u = PdfKernels.expectedU(key, id0, 3).take(16) ++ new Array[Byte](16)
    val encf = PdfKernels.fixtureEncryptor(key, aes = false)
    def hx(a: Array[Byte]): String = a.map("%02x".format(_)).mkString
    val gray = Array.tabulate[Byte](3 * 2)(i => ((i * 50) % 256).toByte)
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
    def emit(s: String): Unit = out.write(b(s))
    emit("%PDF-1.6\n")
    offsets += out.size()
    emit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size()
    emit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    offsets += out.size()
    emit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    offsets += out.size()
    val c4 = encf(4, 0, b("BT (enc img host) Tj ET"))
    emit(s"4 0 obj << /Length ${c4.length} >> stream\n")
    out.write(c4); emit("\nendstream endobj\n")
    offsets += out.size()
    val img = encf(6, 0, zlib(gray))
    emit(s"5 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 " +
      s"/O <${hx(oEntry)}> /U <${hx(u)}> /P $p >> endobj\n")
    offsets += out.size()
    emit(s"6 0 obj << /Subtype /Image /Width 3 /Height 2 " +
      s"/ColorSpace /DeviceGray /BitsPerComponent 8 " +
      s"/Filter /FlateDecode /Length ${img.length} >> stream\n")
    out.write(img); emit("\nendstream endobj\n")
    val xrefOff = out.size()
    emit("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(i => emit(f"${offsets(i)}%010d 00000 n \n"))
    emit(s"trailer << /Size 7 /Root 1 0 R /Encrypt 5 0 R " +
      s"/ID [<${hx(id0)}> <${hx(id0)}>] >>\nstartxref\n$xrefOff\n%%EOF")
    val pdf = out.toByteArray
    assert(textOf(pdf) == "enc img host")
    val imgs = imagesOf(pdf)
    assert(imgs.map(x => (x._1, x._2)) == Seq((6, "pgm")))
    assert(java.util.Arrays.equals(imgs(0)._5.get,
      "P5\n3 2\n255\n".getBytes("US-ASCII") ++ gray))
  }

  test("fail-closed: encryption, truncation, bad xref, unsupported filter") {
    val good = classicPdf(Seq("BT (x) Tj ET"))
    // encrypted: meta reports the flag, text refuses
    val enc = new String(good, "ISO-8859-1").replace(
      "trailer << /Size", "trailer << /Encrypt 9 0 R /Size")
    // (offsets unchanged: the trailer is parsed after the xref table)
    assert(metaOf(b(enc)).exists(_._3 == true))
    assert(textOf(b(enc)) == null)
    // truncations at every prefix: NULL or (full length) the real text
    for (cut <- Seq(5, 20, good.length / 2))
      assert(PdfKernels.meta(good.take(cut)) == null, s"cut=$cut")
    // startxref pointing nowhere
    val badOff = new String(good, "ISO-8859-1")
      .replaceAll("startxref\\n\\d+", "startxref\n999999999")
    assert(metaOf(b(badOff)).isEmpty)
    // unsupported filter fails closed
    val lzw = new String(classicPdf(Seq("BT (x) Tj ET"), flate = true), "ISO-8859-1")
      .replace("/Filter /FlateDecode", "/Filter /LZWDecode__")
    // (same length: name length preserved by the trailing underscores)
    assert(textOf(b(lzw)) == null)
    // not a PDF at all
    assert(PdfKernels.meta("%PNG nope".getBytes) == null)
    assert(PdfKernels.text(Array.emptyByteArray) == null)
  }

  test("fuzz: random bytes and random flips never throw") {
    val rnd = new scala.util.Random(0x9df1L)
    val good = classicPdf(Seq("BT (fuzz base) Tj ET"))
    for (_ <- 0 until 200) {
      val junk = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      PdfKernels.meta(junk); PdfKernels.text(junk)
      val flipped = good.clone()
      flipped(rnd.nextInt(flipped.length)) =
        (flipped(rnd.nextInt(flipped.length)) ^ rnd.nextInt(256)).toByte
      PdfKernels.meta(flipped); PdfKernels.text(flipped)
    }
  }

  test("DataFrame + SQL surface") {
    val pdf = classicPdf(Seq("BT (df text) Tj ET"))
    val row = Seq((1L, pdf)).toDF("id", "blob")
      .select(col("id"),
        Kernels.pdfMeta(col("blob")).as("m"),
        Kernels.pdfText(col("blob")).as("t"))
      .select(col("m.version"), col("m.n_pages"), col("t")).head()
    assert(row.getString(0) == "1.4" && row.getInt(1) == 1 &&
      row.getString(2) == "df text")
    val viaSql = spark.sql("SELECT pdf_meta(unhex('00')) IS NULL AS n")
      .as[Boolean].head()
    assert(viaSql)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Legacy `.xls` (BIFF8) cell extraction (round 17, VERDICT r16 #2) —
  * old crawls carry pre-2007 Excel files in bulk; the CFB walk
  * ([[CfbKernels]]) already reaches the `Workbook` stream, this kernel
  * decodes it. Same output contract as [[XlsxKernels]]: flat
  * (row, col, value) cells, 0-based, whole-blob NULL on anything the
  * fail-closed parser can't vouch for.
  *
  * Format per the public MS-XLS spec:
  *  - the record stream (2-byte type, 2-byte length LE; §2.1.4), with
  *    `Continue` (0x003C) extension records;
  *  - workbook globals substream: `BOF` (0x0809, version 0x0600 —
  *    BIFF5's 0x0500 is refused, its string encoding is codepage
  *    soup), `FilePass` (0x002F → encrypted, refused), `BoundSheet8`
  *    (0x0085, worksheet positions), `SST` (0x00FC, §2.4.265) whose
  *    `XLUnicodeRichExtendedString`s (§2.5.293) may split across
  *    `Continue` records ONLY on character boundaries, each
  *    continuation re-declaring the compression bit;
  *  - worksheet substreams: `LabelSst` 0x00FD, `Number` 0x0203,
  *    `RK` 0x027E (§2.5.276 30-bit int / truncated-double forms,
  *    ×1/100 flag), `MulRk` 0x00BD, `Label` 0x0204, `BoolErr` 0x0205,
  *    `Formula` 0x0006 with cached results (string results read the
  *    following `String` 0x0207 record), `Blank`/`MulBlank` emit
  *    nothing. Unknown record types are SKIPPED — that is the
  *    format's own framing design; every real file carries dozens of
  *    presentation records (XF, FONT, ROW, DIMENSION…) that cell
  *    extraction must step over.
  *
  * Values render as strings: SST/Label text verbatim; numbers with
  * integral doubles printed without a decimal point (|v| < 1e15) and
  * `Double.toString` otherwise; booleans as TRUE/FALSE; cached errors
  * as their sheet names (#DIV/0! …).
  */
object XlsKernels {

  import Decode.{Bad, Refused, leF64, leU16, leU32}

  private val MaxCells = 1 << 22
  private val MaxSstStrings = 1 << 22

  // record types
  private val RBof = 0x0809
  private val REof = 0x000A
  private val RContinue = 0x003C
  private val RFilePass = 0x002F
  private val RBoundSheet = 0x0085
  private val RSst = 0x00FC
  private val RLabelSst = 0x00FD
  private val RNumber = 0x0203
  private val RRk = 0x027E
  private val RMulRk = 0x00BD
  private val RLabel = 0x0204
  private val RRString = 0x00D6
  private val RBoolErr = 0x0205
  private val RFormula = 0x0006
  private val RString = 0x0207
  private val RArray = 0x0221
  private val RShrFmla = 0x04BC
  private val RTable = 0x0236

  /** Record-stream cursor: (type, payload) pairs with framing checks. */
  private final class Recs(s: Array[Byte]) {
    var pos = 0
    var tpe = -1
    var payload: Array[Byte] = null
    def hasNext: Boolean = pos + 4 <= s.length
    def next(): Unit = {
      if (!hasNext) throw Bad
      tpe = leU16(s, pos)
      val len = leU16(s, pos + 2)
      if (pos + 4 + len > s.length) throw Bad
      payload = java.util.Arrays.copyOfRange(s, pos + 4, pos + 4 + len)
      pos += 4 + len
    }
    /** Current record's payload plus any immediately-following
      * Continue payloads, as separate segments (string reads need the
      * boundaries — §2.5.293's re-declared compression bit). */
    def withContinues(): Array[Array[Byte]] = {
      val segs = scala.collection.mutable.ArrayBuffer(payload)
      while (hasNext && leU16(s, pos) == RContinue) {
        next()
        segs += payload
      }
      segs.toArray
    }
  }

  /** Reader over a record's Continue-extended payload segments.
    * Multi-byte header fields never legally split (writers must break
    * on character boundaries); reads here cross segment boundaries
    * byte-wise EXCEPT character data, which [[chars]] handles with the
    * per-segment compression re-declaration. */
  private final class SegReader(segs: Array[Array[Byte]]) {
    private var seg = 0
    private var off = 0
    private def cur: Array[Byte] = segs(seg)
    def u8(): Int = {
      while (off == cur.length) {
        if (seg == segs.length - 1) throw Bad
        seg += 1; off = 0
      }
      val v = cur(off) & 0xff; off += 1; v
    }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        while (off == cur.length) {
          if (seg == segs.length - 1) throw Bad
          seg += 1; off = 0
        }
        val take = math.min(left, (cur.length - off).toLong).toInt
        off += take; left -= take
      }
    }
    /** `cch` characters of string data starting with compression flag
      * `high0`; a segment boundary inside the run re-reads the flag
      * byte (§2.5.293). */
    def chars(cch: Int, high0: Boolean): String = {
      val sb = new java.lang.StringBuilder(cch)
      var left = cch
      var high = high0
      while (left > 0) {
        if (off == cur.length) {
          // boundary inside character data: next segment re-declares
          if (seg == segs.length - 1) throw Bad
          seg += 1; off = 0
          high = (u8() & 1) != 0
        }
        val bytesPerChar = if (high) 2 else 1
        val avail = (cur.length - off) / bytesPerChar
        if (avail == 0) {
          // a split not on a character boundary is malformed
          if ((cur.length - off) != 0) throw Bad
        } else {
          val take = math.min(left, avail)
          var k = 0
          if (high) {
            while (k < take) {
              sb.append(((cur(off + 2 * k) & 0xff) |
                ((cur(off + 2 * k + 1) & 0xff) << 8)).toChar)
              k += 1
            }
            off += 2 * take
          } else {
            while (k < take) {
              sb.append(Cp1252.table(cur(off + k) & 0xff))
              k += 1
            }
            off += take
          }
          left -= take
        }
      }
      sb.toString
    }
    /** XLUnicodeRichExtendedString (§2.5.293). */
    def richString(): String = {
      val cch = u16()
      val flags = u8()
      if ((flags & 0xf2) != 0) throw Bad // reserved bits must be 0
      val fHigh = (flags & 1) != 0
      val fExt = (flags & 4) != 0
      val fRich = (flags & 8) != 0
      val cRun = if (fRich) u16() else 0
      val cbExt = if (fExt) u32() else 0L
      if (cbExt < 0 || cbExt > Int.MaxValue) throw Bad
      val s = chars(cch, fHigh)
      skip(cRun * 4L)
      skip(cbExt)
      s
    }
  }

  /** Windows-1252, the BIFF8 compressed-string codepage: Latin-1 with
    * the 0x80–0x9F printables (€ ™ œ …). */
  private[functions] object Cp1252 {
    val table: Array[Char] = {
      val t = Array.tabulate[Char](256)(_.toChar)
      val bytes = Array.tabulate[Byte](32)(i => (0x80 + i).toByte)
      val s = new String(bytes, java.nio.charset.Charset.forName("windows-1252"))
      var i = 0
      while (i < 32) { t(0x80 + i) = s.charAt(i); i += 1 }
      t
    }
  }

  /** Single-record XLUnicodeString (Label/String records, §2.5.294):
    * no rich/ext fields. */
  private def unicodeString(b: Array[Byte], at: Int): String = {
    val cch = leU16(b, at)
    if (at + 3 > b.length) throw Bad
    val flags = b(at + 2) & 0xff
    if ((flags & 0xfe) != 0) throw Bad
    val sb = new java.lang.StringBuilder(cch)
    if ((flags & 1) != 0) {
      if (at + 3 + 2 * cch > b.length) throw Bad
      var k = 0
      while (k < cch) {
        sb.append(((b(at + 3 + 2 * k) & 0xff) |
          ((b(at + 4 + 2 * k) & 0xff) << 8)).toChar)
        k += 1
      }
    } else {
      if (at + 3 + cch > b.length) throw Bad
      var k = 0
      while (k < cch) { sb.append(Cp1252.table(b(at + 3 + k) & 0xff)); k += 1 }
    }
    sb.toString
  }

  /** RK-encoded number (§2.5.276). */
  private def rkValue(rk: Long): Double = {
    val fX100 = (rk & 1L) != 0
    val fInt = (rk & 2L) != 0
    val v =
      if (fInt) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if (fX100) v / 100.0 else v
  }

  /** Deterministic number rendering shared with the oracle contract. */
  private def fmtNum(d: Double): String =
    if (!d.isNaN && !d.isInfinite && d == math.rint(d) && math.abs(d) < 1e15)
      d.toLong.toString
    else d.toString

  private def errName(code: Int): String = code match {
    case 0x00 => "#NULL!"
    case 0x07 => "#DIV/0!"
    case 0x0F => "#VALUE!"
    case 0x17 => "#REF!"
    case 0x1D => "#NAME?"
    case 0x24 => "#NUM!"
    case 0x2A => "#N/A"
    case _    => throw Bad
  }

  /** The whole-workbook entry point: blob → flat cells of sheet 1. */
  def cells(b: Array[Byte]): ArrayData = cells(b, 1)

  /** Cells of the `sheet`-th WORKSHEET (1-based, BoundSheet8 order);
    * NULL when the workbook is damaged, encrypted, BIFF5, or the
    * sheet does not exist. */
  def cells(b: Array[Byte], sheet: Int): ArrayData = {
    if (b == null || sheet < 1 || sheet > 100000) return null
    try {
      val wb = CfbKernels.openStream(b, "Workbook")
      if (wb == null) return null
      // ---- globals substream
      val r = new Recs(wb)
      r.next()
      if (r.tpe != RBof) return null
      if (leU16(r.payload, 0) != 0x0600) return null // BIFF8 only
      if (leU16(r.payload, 2) != 0x0005) return null // workbook globals
      var sst: Array[String] = null
      val sheetPos = scala.collection.mutable.ArrayBuffer.empty[Long]
      var inGlobals = true
      while (inGlobals) {
        r.next()
        r.tpe match {
          case REof => inGlobals = false
          case RFilePass => return null // encrypted
          case RBoundSheet =>
            val p = r.payload
            val lbPlyPos = leU32(p, 0)
            val dt = p(5) & 0xff
            if (dt == 0) sheetPos += lbPlyPos // worksheet
          case RSst =>
            val sr = new SegReader(r.withContinues())
            sr.u32() // cstTotal
            val unique = sr.u32()
            if (unique < 0 || unique > MaxSstStrings) throw Bad
            val arr = new Array[String](unique.toInt)
            var i = 0
            while (i < unique) { arr(i) = sr.richString(); i += 1 }
            sst = arr
          case _ => () // skipped: framing carries us over unknown records
        }
      }
      if (sheet > sheetPos.length) return null
      // ---- worksheet substream
      val start = sheetPos(sheet - 1)
      if (start < 0 || start > wb.length - 4) return null
      r.pos = start.toInt
      r.next()
      if (r.tpe != RBof) return null
      if (leU16(r.payload, 0) != 0x0600) return null
      if (leU16(r.payload, 2) != 0x0010) return null // worksheet
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      def emit(row: Int, colIdx: Int, v: String): Unit = {
        out += new GenericInternalRow(Array[Any](
          row, colIdx, UTF8String.fromString(v)))
        if (out.size > MaxCells) throw Bad
      }
      def sstAt(i: Long): String = {
        if (sst == null || i < 0 || i >= sst.length) throw Bad
        sst(i.toInt)
      }
      var inSheet = true
      while (inSheet) {
        r.next()
        val p = r.payload
        r.tpe match {
          case REof => inSheet = false
          case RBof => throw Bad // nested substream inside a sheet
          case RLabelSst =>
            emit(leU16(p, 0), leU16(p, 2), sstAt(leU32(p, 6)))
          case RNumber =>
            emit(leU16(p, 0), leU16(p, 2), fmtNum(leF64(p, 6)))
          case RRk =>
            emit(leU16(p, 0), leU16(p, 2), fmtNum(rkValue(leU32(p, 6))))
          case RMulRk =>
            val n = (p.length - 6) / 6
            if (n < 1 || (p.length - 6) % 6 != 0) throw Bad
            val row = leU16(p, 0)
            val colFirst = leU16(p, 2)
            if (leU16(p, p.length - 2) != colFirst + n - 1) throw Bad
            var k = 0
            while (k < n) {
              emit(row, colFirst + k, fmtNum(rkValue(leU32(p, 4 + 6 * k + 2))))
              k += 1
            }
          case RLabel | RRString =>
            // RString = Label + trailing formatting runs (ignored)
            emit(leU16(p, 0), leU16(p, 2), unicodeString(p, 6))
          case RBoolErr =>
            val row = leU16(p, 0); val colIdx = leU16(p, 2)
            val v = p(6) & 0xff
            (p(7) & 0xff) match {
              case 0 => emit(row, colIdx, if (v != 0) "TRUE" else "FALSE")
              case 1 => emit(row, colIdx, errName(v))
              case _ => throw Bad
            }
          case RFormula =>
            val row = leU16(p, 0); val colIdx = leU16(p, 2)
            if ((p(12) & 0xff) == 0xff && (p(13) & 0xff) == 0xff) {
              (p(6) & 0xff) match {
                case 0 => // string result: the following String record
                  var looking = true
                  while (looking) {
                    r.next()
                    r.tpe match {
                      case RString =>
                        val sr = new SegReader(r.withContinues())
                        val cch = sr.u16()
                        val high = (sr.u8() & 1) != 0
                        emit(row, colIdx, sr.chars(cch, high))
                        looking = false
                      case RArray | RShrFmla | RTable => () // may intervene
                      case _ => throw Bad
                    }
                  }
                case 1 =>
                  emit(row, colIdx, if ((p(8) & 0xff) != 0) "TRUE" else "FALSE")
                case 2 => emit(row, colIdx, errName(p(8) & 0xff))
                case 3 => () // cached blank: emits nothing
                case _ => throw Bad
              }
            } else emit(row, colIdx, fmtNum(leF64(p, 6)))
          case _ => ()
        }
      }
      new GenericArrayData(out.toArray)
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writer: a realistic BIFF8 Workbook stream wrapped in the
  // in-repo CFB container — REAL record framing (globals + SST with
  // optional Continue splits + BoundSheet8 + per-sheet substreams)
  // -----------------------------------------------------------------
  sealed trait XCell { def row: Int; def col: Int }
  final case class XSst(row: Int, col: Int, s: String) extends XCell
  final case class XNum(row: Int, col: Int, v: Double) extends XCell
  final case class XRkInt(row: Int, col: Int, v: Int, x100: Boolean = false)
      extends XCell
  final case class XLabelC(row: Int, col: Int, s: String) extends XCell
  final case class XBool(row: Int, col: Int, v: Boolean) extends XCell
  final case class XErr(row: Int, col: Int, code: Int) extends XCell
  final case class XFormulaNum(row: Int, col: Int, v: Double) extends XCell
  final case class XFormulaStr(row: Int, col: Int, s: String) extends XCell
  final case class XMulRk(row: Int, col: Int, vs: Seq[Int]) extends XCell

  private final class RecWriter {
    val bos = new java.io.ByteArrayOutputStream()
    def rec(tpe: Int, body: Array[Byte]): Unit = {
      require(body.length <= 8224, "fixture record too long")
      w16(tpe); w16(body.length); bos.write(body)
    }
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def bytes: Array[Byte] = bos.toByteArray
  }

  private def b16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def b32(v: Long): Array[Byte] =
    Array.tabulate(4)(k => ((v >> (8 * k)) & 0xff).toByte)
  private def bF64(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(k => ((bits >> (8 * k)) & 0xff).toByte)
  }
  private def isCompressible(s: String): Boolean = s.forall(_ < 0x100)

  /** One XLUnicodeRichExtendedString, character data split into
    * `split`-char segments when `split` > 0 (segments after the first
    * land in Continue records, each re-declaring the grbit). Returns
    * (first-record bytes, continue bodies). */
  private def sstString(s: String, split: Int): (Array[Byte], Seq[Array[Byte]]) = {
    val high = !isCompressible(s)
    def charBytes(part: String): Array[Byte] =
      if (high) part.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      else part.map(c => c.toByte).toArray
    val head = new java.io.ByteArrayOutputStream()
    head.write(b16(s.length))
    head.write(if (high) 1 else 0)
    if (split <= 0 || s.length <= split) {
      head.write(charBytes(s))
      (head.toByteArray, Nil)
    } else {
      head.write(charBytes(s.substring(0, split)))
      val conts = s.substring(split).grouped(split).map { part =>
        val c = new java.io.ByteArrayOutputStream()
        c.write(if (high) 1 else 0) // re-declared compression bit
        c.write(charBytes(part))
        c.toByteArray
      }.toSeq
      (head.toByteArray, conts)
    }
  }

  /** Build a complete `.xls` fixture: CFB container with a BIFF8
    * Workbook stream. `biff5` emits a 0x0500 BOF (must be refused);
    * `filePass` inserts an encryption record (must be refused);
    * `sstSplit` > 0 forces Continue splits in SST character data. */
  private[graft] def build(sheets: Seq[Seq[XCell]], biff5: Boolean = false,
      filePass: Boolean = false, sstSplit: Int = 0): Array[Byte] = {
    val version = if (biff5) 0x0500 else 0x0600
    // collect the shared-string table in first-use order
    val sstIndex = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    sheets.flatten.foreach {
      case XSst(_, _, s) =>
        if (!sstIndex.contains(s)) sstIndex(s) = sstIndex.size
      case _ => ()
    }
    // sheet substreams (built first; globals need their offsets)
    val sheetBytes = sheets.map { cells =>
      val w = new RecWriter
      w.rec(RBof, b16(version) ++ b16(0x0010) ++ new Array[Byte](12))
      w.rec(0x0200, b32(0) ++ b32(64) ++ b16(0) ++ b16(16) ++ b16(0)) // Dimension
      cells.foreach {
        case XSst(r0, c0, s) =>
          w.rec(RLabelSst, b16(r0) ++ b16(c0) ++ b16(0) ++ b32(sstIndex(s)))
        case XNum(r0, c0, v) =>
          w.rec(RNumber, b16(r0) ++ b16(c0) ++ b16(0) ++ bF64(v))
        case XRkInt(r0, c0, v, x100) =>
          val rk = (v.toLong << 2) | 2L | (if (x100) 1L else 0L)
          w.rec(RRk, b16(r0) ++ b16(c0) ++ b16(0) ++ b32(rk & 0xFFFFFFFFL))
        case XMulRk(r0, c0, vs) =>
          val body = new java.io.ByteArrayOutputStream()
          body.write(b16(r0)); body.write(b16(c0))
          vs.foreach { v =>
            body.write(b16(0)); body.write(b32(((v.toLong << 2) | 2L) & 0xFFFFFFFFL))
          }
          body.write(b16(c0 + vs.length - 1))
          w.rec(RMulRk, body.toByteArray)
        case XLabelC(r0, c0, s) =>
          val high = !isCompressible(s)
          val chars =
            if (high) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
            else s.map(_.toByte).toArray
          w.rec(RLabel, b16(r0) ++ b16(c0) ++ b16(0) ++ b16(s.length) ++
            Array[Byte](if (high) 1 else 0) ++ chars)
        case XBool(r0, c0, v) =>
          w.rec(RBoolErr, b16(r0) ++ b16(c0) ++ b16(0) ++
            Array[Byte](if (v) 1 else 0, 0))
        case XErr(r0, c0, code) =>
          w.rec(RBoolErr, b16(r0) ++ b16(c0) ++ b16(0) ++
            Array[Byte](code.toByte, 1))
        case XFormulaNum(r0, c0, v) =>
          w.rec(RFormula, b16(r0) ++ b16(c0) ++ b16(0) ++ bF64(v) ++
            b16(0) ++ b32(0) ++ b16(0))
        case XFormulaStr(r0, c0, s) =>
          w.rec(RFormula, b16(r0) ++ b16(c0) ++ b16(0) ++
            Array[Byte](0, 0, 0, 0, 0, 0, 0xFF.toByte, 0xFF.toByte) ++
            b16(0) ++ b32(0) ++ b16(0))
          val high = !isCompressible(s)
          val chars =
            if (high) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
            else s.map(_.toByte).toArray
          w.rec(RString, b16(s.length) ++
            Array[Byte](if (high) 1 else 0) ++ chars)
      }
      w.rec(REof, Array.emptyByteArray)
      w.bytes
    }
    // globals: BOF, (FilePass), BoundSheet8 per sheet, SST, EOF.
    // BoundSheet8 length depends only on the (fixed-width) names, so
    // offsets can be computed in one pass.
    val globals = new RecWriter
    globals.rec(RBof, b16(version) ++ b16(0x0005) ++ new Array[Byte](12))
    if (filePass) globals.rec(RFilePass, b16(1) ++ b16(1) ++ new Array[Byte](48))
    val names = sheets.indices.map(i => f"Sheet${i + 1}%d")
    val boundSheetLen = names.map(n => 4 + (4 + 2 + 1 + 1 + n.length)).sum
    val sstBody = {
      val first = new java.io.ByteArrayOutputStream()
      first.write(b32(sstIndex.size)); first.write(b32(sstIndex.size))
      val conts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      sstIndex.keys.foreach { s =>
        val (head, cs) = sstString(s, sstSplit)
        if (conts.isEmpty) first.write(head) else conts += head
        conts ++= cs
      }
      (first.toByteArray, conts.toSeq)
    }
    val sstLen = (4 + sstBody._1.length) + sstBody._2.map(4 + _.length).sum
    val headerLen = globals.bytes.length + boundSheetLen + sstLen + 4 /*EOF*/
    var at = headerLen.toLong
    names.zipWithIndex.foreach { case (n, i) =>
      globals.rec(RBoundSheet, b32(at) ++ b16(0) ++
        Array[Byte](n.length.toByte, 0) ++ n.map(_.toByte).toArray)
      at += sheetBytes(i).length
    }
    globals.rec(RSst, sstBody._1)
    sstBody._2.foreach(c => globals.rec(RContinue, c))
    globals.rec(REof, Array.emptyByteArray)
    val wb = new java.io.ByteArrayOutputStream()
    wb.write(globals.bytes)
    sheetBytes.foreach(wb.write)
    CfbKernels.build(Seq("Workbook" -> wb.toByteArray))
  }
}

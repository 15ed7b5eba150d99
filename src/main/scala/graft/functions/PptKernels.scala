package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Legacy `.ppt` text extraction (round 17, VERDICT r16 #3) — the
  * third lane on the CFB walk after `.doc` and `.xls`. The
  * `PowerPoint Document` stream is a tree of 8-byte-headed records
  * (public MS-PPT spec §2.3: recVerAndInstance u16, recType u16,
  * recLen u32 LE; recVer 0xF marks a container whose payload is more
  * records). Slide text lives in `TextCharsAtom` (0x0FA0, UTF-16LE)
  * and `TextBytesAtom` (0x0FA8, one byte per character, high byte 0 —
  * i.e. Latin-1 code points); `CString` records (0x0FBA, UTF-16LE)
  * carry named text such as hyperlink captions and are NOT slide body
  * text, so they are excluded. Atoms concatenate in stream order with
  * `\n` separators; PPT's vertical-tab soft line break (0x0B) and CR
  * paragraph marks normalize to `\n`.
  *
  * Fail-closed: a `CryptSession10Container` (0x2F14) anywhere in the
  * tree means the document is encrypted → NULL; truncated or
  * oversized record framing → NULL; a container whose declared length
  * overruns its parent → NULL. Depth is capped (real files nest ~6
  * deep), record count is capped against pathological fan-out.
  */
object PptKernels {

  import Decode.{Bad, MaxText, Refused, leU16, leU32}

  private val TextCharsAtom = 0x0FA0
  private val TextBytesAtom = 0x0FA8
  private val CryptSession10 = 0x2F14
  private val MaxDepth = 64
  private val MaxRecords = 1 << 20

  private final class Walk(s: Array[Byte]) {
    val out = new java.lang.StringBuilder()
    var nRecords = 0

    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > MaxDepth) throw Bad
      var pos = from
      while (pos < to) {
        if (pos + 8 > to) throw Bad
        nRecords += 1
        if (nRecords > MaxRecords) throw Bad
        val verInst = leU16(s, pos)
        val recType = leU16(s, pos + 2)
        val len = leU32(s, pos + 4)
        if (len < 0 || pos + 8 + len > to) throw Bad
        val end = (pos + 8 + len).toInt
        if (recType == CryptSession10) throw Bad // encrypted
        if ((verInst & 0xF) == 0xF) {
          walk(pos + 8, end, depth + 1)
        } else recType match {
          case TextCharsAtom =>
            if ((len & 1L) != 0) throw Bad
            if (out.length() + len / 2 > MaxText) throw Bad
            if (out.length() > 0) out.append('\n')
            var i = pos + 8
            while (i < end) {
              val c = leU16(s, i).toChar
              out.append(if (c == '\r' || c == '\u000B') '\n' else c)
              i += 2
            }
          case TextBytesAtom =>
            if (out.length() + len > MaxText) throw Bad
            if (out.length() > 0) out.append('\n')
            var i = pos + 8
            while (i < end) {
              val c = (s(i) & 0xff).toChar
              out.append(if (c == '\r' || c == '\u000B') '\n' else c)
              i += 1
            }
          case _ => ()
        }
        pos = end
      }
    }
  }

  /** Text of an unencrypted legacy `.ppt`, or null. */
  def pptText(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    try {
      val s = CfbKernels.openStream(b, "PowerPoint Document")
      if (s == null) return null
      val w = new Walk(s)
      w.walk(0, s.length, 0)
      UTF8String.fromString(w.out.toString)
    } catch { case Refused() => null }
  }

  // -----------------------------------------------------------------
  // fixture writer: a plausible record tree (Document container with
  // SlideListWithText carrying the text atoms) wrapped in the in-repo
  // CFB container — real 8-byte record framing end to end.
  // -----------------------------------------------------------------
  private def rec(verInst: Int, recType: Int, body: Array[Byte]): Array[Byte] = {
    val h = new Array[Byte](8)
    h(0) = (verInst & 0xff).toByte; h(1) = ((verInst >> 8) & 0xff).toByte
    h(2) = (recType & 0xff).toByte; h(3) = ((recType >> 8) & 0xff).toByte
    var k = 0
    while (k < 4) { h(4 + k) = ((body.length >> (8 * k)) & 0xff).toByte; k += 1 }
    h ++ body
  }

  private[graft] def container(recType: Int, children: Array[Byte]*): Array[Byte] =
    rec(0xF, recType, children.flatten.toArray)

  private[graft] def textChars(s: String): Array[Byte] =
    rec(0, TextCharsAtom,
      s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))

  private[graft] def textBytes(s: String): Array[Byte] =
    rec(0, TextBytesAtom,
      s.map(c => { require(c < 0x100); c.toByte }).toArray)

  private[graft] def cryptSession(): Array[Byte] =
    rec(0xF, CryptSession10, new Array[Byte](16))

  /** A complete `.ppt` fixture: CFB container whose PowerPoint
    * Document stream holds a Document container with the given
    * top-level records (use [[textChars]]/[[textBytes]]/[[container]]
    * to compose), plus a plausible Current User stream. */
  private[graft] def build(records: Array[Byte]*): Array[Byte] = {
    // 0x03E8 = DocumentContainer, 0x0FF0 = SlideListWithText
    val doc = container(0x03E8,
      container(0x0FF0, records.flatten.toArray))
    CfbKernels.build(Seq(
      "Current User" -> rec(0, 0x0FF6, new Array[Byte](24)),
      "PowerPoint Document" -> doc))
  }
}

package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** PPTX slide-text extraction (round 17) — completes the OOXML trio
  * (docx r14, xlsx r15): presentations are the remaining Office-XML
  * container crawls carry in volume. Same chain as the siblings: ZIP
  * central directory → member XML → text, with the DrawingML text
  * model on top (ECMA-376: `<a:t>` runs inside `<a:p>` paragraphs of
  * `ppt/slides/slideN.xml`).
  *
  * Contract:
  *  - slides are read in part-number order (`slide1.xml`,
  *    `slide2.xml`, …) until the first absent part — the OOXML
  *    numbering convention the xlsx kernel also relies on;
  *  - within a slide, `<a:t>` run contents concatenate in document
  *    order; a closed `</a:p>` paragraph that produced text emits one
  *    newline; slides join with a blank line;
  *  - XML entities decode; `<a:t/>` self-closing runs are empty;
  *  - fail-closed: a damaged archive, an undecodable member, or a
  *    malformed `<a:t>` element → whole-blob NULL. A presentation
  *    with zero slides is NULL too (not a presentation the extractor
  *    can vouch for); a slide with no text contributes nothing.
  */
object PptxKernels {

  import Decode.Refused

  private val MaxSlides = 10000

  /** Text runs of one slide's XML: paragraphs → lines. Returns null
    * on malformed run framing. */
  private[graft] def slideText(xml: String): String = {
    val out = new java.lang.StringBuilder()
    val para = new java.lang.StringBuilder()
    var i = 0
    def flushPara(): Unit = {
      if (para.length() > 0) {
        if (out.length() > 0) out.append('\n')
        out.append(para)
        para.setLength(0)
      }
    }
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) i = xml.length
      else if (xml.startsWith("<a:t", lt) &&
               lt + 4 < xml.length &&
               (xml.charAt(lt + 4) == '>' || xml.charAt(lt + 4) == ' ' ||
                xml.charAt(lt + 4) == '/')) {
        val gt = xml.indexOf('>', lt + 4)
        if (gt < 0) return null
        if (xml.charAt(gt - 1) == '/') i = gt + 1 // empty run
        else {
          val close = xml.indexOf("</a:t>", gt + 1)
          if (close < 0) return null
          para.append(XmlEntities.decode(xml.substring(gt + 1, close)))
          i = close + 6
        }
      } else if (xml.startsWith("</a:p>", lt)) {
        flushPara()
        i = lt + 6
      } else i = lt + 1
    }
    flushPara()
    out.toString
  }

  private val SlideName = """ppt/slides/slide(\d{1,5})\.xml""".r

  /** Text of a .pptx presentation, or null. ONE central-directory
    * scan collects every slide part (r17 perf fix: the per-name probe
    * loop re-walked the directory once per slide — O(slides²-ish) on
    * big decks); parts read in slide-number order from 1 up to the
    * first gap (the OOXML numbering convention). */
  def pptxText(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    try {
      val parts = ZipKernels.extractMatching(b,
        name => SlideName.pattern.matcher(name).matches())
      if (parts == null) return null
      val byN = parts.flatMap { case (name, data) =>
        name match {
          case SlideName(n) => Some(n.toInt -> data)
          case _ => None
        }
      }.toMap
      if (!byN.contains(1) || byN.size > MaxSlides) return null
      val out = new java.lang.StringBuilder()
      var n = 1
      while (byN.contains(n)) {
        val t = slideText(new String(byN(n),
          java.nio.charset.StandardCharsets.UTF_8))
        if (t == null) return null
        if (t.nonEmpty) {
          if (out.length() > 0) out.append("\n\n")
          out.append(t)
        }
        n += 1
      }
      UTF8String.fromString(out.toString)
    } catch { case Refused() => null }
  }
}

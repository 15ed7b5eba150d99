package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** EML / MIME message extraction (round 17) — mail archives are a
  * steady crawl stratum (mailing-list mirrors, .eml attachments,
  * mbox dumps) and are fully specified by public RFCs, so unlike the
  * lossy codecs this is implementable exactly:
  *
  *  - RFC 5322 header block: CRLF/LF tolerant, folded (continuation)
  *    lines unfolded, case-insensitive names;
  *  - RFC 2047 encoded-words in From/To/Subject: `=?charset?B|Q?…?=`,
  *    B = base64, Q = quoted-printable with `_` = space; adjacent
  *    encoded-words join without the separating whitespace;
  *  - RFC 2045 bodies: Content-Transfer-Encoding 7bit/8bit/binary/
  *    quoted-printable (soft breaks honored)/base64; charsets utf-8,
  *    us-ascii, iso-8859-1/-15, windows-1252 (anything else is
  *    refused — a guessed charset is silently-wrong text);
  *  - RFC 2046 multipart: boundary walk with preamble/epilogue
  *    dropped, nesting capped; `multipart/alternative` prefers the
  *    LAST text/plain part (the spec's increasing-faithfulness
  *    order), other multiparts concatenate their text parts;
  *    `text/html` parts extract through [[HtmlKernels]] — the same
  *    extractor the crawl tier uses.
  *
  * Fail-closed: no recognizable header block, an unknown charset or
  * CTE, undecodable base64, or a boundary that never terminates →
  * NULL.
  */
object EmlKernels {

  import Decode.{Bad, MaxText, Refused}

  private val MaxDepth = 16
  private val MaxParts = 1 << 12

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("from", StringType, nullable = true),
    StructField("to", StringType, nullable = true),
    StructField("subject", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("n_parts", IntegerType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def decodeCharset(data: Array[Byte], charset: String): String = {
    val cs = charset.toLowerCase match {
      case "utf-8" | "utf8" => java.nio.charset.StandardCharsets.UTF_8
      case "us-ascii" | "ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case "iso-8859-1" | "latin1" => java.nio.charset.StandardCharsets.ISO_8859_1
      case "iso-8859-15" => java.nio.charset.Charset.forName("ISO-8859-15")
      case "windows-1252" | "cp1252" => java.nio.charset.Charset.forName("windows-1252")
      case _ => throw Bad // guessed charsets are silently-wrong text
    }
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(data)).toString
    catch { case _: java.nio.charset.CharacterCodingException => throw Bad }
  }

  private def qpDecode(s: String, underscoreIsSpace: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=') {
        if (i + 1 < s.length && (s.charAt(i + 1) == '\n' ||
            s.charAt(i + 1) == '\r')) {
          // soft line break: =\r?\n vanishes
          i += (if (i + 2 < s.length && s.charAt(i + 1) == '\r' &&
                    s.charAt(i + 2) == '\n') 3 else 2)
        } else {
          if (i + 2 >= s.length) throw Bad
          val hi = Character.digit(s.charAt(i + 1), 16)
          val lo = Character.digit(s.charAt(i + 2), 16)
          if (hi < 0 || lo < 0) throw Bad
          out.write((hi << 4) | lo)
          i += 3
        }
      } else if (underscoreIsSpace && c == '_') { out.write(' '); i += 1 }
      else { out.write(c.toInt & 0xff); i += 1 }
    }
    out.toByteArray
  }

  private def b64Decode(s: String): Array[Byte] =
    try java.util.Base64.getMimeDecoder.decode(s)
    catch { case _: IllegalArgumentException => throw Bad }

  /** RFC 2047 encoded-words in a header value. */
  private[graft] def decodeWords(v: String): String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    var lastWasWord = false
    var pendingWs = ""
    while (i < v.length) {
      val at = v.indexOf("=?", i)
      if (at < 0) {
        sb.append(pendingWs); sb.append(v.substring(i)); i = v.length
      } else {
        val c1 = v.indexOf('?', at + 2)
        val c2 = if (c1 < 0) -1 else v.indexOf('?', c1 + 1)
        val end = if (c2 < 0) -1 else v.indexOf("?=", c2 + 1)
        if (c1 < 0 || c2 < 0 || end < 0 || c2 != c1 + 2) {
          // not a well-formed encoded word: literal text
          sb.append(pendingWs)
          sb.append(v.substring(i, at + 2))
          pendingWs = ""
          lastWasWord = false
          i = at + 2
        } else {
          val between = v.substring(i, at)
          if (!(lastWasWord && between.forall(ch => ch == ' ' || ch == '\t'))) {
            sb.append(pendingWs); sb.append(between)
          }
          pendingWs = ""
          val charset = v.substring(at + 2, c1)
          val enc = v.charAt(c1 + 1)
          val payload = v.substring(c2 + 1, end)
          val bytes = enc match {
            case 'B' | 'b' => b64Decode(payload)
            case 'Q' | 'q' => qpDecode(payload, underscoreIsSpace = true)
            case _ => throw Bad
          }
          sb.append(decodeCharset(bytes, charset))
          lastWasWord = true
          i = end + 2
        }
      }
    }
    sb.toString
  }

  private final case class Part(headers: Map[String, String], body: String)

  /** Split a raw message/part into (headers, body): headers end at the
    * first blank line; folded lines unfold with a single space. */
  private def split(raw: String): Part = {
    val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    var current: String = null
    var value = new java.lang.StringBuilder()
    def flush(): Unit = {
      if (current != null)
        headers.getOrElseUpdate(current.toLowerCase, value.toString.trim)
      current = null
      value = new java.lang.StringBuilder()
    }
    var bodyAt = -1
    while (bodyAt < 0 && i < raw.length) {
      val eol0 = raw.indexOf('\n', i)
      val eol = if (eol0 < 0) raw.length else eol0
      val line = raw.substring(i,
        if (eol > i && raw.charAt(eol - 1) == '\r') eol - 1 else eol)
      if (line.isEmpty) { flush(); bodyAt = eol + 1 }
      else if (line.charAt(0) == ' ' || line.charAt(0) == '\t') {
        if (current == null) throw Bad // folded line before any header
        value.append(' ').append(line.trim)
      } else {
        val colon = line.indexOf(':')
        if (colon <= 0) throw Bad // not a header line
        flush()
        current = line.substring(0, colon)
        value.append(line.substring(colon + 1).trim)
      }
      i = eol + 1
    }
    flush()
    if (headers.isEmpty) throw Bad
    Part(headers.toMap, if (bodyAt < 0) "" else raw.substring(
      math.min(bodyAt, raw.length)))
  }

  /** Content-Type → (type/subtype lowercased, params lowercased-key). */
  private def contentType(p: Part): (String, Map[String, String]) = {
    val raw = p.headers.getOrElse("content-type", "text/plain")
    val segs = raw.split(';')
    val mime = segs(0).trim.toLowerCase
    val params = segs.drop(1).flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq < 0) None
      else {
        val k = seg.substring(0, eq).trim.toLowerCase
        var v = seg.substring(eq + 1).trim
        if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
          v = v.substring(1, v.length - 1)
        Some(k -> v)
      }
    }.toMap
    (mime, params)
  }

  private def decodeBody(p: Part, params: Map[String, String]): String = {
    val cte = p.headers.getOrElse("content-transfer-encoding", "7bit")
      .trim.toLowerCase
    val bytes = cte match {
      case "7bit" | "8bit" | "binary" =>
        p.body.map(c => (c.toInt & 0xff).toByte).toArray
      case "quoted-printable" => qpDecode(p.body, underscoreIsSpace = false)
      case "base64" => b64Decode(p.body)
      case _ => throw Bad
    }
    decodeCharset(bytes, params.getOrElse("charset", "us-ascii"))
  }

  /** The extracted text of a part tree; counts leaf parts. */
  private def textOf(p: Part, depth: Int,
                     counter: Array[Int]): String = {
    if (depth > MaxDepth) throw Bad
    counter(0) += 1
    if (counter(0) > MaxParts) throw Bad
    val (mime, params) = contentType(p)
    if (mime.startsWith("multipart/")) {
      val boundary = params.getOrElse("boundary", throw Bad)
      if (boundary.isEmpty) throw Bad
      val parts = splitMultipart(p.body, boundary).map(split)
      if (mime == "multipart/alternative") {
        // last text/plain wins; else last part with any text
        val texts = parts.map(sp => (contentType(sp)._1,
          textOf(sp, depth + 1, counter)))
        texts.reverse.collectFirst {
          case ("text/plain", t) if t != null => t
        }.orElse(texts.reverse.collectFirst {
          case (_, t) if t != null => t
        }).orNull
      } else {
        val texts = parts.flatMap(sp =>
          Option(textOf(sp, depth + 1, counter)))
        if (texts.isEmpty) null else texts.mkString("\n\n")
      }
    } else if (mime == "text/plain") {
      decodeBody(p, params)
    } else if (mime == "text/html") {
      val u = HtmlKernels.htmlExtract(UTF8String.fromString(
        decodeBody(p, params)))
      if (u == null) throw Bad
      u.toString
    } else null // attachments etc.: not message text
  }

  private def splitMultipart(body: String, boundary: String): Seq[String] = {
    val open = "--" + boundary
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = body.indexOf(open)
    if (i < 0) throw Bad
    var done = false
    while (!done) {
      // move past the boundary line
      var s = i + open.length
      if (body.startsWith("--", s)) { done = true }
      else {
        while (s < body.length && body.charAt(s) != '\n') s += 1
        s += 1
        var cut = body.indexOf("\r\n" + open, s)
        var at = -1
        if (cut >= 0) at = cut + 2
        else {
          cut = body.indexOf("\n" + open, s)
          if (cut >= 0) at = cut + 1
        }
        if (cut < 0) throw Bad // unterminated part
        out += body.substring(s, cut)
        i = at
      }
    }
    out.toSeq
  }

  private val MaxMessages = 1 << 16

  /** mbox archive → individual messages (r17): `From ` envelope
    * separator lines (mboxo/mboxrd), each message's bytes WITHOUT its
    * envelope line, `>From `-quoting reversed per mboxrd. NULL unless
    * the blob starts with an envelope line; each element feeds
    * [[emlParts]]. */
  def mboxMessages(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null) return null
    try {
      val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (!s.startsWith("From ")) return null
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i >= 0 && i < s.length) {
        // skip the envelope line
        val eol = s.indexOf('\n', i)
        if (eol < 0) return null // envelope line without a message
        val bodyStart = eol + 1
        val next = s.indexOf("\nFrom ", bodyStart)
        val bodyEnd = if (next < 0) s.length else next + 1
        val raw = s.substring(bodyStart, bodyEnd)
        // mboxrd unescape: a line of >+From loses one '>'
        val un = raw.split("\n", -1).map { line =>
          var k = 0
          while (k < line.length && line.charAt(k) == '>') k += 1
          if (k > 0 && line.startsWith("From ", k)) line.substring(1)
          else line
        }.mkString("\n")
        if (out.length >= MaxMessages) return null
        out += un.map(c => (c.toInt & 0xff).toByte).toArray
        i = if (next < 0) -1 else next + 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    } catch { case Refused() => null }
  }

  /** Parsed message: struct(from, to, subject, date, n_parts, text),
    * or null for non-mail / undecodable input. */
  def emlParts(b: Array[Byte]): GenericInternalRow = {
    if (b == null) return null
    try {
      // headers are ASCII-with-encoded-words; body re-decodes per part.
      // Latin-1 is the byte-preserving carrier encoding here.
      val raw = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      val msg = split(raw)
      // a mail message, not just any header-shaped text
      if (!msg.headers.contains("from") && !msg.headers.contains("subject") &&
          !msg.headers.contains("date")) return null
      def h(k: String): UTF8String =
        msg.headers.get(k).map(v => UTF8String.fromString(decodeWords(v)))
          .orNull
      val counter = Array(0)
      val text = textOf(msg, 0, counter)
      val textU =
        if (text == null) null
        else {
          if (text.length > MaxText) throw Bad
          UTF8String.fromString(text)
        }
      new GenericInternalRow(Array[Any](
        h("from"), h("to"), h("subject"), h("date"), counter(0), textU))
    } catch { case Refused() => null }
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** PDF triage + text extraction (round 14) — the largest crawled
  * format the pipeline didn't parse. Pure JVM, one pass per blob,
  * fail-closed like every media kernel: a blob the walk can't vouch
  * for is NULL, never a half-extracted guess.
  *
  * Supported surface (ISO 32000-1, the subset that covers the
  * overwhelming majority of crawled PDFs):
  *  - classic cross-reference TABLES and cross-reference STREAMS
  *    (/W field widths, /Index subsections, /Prev chains with
  *    newest-wins precedence, PNG predictors 10–15 and TIFF 2);
  *  - compressed object streams (/Type /ObjStm);
  *  - stream filters: none, /FlateDecode (zlib), and — round 15 —
  *    /LZWDecode (EarlyChange honored, predictors shared with Flate),
  *    /ASCII85Decode, /ASCIIHexDecode, /RunLengthDecode, chained in any order the
  *    /Filter array declares; anything else (DCT, JBIG2, JPX) fails
  *    closed;
  *  - [[meta]]: (version, n_pages, encrypted) — page count resolved
  *    through the /Root → /Pages → /Count chain, indirect refs
  *    followed with a cycle guard;
  *  - [[text]]: page-tree walk (/Kids recursion, ≤ [[MaxPages]]),
  *    content streams tokenized for the text-showing operators
  *    (Tj ' " TJ), newlines on Td, TD, T-star, ' and " — the layout-free
  *    reading-order-as-emitted extraction every corpus pipeline
  *    starts from.
  *
  * Encoding honesty: literal strings decode as PDFDocEncoding
  * (≈ Latin-1 on the printable range — the difference rows are
  * control/quote glyphs fixtures avoid); hex strings decode UTF-16BE
  * when BOM-tagged, Latin-1 otherwise. Round 16: fonts carrying a
  * /ToUnicode CMap (Type0/composite fonts — most post-2010 PDFs)
  * translate their glyph-code strings through the CMap
  * (bfchar/bfrange, codespace-driven code widths, U+FFFD for mapped
  * fonts' unmapped codes); fonts WITHOUT one are not translatable by
  * any extractor without the font — those bytes pass through as
  * their Latin-1 reading, documented, not hidden. Encrypted
  * documents report `encrypted = true` in [[meta]] and NULL text.
  */
object PdfKernels {

  import Decode.{Bad, MaxInflate, Refused, inflateCapped}

  val MaxPages = 10000
  private val MaxResolveDepth = 64

  // ---------------------------------------------------------------
  // object model
  // ---------------------------------------------------------------
  private sealed trait Obj
  private case class PNum(d: Double) extends Obj { def i: Int = d.toInt; def l: Long = d.toLong }
  private case class PName(n: String) extends Obj
  private case class PStr(bytes: Array[Byte], hex: Boolean) extends Obj
  private case class PArr(items: Vector[Obj]) extends Obj
  private case class PDict(m: Map[String, Obj]) extends Obj
  private case class PRef(num: Int, gen: Int) extends Obj
  private case class PBool(b: Boolean) extends Obj
  private case object PNull extends Obj
  private case class POp(op: String) extends Obj // content-stream operator

  private def isWs(c: Int): Boolean =
    c == 0 || c == 9 || c == 10 || c == 12 || c == 13 || c == 32
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Recursive-descent object lexer/parser over a byte range. */
  private final class Lexer(val b: Array[Byte], var pos: Int, val end: Int) {
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < end && isWs(b(pos) & 0xff)) pos += 1
        if (pos < end && b(pos) == '%') { // comment to EOL
          while (pos < end && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else go = false
      }
    }

    def startsWith(s: String): Boolean = {
      if (pos + s.length > end) return false
      var i = 0
      while (i < s.length) {
        if (b(pos + i) != s.charAt(i)) return false
        i += 1
      }
      true
    }

    private def keyword(): String = {
      val s = pos
      while (pos < end && !isWs(b(pos) & 0xff) && !isDelim(b(pos) & 0xff)) pos += 1
      new String(b, s, pos - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    }

    private def name(): PName = {
      pos += 1 // the '/'
      val sb = new StringBuilder
      while (pos < end && !isWs(b(pos) & 0xff) && !isDelim(b(pos) & 0xff)) {
        val c = b(pos) & 0xff
        if (c == '#' && pos + 2 < end) {
          val h = Character.digit(b(pos + 1), 16)
          val l = Character.digit(b(pos + 2), 16)
          if (h >= 0 && l >= 0) { sb.append(((h << 4) | l).toChar); pos += 3 }
          else { sb.append(c.toChar); pos += 1 }
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def number(): PNum = {
      val s = pos
      if (pos < end && (b(pos) == '+' || b(pos) == '-')) pos += 1
      var digits = false
      while (pos < end && b(pos) >= '0' && b(pos) <= '9') { pos += 1; digits = true }
      if (pos < end && b(pos) == '.') {
        pos += 1
        while (pos < end && b(pos) >= '0' && b(pos) <= '9') { pos += 1; digits = true }
      }
      if (!digits) throw Bad
      PNum(new String(b, s, pos - s,
        java.nio.charset.StandardCharsets.ISO_8859_1).toDouble)
    }

    private def literalString(): PStr = {
      pos += 1 // the '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (pos < end && depth > 0) {
        val c = b(pos) & 0xff
        if (c == '\\') {
          if (pos + 1 >= end) throw Bad
          val e = b(pos + 1) & 0xff
          e match {
            case 'n' => out.write('\n'); pos += 2
            case 'r' => out.write('\r'); pos += 2
            case 't' => out.write('\t'); pos += 2
            case 'b' => out.write('\b'); pos += 2
            case 'f' => out.write('\f'); pos += 2
            case '(' => out.write('('); pos += 2
            case ')' => out.write(')'); pos += 2
            case '\\' => out.write('\\'); pos += 2
            case '\r' => // line continuation (\r or \r\n)
              pos += 2; if (pos < end && b(pos) == '\n') pos += 1
            case '\n' => pos += 2
            case d if d >= '0' && d <= '7' => // 1-3 octal digits
              var v = 0; var k = 0; pos += 1
              while (k < 3 && pos < end && b(pos) >= '0' && b(pos) <= '7') {
                v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
              }
              out.write(v & 0xff)
            case _ => out.write(e); pos += 2 // unknown escape: the char itself
          }
        } else if (c == '(') { depth += 1; out.write(c); pos += 1 }
        else if (c == ')') {
          depth -= 1
          if (depth > 0) out.write(c)
          pos += 1
        } else { out.write(c); pos += 1 }
      }
      if (depth != 0) throw Bad
      PStr(out.toByteArray, hex = false)
    }

    private def hexString(): PStr = {
      pos += 1 // the '<'
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      while (pos < end && b(pos) != '>') {
        val c = b(pos) & 0xff
        if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) throw Bad
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
        pos += 1
      }
      if (pos >= end) throw Bad
      pos += 1 // the '>'
      if (hi >= 0) out.write(hi << 4) // odd count: final digit padded
      PStr(out.toByteArray, hex = true)
    }

    /** One object; bare keywords surface as [[POp]] (content-stream
      * operators / `obj`/`endobj` markers for the caller to interpret). */
    def next(): Obj = {
      skipWs()
      if (pos >= end) throw Bad
      val c = b(pos) & 0xff
      if (c == '/') name()
      else if (c == '(') literalString()
      else if (c == '[') {
        pos += 1
        val items = Vector.newBuilder[Obj]
        skipWs()
        while (pos < end && b(pos) != ']') { items += next(); skipWs() }
        if (pos >= end) throw Bad
        pos += 1
        PArr(items.result())
      } else if (c == '<') {
        if (pos + 1 < end && b(pos + 1) == '<') {
          pos += 2
          val m = Map.newBuilder[String, Obj]
          skipWs()
          while (pos < end && !startsWith(">>")) {
            val k = next() match {
              case PName(n) => n
              case _ => throw Bad
            }
            m += k -> next()
            skipWs()
          }
          if (!startsWith(">>")) throw Bad
          pos += 2
          PDict(m.result())
        } else hexString()
      } else if (c == ']' || c == '>' || c == ')' || c == '{' || c == '}') throw Bad
      else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        // number, possibly the start of `num gen R`
        val save = pos
        val n1 = number()
        if (n1.d == math.rint(n1.d) && n1.d >= 0) {
          val save2 = pos
          try {
            skipWs()
            if (pos < end && b(pos) >= '0' && b(pos) <= '9') {
              val n2 = number()
              skipWs()
              if (pos < end && b(pos) == 'R' &&
                  (pos + 1 >= end || isWs(b(pos + 1) & 0xff) || isDelim(b(pos + 1) & 0xff))) {
                pos += 1
                return PRef(n1.i, n2.i)
              }
            }
            pos = save2
          } catch { case Bad => pos = save2 }
        }
        pos = math.max(pos, save) // n1 already consumed
        n1
      } else {
        keyword() match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case "" => throw Bad
          case k => POp(k)
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // filters
  // ---------------------------------------------------------------
  private def inflateZlib(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(false)
    try {
      inf.setInput(data)
      val out = inflateCapped(inf, MaxInflate, math.min(data.length * 4, 1 << 20))
      if (out == null) throw Bad
      out
    } finally inf.end()
  }

  /** PDF LZWDecode (ISO 32000-1 §7.4.4, round 15): MSB-first
    * variable-width codes (9→12 bits), 256 = clear table, 257 = EOD;
    * `EarlyChange` 1 (the default) bumps the code width one dictionary
    * entry EARLY — the quirk that distinguishes PDF/TIFF LZW from
    * GIF's. Fail-closed: a missing EOD, an out-of-range code, a
    * non-literal chain bottom, or blowing [[MaxInflate]] all throw. */
  private[graft] def lzwDecode(src: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(src.length * 4, 1 << 20))
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val first = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    val early = if (earlyChange == 0) 0 else 1
    var dictSize = 258
    var width = 9
    var prev = -1
    var acc = 0L
    var bits = 0
    var i = 0
    def emit(code: Int): Unit = {
      var sp = 0
      var c = code
      while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      if (c >= 256) throw Bad // chain must bottom out at a literal
      out.write(c)
      while (sp > 0) { sp -= 1; out.write(stack(sp) & 0xff) }
      if (out.size() > MaxInflate) throw Bad
    }
    def firstByte(code: Int): Byte =
      if (code < 256) code.toByte else first(code)
    while (i < src.length || bits >= width) {
      if (bits < width) {
        acc = (acc << 8) | (src(i) & 0xff); bits += 8; i += 1
      } else {
        val code = ((acc >>> (bits - width)) & ((1L << width) - 1)).toInt
        bits -= width
        if (code == 256) { dictSize = 258; width = 9; prev = -1 }
        else if (code == 257) return out.toByteArray
        else if (prev < 0) {
          if (code >= 256) throw Bad // first code after (re)start: literal
          out.write(code)
          prev = code
        } else {
          if (code > dictSize || code >= 4096) throw Bad
          val head: Byte =
            if (code == dictSize) firstByte(prev) // KwKwK
            else firstByte(code)
          if (dictSize < 4096) {
            prefix(dictSize) = prev
            suffix(dictSize) = head
            first(dictSize) = firstByte(prev)
            dictSize += 1
            if (dictSize + early == (1 << width) && width < 12) width += 1
          }
          emit(code)
          prev = code
        }
      }
    }
    throw Bad // ran out of bytes before EOD
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` → 4 bytes, `z` = four
    * zeros, whitespace transparent, `~>` terminates (a trailing group
    * of n chars yields n−1 bytes; a 1-char group is malformed). */
  private[graft] def ascii85Decode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length * 4 / 5 + 8)
    var tuple = 0L
    var n = 0
    var i = 0
    if (src.length >= 2 && src(0) == '<' && src(1) == '~') i = 2
    while (i < src.length) {
      val c = src(i) & 0xff
      if (c == '~') {
        if (i + 1 >= src.length || src(i + 1) != '>') throw Bad
        if (n == 1) throw Bad
        if (n >= 2) {
          var t = tuple
          var k = n
          while (k < 5) { t = t * 85 + 84; k += 1 }
          if (t > 0xffffffffL) throw Bad
          var sh = 24
          k = 0
          while (k < n - 1) { out.write(((t >>> sh) & 0xff).toInt); sh -= 8; k += 1 }
        }
        return out.toByteArray
      } else if (c == 'z' && n == 0) {
        out.write(0); out.write(0); out.write(0); out.write(0)
        if (out.size() > MaxInflate) throw Bad
      } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
                 c == '\f' || c == 0) {
        () // whitespace transparent
      } else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!')
        n += 1
        if (n == 5) {
          if (tuple > 0xffffffffL) throw Bad
          out.write(((tuple >>> 24) & 0xff).toInt)
          out.write(((tuple >>> 16) & 0xff).toInt)
          out.write(((tuple >>> 8) & 0xff).toInt)
          out.write((tuple & 0xff).toInt)
          if (out.size() > MaxInflate) throw Bad
          tuple = 0; n = 0
        }
      } else throw Bad
      i += 1
    }
    throw Bad // no `~>` EOD
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace transparent, `>`
    * terminates; an odd trailing digit is padded with 0 per spec. */
  private[graft] def asciiHexDecode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 4)
    var hi = -1
    var i = 0
    while (i < src.length) {
      val c = src(i) & 0xff
      val h =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (h >= 0) {
        if (hi < 0) hi = h
        else { out.write((hi << 4) | h); hi = -1 }
        if (out.size() > MaxInflate) throw Bad
      } else if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        return out.toByteArray
      } else if (!(c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
                   c == '\f' || c == 0)) throw Bad
      i += 1
    }
    throw Bad // no `>` EOD
  }

  /** RunLengthDecode (§7.4.5): n ≤ 127 copies n+1 literals, n ≥ 129
    * repeats the next byte 257−n times, 128 = EOD (required). */
  private[graft] def runLengthDecode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length * 2 + 8)
    var i = 0
    while (i < src.length) {
      val n = src(i) & 0xff
      if (n == 128) return out.toByteArray // EOD
      if (n <= 127) {
        if (i + 1 + n + 1 > src.length) throw Bad
        out.write(src, i + 1, n + 1)
        i += n + 2
      } else {
        if (i + 1 >= src.length) throw Bad
        var k = 257 - n
        while (k > 0) { out.write(src(i + 1)); k -= 1 }
        i += 2
      }
      if (out.size() > MaxInflate) throw Bad
    }
    throw Bad // missing EOD
  }

  /** PNG (10–15) / TIFF (2) predictor inversion over decoded bytes. */
  private def unpredict(data: Array[Byte], predictor: Int, columns: Int,
                        colors: Int, bpc: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit comps only)
      if (bpc != 8) throw Bad
      if (rowLen == 0 || data.length % rowLen != 0) throw Bad
      val out = data.clone()
      var r = 0
      while (r < data.length) {
        var i = bpp
        while (i < rowLen) {
          out(r + i) = ((out(r + i) + out(r + i - bpp)) & 0xff).toByte
          i += 1
        }
        r += rowLen
      }
      return out
    }
    // PNG: each row prefixed by a filter-type byte
    val stride = rowLen + 1
    if (stride == 1 || data.length % stride != 0) throw Bad
    val rows = data.length / stride
    val out = new Array[Byte](rows * rowLen)
    var prev = new Array[Byte](rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * stride) & 0xff
      val cur = new Array[Byte](rowLen)
      System.arraycopy(data, r * stride + 1, cur, 0, rowLen)
      var i = 0
      while (i < rowLen) {
        val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
        val bb = prev(i) & 0xff
        val cc = if (i >= bpp) prev(i - bpp) & 0xff else 0
        val x = cur(i) & 0xff
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + bb
          case 3 => x + (a + bb) / 2
          case 4 =>
            val p = a + bb - cc
            val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - cc)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else cc)
          case _ => throw Bad
        }
        cur(i) = (v & 0xff).toByte
        i += 1
      }
      System.arraycopy(cur, 0, out, r * rowLen, rowLen)
      prev = cur
      r += 1
    }
    out
  }

  // ---------------------------------------------------------------
  // encryption (round 17, ISO 32000-1 §7.6.3, VERDICT r16 #6): the
  // STANDARD security handler for the owner-password-only majority —
  // an EMPTY user password with RC4-40/128 (V1/V2, R2/R3) or AES-128
  // (V4 R4, CFM AESV2). The U entry is VALIDATED before any key is
  // used: a document whose user password is not empty (or a
  // misderived key) fails the check and stays NULL — wrong passwords
  // can't produce silently-garbled text. V5/AES-256 and non-Standard
  // handlers stay refused. [[meta]] keeps reporting encrypted=true.
  // ---------------------------------------------------------------
  /** The 32-byte password pad (§7.6.3.3 Algorithm 2 step a). */
  private[graft] val PdfPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private[graft] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(identity)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0
    i = 0
    while (i < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(i) = (data(i) ^ s((s(x) + s(y)) & 0xff)).toByte
      i += 1
    }
    out
  }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  private def le32b(v: Long): Array[Byte] =
    Array.tabulate(4)(k => ((v >> (8 * k)) & 0xff).toByte)

  private[graft] def aesCbcDecrypt(key: Array[Byte],
                                   data: Array[Byte]): Array[Byte] = {
    // §7.6.2: first 16 bytes are the IV; PKCS#5 padding is mandatory
    if (data.length < 32 || data.length % 16 != 0) throw Bad
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(
        java.util.Arrays.copyOf(data, 16)))
    val plain = c.doFinal(data, 16, data.length - 16)
    val pad = plain(plain.length - 1) & 0xff
    if (pad < 1 || pad > 16 || pad > plain.length) throw Bad
    java.util.Arrays.copyOf(plain, plain.length - pad)
  }

  private[graft] def aesCbcEncrypt(key: Array[Byte], iv: Array[Byte],
                                   data: Array[Byte]): Array[Byte] = {
    // fixture tooling (the compressStore tradition): deterministic IV
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val pad = 16 - (data.length % 16)
    val padded = java.util.Arrays.copyOf(data, data.length + pad)
    java.util.Arrays.fill(padded, data.length, padded.length, pad.toByte)
    iv ++ c.doFinal(padded)
  }

  /** File-key derivation, §7.6.3.3 Algorithm 2 (empty user password). */
  private[graft] def fileKey(o: Array[Byte], p: Int, id0: Array[Byte],
                             r: Int, keyLen: Int,
                             encryptMetadata: Boolean): Array[Byte] = {
    var h = md5(PdfPad, o, le32b(p.toLong & 0xffffffffL), id0,
      if (r >= 4 && !encryptMetadata) Array.fill[Byte](4)(0xFF.toByte)
      else Array.emptyByteArray)
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(java.util.Arrays.copyOf(h, keyLen)); i += 1 }
    }
    java.util.Arrays.copyOf(h, keyLen)
  }

  /** Expected /U for the empty user password (Algorithms 4 and 5);
    * R≥3 yields 16 significant bytes, R2 the full 32. */
  private[graft] def expectedU(key: Array[Byte], id0: Array[Byte],
                               r: Int): Array[Byte] = {
    if (r == 2) rc4(key, PdfPad)
    else {
      var u = rc4(key, md5(PdfPad, id0))
      var i = 1
      while (i <= 19) {
        val k = key.map(b => (b ^ i).toByte)
        u = rc4(k, u)
        i += 1
      }
      u
    }
  }

  private final class EncState(key: Array[Byte], val aes: Boolean) {
    /** Per-object key (Algorithm 1): MD5(key + objnum LE3 + gen LE2
      * [+ sAlT for AES]), truncated to min(n+5, 16). */
    private def objKey(num: Int, gen: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(key)
      md.update(Array[Byte]((num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
        ((num >> 16) & 0xff).toByte, (gen & 0xff).toByte,
        ((gen >> 8) & 0xff).toByte))
      if (aes) md.update(Array[Byte](0x73, 0x41, 0x6C, 0x54)) // "sAlT"
      java.util.Arrays.copyOf(md.digest(), math.min(key.length + 5, 16))
    }
    def decrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = {
      val k = objKey(num, gen)
      if (aes) aesCbcDecrypt(k, data) else rc4(k, data)
    }
    private[graft] def encryptFixture(num: Int, gen: Int,
                                      data: Array[Byte]): Array[Byte] = {
      val k = objKey(num, gen)
      if (aes) aesCbcEncrypt(k,
        md5(le32b(num.toLong), le32b(gen.toLong)).take(16), data)
      else rc4(k, data)
    }
  }

  // ---------------------------------------------------------------
  // document
  // ---------------------------------------------------------------
  private final class Doc(val b: Array[Byte]) {
    // objNum -> Left(byte offset) | Right((objStm num, index within))
    val xref = scala.collection.mutable.HashMap.empty[Int, Either[Long, (Int, Int)]]
    var trailer: Map[String, Obj] = Map.empty
    private val cache = scala.collection.mutable.HashMap.empty[Int, Obj]
    private val streamCache = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
    private var depth = 0

    def resolve(o: Obj): Obj = o match {
      case PRef(n, _) =>
        if (depth >= MaxResolveDepth) throw Bad
        depth += 1
        try resolve(obj(n)) finally depth -= 1
      case x => x
    }

    /** Encryption state (r17) — set by [[text]] after the xref load;
      * decodeStream decrypts raw stream bytes before filters when
      * non-null. */
    var enc: EncState = null

    /** Parse the object at a byte offset: `num gen obj <payload>`. */
    private def parseAt(off: Long): (Int, Int, Obj, Lexer) = {
      if (off < 0 || off >= b.length) throw Bad
      val lx = new Lexer(b, off.toInt, b.length)
      val n = lx.next() match { case p: PNum => p.i; case _ => throw Bad }
      val g = lx.next() match { case p: PNum => p.i; case _ => throw Bad }
      lx.next() match { case POp("obj") => (); case _ => throw Bad }
      (n, g, lx.next(), lx)
    }

    def obj(num: Int): Obj = cache.getOrElseUpdate(num, {
      xref.get(num) match {
        case Some(Left(off)) =>
          val (n, _, o, _) = parseAt(off)
          if (n != num) throw Bad
          o
        case Some(Right((stmNum, idx))) =>
          val data = streamBytes(stmNum)
          val d = obj(stmNum) match { case PDict(m) => m; case _ => throw Bad }
          val nObjs = intOf(d.get("N"))
          val first = intOf(d.get("First"))
          if (idx >= nObjs) throw Bad
          val hl = new Lexer(data, 0, data.length)
          var objOff = -1
          var i = 0
          while (i <= idx) { // header: N (objnum, offset) int pairs
            val on = hl.next() match { case p: PNum => p.i; case _ => throw Bad }
            val oo = hl.next() match { case p: PNum => p.i; case _ => throw Bad }
            if (i == idx) { if (on != num) throw Bad; objOff = oo }
            i += 1
          }
          new Lexer(data, first + objOff, data.length).next()
        case None => PNull
      }
    })

    private def intOf(o: Option[Obj]): Int = o.map(resolve) match {
      case Some(p: PNum) => p.i
      case _ => throw Bad
    }

    /** Decoded stream payload of object `num` (dict + `stream` data). */
    def streamBytes(num: Int): Array[Byte] = streamCache.getOrElseUpdate(num, {
      val off = xref.get(num) match {
        case Some(Left(o)) => o
        case _ => throw Bad // streams never live inside object streams
      }
      val (n, g, o, lx) = parseAt(off)
      if (n != num) throw Bad
      val dict = o match { case PDict(m) => m; case _ => throw Bad }
      decodeStream(dict, lx, num, g)
    })

    /** Consume `stream ... endstream` after the dict in `lx`. */
    def decodeStream(dict: Map[String, Obj], lx: Lexer,
                     objNum: Int = -1, gen: Int = 0): Array[Byte] = {
      lx.skipWs()
      lx.next() match { case POp("stream") => (); case _ => throw Bad }
      // after `stream`: CRLF or LF (the keyword parser stopped at the delim)
      var p = lx.pos
      if (p < b.length && b(p) == '\r') p += 1
      if (p < b.length && b(p) == '\n') p += 1
      val len = resolve(dict.getOrElse("Length", throw Bad)) match {
        case q: PNum => q.i
        case _ => throw Bad
      }
      if (len < 0 || p + len > b.length) throw Bad
      var raw = java.util.Arrays.copyOfRange(b, p, p + len)
      // §7.5.8.2: cross-reference streams are never encrypted; every
      // other stream decrypts BEFORE its filters run
      val isXref = resolve(dict.getOrElse("Type", PNull)) match {
        case PName("XRef") => true
        case _ => false
      }
      if (enc != null && objNum >= 0 && !isXref)
        raw = enc.decrypt(objNum, gen, raw)
      applyFilters(dict, raw)
    }

    /** Top-level stream object as (dict, DECRYPTED raw bytes, gen) —
      * BEFORE filters run (r17: the image extractor wants to keep a
      * trailing DCTDecode intact as JPEG bytes). None for non-stream
      * objects. */
    def rawStreamObject(num: Int): Option[(Map[String, Obj], Array[Byte])] =
      xref.get(num) match {
        case Some(Left(off)) =>
          val (n, g, o, lx) = parseAt(off)
          if (n != num) throw Bad
          o match {
            case PDict(dict) =>
              lx.skipWs()
              if (!lx.startsWith("stream")) None
              else {
                lx.next() match { case POp("stream") => (); case _ => throw Bad }
                var p = lx.pos
                if (p < b.length && b(p) == '\r') p += 1
                if (p < b.length && b(p) == '\n') p += 1
                val len = resolve(dict.getOrElse("Length", throw Bad)) match {
                  case q: PNum => q.i
                  case _ => throw Bad
                }
                if (len < 0 || p + len > b.length) throw Bad
                var raw = java.util.Arrays.copyOfRange(b, p, p + len)
                val isXref = resolve(dict.getOrElse("Type", PNull)) match {
                  case PName("XRef") => true
                  case _ => false
                }
                if (enc != null && !isXref) raw = enc.decrypt(num, g, raw)
                Some((dict, raw))
              }
            case _ => None
          }
        case _ => None
      }

    /** The declared filter chain: (names, per-filter parms). */
    def filterChain(dict: Map[String, Obj])
        : (Seq[String], Seq[Map[String, Obj]]) = {
      val filters = resolve(dict.getOrElse("Filter", PNull)) match {
        case PNull => Nil
        case PName(n) => Seq(n)
        case PArr(items) => items.map(resolve).map {
          case PName(n) => n
          case _ => throw Bad
        }
        case _ => throw Bad
      }
      val parmsList = resolve(dict.getOrElse("DecodeParms", PNull)) match {
        case PNull => Seq.fill(filters.size)(Map.empty[String, Obj])
        case PDict(m) => Seq(m)
        case PArr(items) => items.map(resolve).map {
          case PDict(m) => m
          case PNull => Map.empty[String, Obj]
          case _ => throw Bad
        }
        case _ => throw Bad
      }
      (filters, parmsList)
    }

    def applyFilters(dict: Map[String, Obj], raw: Array[Byte]): Array[Byte] = {
      val (filters, parmsList) = filterChain(dict)
      applyFilterList(filters, parmsList, raw)
    }

    def applyFilterList(filters: Seq[String],
                        parmsList: Seq[Map[String, Obj]],
                        raw: Array[Byte]): Array[Byte] = {
      var data = raw
      def ip(parms: Map[String, Obj], k: String, dflt: Int): Int =
        parms.get(k).map(resolve) match {
          case Some(p: PNum) => p.i
          case _ => dflt
        }
      // Flate and LZW both take the Predictor family (§7.4.4.4)
      def withPred(parms: Map[String, Obj], d: Array[Byte]): Array[Byte] = {
        val pred = ip(parms, "Predictor", 1)
        if (pred <= 1) d
        else unpredict(d, pred, ip(parms, "Columns", 1),
          ip(parms, "Colors", 1), ip(parms, "BitsPerComponent", 8))
      }
      filters.zipAll(parmsList, "", Map.empty[String, Obj]).foreach {
        case ("FlateDecode", parms) =>
          data = withPred(parms, inflateZlib(data))
        case ("LZWDecode", parms) => // round 15: older crawled PDFs
          data = withPred(parms, lzwDecode(data, ip(parms, "EarlyChange", 1)))
        case ("ASCII85Decode", _) => data = ascii85Decode(data)
        case ("ASCIIHexDecode", _) => data = asciiHexDecode(data)
        case ("RunLengthDecode", _) => data = runLengthDecode(data)
        case ("", _) => ()
        case _ => throw Bad // unsupported filter (DCT, JBIG2…): fail closed
      }
      data
    }
  }

  /** Fixture tooling: a per-object encryptor over the SAME Algorithm-1
    * key schedule the decoder uses (the compressStore tradition —
    * tests assemble real encrypted documents; PdfSpec also derives /O
    * from a real owner password via Algorithm 3 so the fixtures are
    * faithful, and the /U validation means a misread of Algorithm 2
    * fails closed on real files rather than garbling them). */
  private[graft] def fixtureEncryptor(key: Array[Byte], aes: Boolean)
      : (Int, Int, Array[Byte]) => Array[Byte] = {
    val st = new EncState(key, aes)
    (n, g, d) => st.encryptFixture(n, g, d)
  }

  /** Complete encrypted single-page fixture document (the in-plan
    * query lanes; PdfSpec keeps its own independent replica of the
    * same algorithms as a cross-check): /O from a real owner password
    * (Algorithm 3), /U from the empty user password, content stream
    * encrypted per Algorithm 1. `flipU` simulates a document whose
    * user password is NOT empty — the decoder must refuse it. */
  private[graft] def buildEncryptedFixture(content: String, v: Int, r: Int,
      keyLen: Int, aes: Boolean, flate: Boolean = false,
      flipU: Boolean = false): Array[Byte] = {
    def pad32(pw: String): Array[Byte] =
      (pw.getBytes("ISO-8859-1") ++ PdfPad).take(32)
    val id0 = Array.tabulate[Byte](16)(i => (i * 29 + 7).toByte)
    var h = md5(pad32("fixture-owner"))
    if (r >= 3) (0 until 50).foreach(_ =>
      h = md5(java.util.Arrays.copyOf(h, keyLen)))
    val oKey = java.util.Arrays.copyOf(h, keyLen)
    var oEntry = rc4(oKey, pad32(""))
    if (r >= 3) (1 to 19).foreach { i =>
      oEntry = rc4(oKey.map(x => (x ^ i).toByte), oEntry)
    }
    val p = -3904
    val key = fileKey(oEntry, p, id0, r, keyLen, encryptMetadata = true)
    val u16 = expectedU(key, id0, r)
    val uEntry =
      (if (r == 2) u16 else u16.take(16) ++ new Array[Byte](16)).clone()
    if (flipU) uEntry(3) = (uEntry(3) ^ 0x40).toByte
    val st = new EncState(key, aes)
    def hx(a: Array[Byte]): String = a.map("%02x".format(_)).mkString
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Long](0L)
    def emit(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    emit("%PDF-1.6\n")
    offsets += out.size()
    emit("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size()
    emit("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    offsets += out.size()
    emit("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    offsets += out.size()
    val plainBytes = content.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val plain = if (flate) {
      val d = new java.util.zip.Deflater()
      d.setInput(plainBytes); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    } else plainBytes
    val payload = st.encryptFixture(4, 0, plain)
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

  /** Build the decryption state for a document whose trailer carries
    * /Encrypt, validating the EMPTY user password against /U; throws
    * Bad for non-Standard handlers, V5/AES-256, unexpected CFMs, or a
    * failed password check (the fail-closed contract: a real user
    * password yields NULL text, never garbled output). */
  private def setupEnc(doc: Doc): EncState = {
    val ed = doc.resolve(doc.trailer.getOrElse("Encrypt", throw Bad)) match {
      case PDict(m) => m
      case _ => throw Bad
    }
    doc.resolve(ed.getOrElse("Filter", throw Bad)) match {
      case PName("Standard") => ()
      case _ => throw Bad // custom security handlers: refuse
    }
    def num(k: String): Int = doc.resolve(ed.getOrElse(k, throw Bad)) match {
      case p: PNum => p.i
      case _ => throw Bad
    }
    def numOr(k: String, dflt: Int): Int =
      ed.get(k).map(doc.resolve) match {
        case Some(p: PNum) => p.i
        case None => dflt
        case _ => throw Bad
      }
    def str(k: String): Array[Byte] =
      doc.resolve(ed.getOrElse(k, throw Bad)) match {
        case PStr(bs, _) => bs
        case _ => throw Bad
      }
    val v = numOr("V", 0)
    val r = num("R")
    val o = str("O")
    val u = str("U")
    val p = num("P")
    if (o.length != 32 || u.length < 16) throw Bad
    val encMeta = ed.get("EncryptMetadata").map(doc.resolve) match {
      case Some(PBool(x)) => x
      case _ => true
    }
    val id0: Array[Byte] = doc.resolve(doc.trailer.getOrElse("ID", PNull)) match {
      case PArr(items) if items.nonEmpty =>
        doc.resolve(items.head) match {
          case PStr(bs, _) => bs
          case _ => Array.emptyByteArray
        }
      case _ => Array.emptyByteArray
    }
    val (aes, keyLen) = v match {
      case 1 => (false, 5)
      case 2 =>
        val bits = numOr("Length", 40)
        if (bits < 40 || bits > 128 || bits % 8 != 0) throw Bad
        (false, bits / 8)
      case 4 =>
        // /CF << /StdCF << /CFM ... >> >> with /StmF & /StrF /StdCF
        val cf = doc.resolve(ed.getOrElse("CF", throw Bad)) match {
          case PDict(m) => m
          case _ => throw Bad
        }
        val stdCf = doc.resolve(cf.getOrElse("StdCF", throw Bad)) match {
          case PDict(m) => m
          case _ => throw Bad
        }
        doc.resolve(stdCf.getOrElse("CFM", throw Bad)) match {
          case PName("AESV2") => (true, 16)
          case PName("V2") => (false, numOr("Length", 128) / 8)
          case _ => throw Bad // AESV3/Identity/custom: refuse
        }
      case _ => throw Bad // V=3 (unpublished) and V=5 (AES-256): refuse
    }
    if (r < 2 || r > 4) throw Bad
    val key = fileKey(o, p, id0, r, keyLen, encMeta)
    val want = expectedU(key, id0, r)
    val cmp = if (r == 2) 32 else 16
    var i = 0
    while (i < cmp) {
      if (want(i) != u(i)) throw Bad // not the empty user password
      i += 1
    }
    new EncState(key, aes)
  }

  // ---------------------------------------------------------------
  // cross-reference loading
  // ---------------------------------------------------------------
  private def load(b: Array[Byte]): Doc = {
    if (b.length < 16) throw Bad
    // %PDF-1.x header at the very start
    if (!(b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' && b(4) == '-'))
      throw Bad
    // startxref: scan the last 1 KiB
    val tailFrom = math.max(0, b.length - 1024)
    val tail = new String(b, tailFrom, b.length - tailFrom,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) throw Bad
    val lx0 = new Lexer(b, tailFrom + sx + "startxref".length, b.length)
    lx0.skipWs()
    val firstOff = lx0.next() match { case p: PNum => p.l; case _ => throw Bad }
    val doc = new Doc(b)
    var off = firstOff
    var hops = 0
    val seen = scala.collection.mutable.HashSet.empty[Long]
    while (off >= 0 && hops < 64) {
      if (!seen.add(off)) throw Bad // xref cycle
      hops += 1
      off = loadSection(doc, off)
    }
    if (doc.trailer.isEmpty) throw Bad
    doc
  }

  /** Load one xref section (table or stream) at `off`; returns /Prev
    * offset or -1. Entries already present (from NEWER sections) win. */
  private def loadSection(doc: Doc, off: Long): Long = {
    val b = doc.b
    if (off < 0 || off >= b.length) throw Bad
    val lx = new Lexer(b, off.toInt, b.length)
    lx.skipWs()
    if (lx.startsWith("xref")) {
      lx.pos += 4
      // subsections until `trailer`
      var going = true
      while (going) {
        lx.skipWs()
        if (lx.startsWith("trailer")) {
          lx.pos += 7
          val t = lx.next() match { case PDict(m) => m; case _ => throw Bad }
          if (doc.trailer.isEmpty) doc.trailer = t
          return t.get("Prev") match {
            case Some(p: PNum) => p.l
            case _ => -1L
          }
        }
        val start = lx.next() match { case p: PNum => p.i; case _ => throw Bad }
        val count = lx.next() match { case p: PNum => p.i; case _ => throw Bad }
        if (count < 0 || count > 1000000) throw Bad
        lx.skipWs()
        // Spec rows are fixed 20 bytes: nnnnnnnnnn ggggg t + 2-char EOL
        // ("SP CR", "SP LF", or "CR LF"); single-char-EOL writers emit 19.
        // Detect the width ONCE per subsection from the first row's EOL
        // bytes — the old per-row "is the overshot byte a digit?" heuristic
        // mis-stepped on the LAST row of every 19-byte subsection, eating
        // the first byte of `trailer` (ADVICE r14).
        var rowLen = 20
        if (count > 0) {
          val p0 = lx.pos
          if (p0 + 19 > b.length) throw Bad
          val e0 = b(p0 + 18)
          rowLen =
            if (e0 == ' ') 20
            else if (e0 == '\r' && p0 + 19 < b.length && b(p0 + 19) == '\n') 20
            else if (e0 == '\r' || e0 == '\n') 19
            else throw Bad
        }
        var i = 0
        while (i < count) {
          val p = lx.pos
          if (p + 18 > b.length) throw Bad
          val o = new String(b, p, 10, java.nio.charset.StandardCharsets.ISO_8859_1)
          val typ = b(p + 17)
          if (!o.forall(c => c >= '0' && c <= '9')) throw Bad
          if (typ == 'n')
            doc.xref.getOrElseUpdate(start + i, Left(o.toLong))
          lx.pos = p + rowLen
          i += 1
        }
        going = true
      }
      -1L
    } else {
      // xref STREAM: `num gen obj << /Type /XRef ... >> stream`
      val n = lx.next() match { case p: PNum => p.i; case _ => throw Bad }
      lx.next() match { case _: PNum => (); case _ => throw Bad }
      lx.next() match { case POp("obj") => (); case _ => throw Bad }
      val dict = lx.next() match { case PDict(m) => m; case _ => throw Bad }
      doc.xref.getOrElseUpdate(n, Left(off)) // the XRef stream object itself
      val data = doc.decodeStream(dict, lx)
      val w = doc.resolve(dict.getOrElse("W", throw Bad)) match {
        case PArr(items) => items.map(doc.resolve).map {
          case p: PNum => p.i
          case _ => throw Bad
        }
        case _ => throw Bad
      }
      if (w.size < 3 || w.exists(x => x < 0 || x > 8)) throw Bad
      val size = doc.resolve(dict.getOrElse("Size", throw Bad)) match {
        case p: PNum => p.i
        case _ => throw Bad
      }
      val index = doc.resolve(dict.getOrElse("Index", PNull)) match {
        case PNull => Seq(0, size)
        case PArr(items) => items.map(doc.resolve).map {
          case p: PNum => p.i
          case _ => throw Bad
        }
        case _ => throw Bad
      }
      if (index.size % 2 != 0) throw Bad
      val rowLen = w.sum
      if (rowLen == 0) throw Bad
      var p = 0
      def field(width: Int): Long = {
        var v = 0L
        var k = 0
        while (k < width) { v = (v << 8) | (data(p) & 0xff); p += 1; k += 1 }
        v
      }
      index.grouped(2).foreach { case Seq(start, count) =>
        var i = 0
        while (i < count) {
          if (p + rowLen > data.length) throw Bad
          val t = if (w(0) == 0) 1L else field(w(0))
          val f2 = field(w(1))
          val f3 = field(w(2))
          val num = start + i
          t match {
            case 0 => () // free
            case 1 => doc.xref.getOrElseUpdate(num, Left(f2))
            case 2 => doc.xref.getOrElseUpdate(num, Right((f2.toInt, f3.toInt)))
            case _ => () // unknown type: skip per spec
          }
          i += 1
        }
      }
      if (doc.trailer.isEmpty) doc.trailer = dict
      dict.get("Prev") match {
        case Some(pn: PNum) => pn.l
        case _ => -1L
      }
    }
  }

  // ---------------------------------------------------------------
  // public kernels
  // ---------------------------------------------------------------
  private def version(b: Array[Byte]): String = {
    var i = 5
    val sb = new StringBuilder
    while (i < b.length && b(i) != '\r' && b(i) != '\n' && sb.length < 8) {
      sb.append((b(i) & 0xff).toChar); i += 1
    }
    if (!sb.toString.matches("\\d+\\.\\d+")) throw Bad
    sb.toString
  }

  private def pagesRoot(doc: Doc): Map[String, Obj] = {
    val root = doc.resolve(doc.trailer.getOrElse("Root", throw Bad)) match {
      case PDict(m) => m
      case _ => throw Bad
    }
    doc.resolve(root.getOrElse("Pages", throw Bad)) match {
      case PDict(m) => m
      case _ => throw Bad
    }
  }

  /** (version, n_pages, encrypted) or null. */
  def meta(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    try {
      val doc = load(b)
      val v = version(b)
      val pages = pagesRoot(doc)
      val count = doc.resolve(pages.getOrElse("Count", throw Bad)) match {
        case p: PNum => p.i
        case _ => throw Bad
      }
      if (count < 0) throw Bad
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(v), count, doc.trailer.contains("Encrypt")))
    } catch { case Refused() => null }
  }

  /** PDFDocEncoding ≈ Latin-1 literal strings; BOM-tagged UTF-16BE hex. */
  private def decodeStr(s: PStr): String = {
    val bs = s.bytes
    if (s.hex && bs.length >= 2 && (bs(0) & 0xff) == 0xfe && (bs(1) & 0xff) == 0xff)
      new String(bs, 2, bs.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bs, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  // ---------------------------------------------------------------
  // ToUnicode CMaps (round 16, ISO 32000-1 §9.10.3): composite-font
  // glyph-code strings translate through the font's /ToUnicode CMap
  // when one is present — most post-2010 PDFs use Type0 fonts whose
  // Tj/TJ operands are glyph indexes, unreadable without this map.
  // Fonts WITHOUT a ToUnicode stay on the documented Latin-1
  // passthrough (not translatable by any extractor without the font).
  // ---------------------------------------------------------------
  /** One parsed ToUnicode CMap: codespace ranges determine the code
    * byte width (1–4, byte-wise prefix match per the spec's algorithm);
    * bfchar/bfrange entries map codes to UTF-16BE strings. Codes
    * inside the codespace but unmapped render U+FFFD — visible, never
    * silently dropped. */
  private[graft] final class ToUni {
    // per-width: (lo, hi) byte-bound ranges and code -> string maps
    private val ranges: Array[List[(Array[Byte], Array[Byte])]] =
      Array.fill(5)(Nil)
    private val maps = Array.fill(5)(
      new java.util.HashMap[Integer, String]())
    private var anyRange = false

    def addRange(lo: Array[Byte], hi: Array[Byte]): Unit = {
      val w = lo.length
      if (w >= 1 && w <= 4 && hi.length == w) {
        ranges(w) = (lo, hi) :: ranges(w); anyRange = true
      }
    }
    def put(src: Array[Byte], dst: String): Unit = {
      val w = src.length
      if (w >= 1 && w <= 4) maps(w).put(beInt(src), dst)
    }
    private def beInt(bs: Array[Byte]): Int = {
      var v = 0; var i = 0
      while (i < bs.length) { v = (v << 8) | (bs(i) & 0xff); i += 1 }
      v
    }
    private def inRange(bs: Array[Byte], off: Int, w: Int): Boolean =
      ranges(w).exists { case (lo, hi) =>
        var ok = true; var i = 0
        while (ok && i < w) {
          val b = bs(off + i) & 0xff
          ok = b >= (lo(i) & 0xff) && b <= (hi(i) & 0xff)
          i += 1
        }
        ok
      }
    /** Skip width on a codespace miss (ISO 32000-1 §9.7.6.3, ADVICE
      * r16): the width of the range with the LONGEST partial initial-
      * byte match, so a stray byte in a 2-byte-code font consumes the
      * code width instead of desynchronizing the rest of the string;
      * no partial match at all falls back to 1 byte. Ties keep the
      * narrowest width. */
    private def partialSkip(bs: Array[Byte], off: Int): Int = {
      var bestW = 1; var bestM = 0
      var w = 1
      while (w <= 4) {
        ranges(w).foreach { case (lo, hi) =>
          var m = 0; var ok = true
          while (ok && m < w && off + m < bs.length) {
            val b = bs(off + m) & 0xff
            if (b >= (lo(m) & 0xff) && b <= (hi(m) & 0xff)) m += 1
            else ok = false
          }
          if (m > bestM) { bestM = m; bestW = w }
        }
        w += 1
      }
      if (bestM == 0) 1 else math.max(1, math.min(bestW, bs.length - off))
    }

    /** Widths to try when the CMap declares no codespace (malformed
      * but seen in the wild): the widths its mappings actually use. */
    private lazy val mappedWidths: Array[Int] =
      (1 to 4).filter(w => !maps(w).isEmpty).toArray

    /** No mappings at all (garbage or stub stream): the caller falls
      * back to the Latin-1 passthrough rather than all-U+FFFD. */
    def isEmpty: Boolean = (1 to 4).forall(w => maps(w).isEmpty)

    def decode(bs: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(bs.length)
      var i = 0
      while (i < bs.length) {
        var w = 0
        if (anyRange) {
          var k = 1
          while (w == 0 && k <= 4) {
            if (i + k <= bs.length && inRange(bs, i, k)) w = k
            k += 1
          }
        } else {
          var k = 0
          while (w == 0 && k < mappedWidths.length) {
            val mw = mappedWidths(k)
            if (i + mw <= bs.length &&
                maps(mw).containsKey(beInt(java.util.Arrays
                  .copyOfRange(bs, i, i + mw)))) w = mw
            k += 1
          }
        }
        if (w == 0) {
          sb.append('�')
          i += (if (anyRange) partialSkip(bs, i) else 1)
        }
        else {
          val s = maps(w).get(beInt(
            java.util.Arrays.copyOfRange(bs, i, i + w)))
          sb.append(if (s != null) s else "�")
          i += w
        }
      }
      sb.toString
    }
  }

  /** UTF-16BE destination string of a CMap hex operand; odd lengths
    * (malformed) fall back to Latin-1 rather than throwing. */
  private def cmapDst(bs: Array[Byte]): String =
    if (bs.length % 2 == 0)
      new String(bs, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bs, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Big-endian increment of `bs` by `add` (bfrange successors). */
  private def beAdd(bs: Array[Byte], add: Int): Array[Byte] = {
    val r = bs.clone()
    var carry = add
    var i = r.length - 1
    while (i >= 0 && carry != 0) {
      val v = (r(i) & 0xff) + carry
      r(i) = (v & 0xff).toByte
      carry = v >>> 8
      i -= 1
    }
    r
  }

  private val MaxBfRange = 65536

  /** Parse a ToUnicode CMap stream (PostScript-ish; the object lexer
    * reads its hex strings, names and numbers natively — unknown
    * operators are skipped). */
  private[graft] def parseToUnicode(data: Array[Byte]): ToUni = {
    val t = new ToUni
    try parseToUnicodeInto(t, data)
    catch { case _: Exception => () }
    // a lex error mid-CMap keeps what parsed so far; a CMap that
    // yielded nothing falls back to passthrough at the caller
    t
  }

  private def parseToUnicodeInto(t: ToUni, data: Array[Byte]): Unit = {
    val lx = new Lexer(data, 0, data.length)
    val operands = scala.collection.mutable.ArrayBuffer.empty[Obj]
    var section = "" // "", codespace, bfchar, bfrange
    while ({ lx.skipWs(); lx.pos < lx.end }) {
      lx.next() match {
        case POp("begincodespacerange") => section = "codespace"; operands.clear()
        case POp("beginbfchar") => section = "bfchar"; operands.clear()
        case POp("beginbfrange") => section = "bfrange"; operands.clear()
        case POp("endcodespacerange") | POp("endbfchar") |
             POp("endbfrange") =>
          section = ""; operands.clear()
        case s: PStr if section == "codespace" =>
          operands += s
          if (operands.length == 2) {
            (operands(0), operands(1)) match {
              case (lo: PStr, hi: PStr) => t.addRange(lo.bytes, hi.bytes)
              case _ => ()
            }
            operands.clear()
          }
        case s: PStr if section == "bfchar" =>
          operands += s
          if (operands.length == 2) {
            (operands(0), operands(1)) match {
              case (src: PStr, dst: PStr) =>
                t.put(src.bytes, cmapDst(dst.bytes))
              case _ => ()
            }
            operands.clear()
          }
        case o @ (_: PStr | _: PArr) if section == "bfrange" =>
          operands += o
          if (operands.length == 3) {
            (operands(0), operands(1), operands(2)) match {
              case (lo: PStr, hi: PStr, dst) if lo.bytes.length == hi.bytes.length =>
                val w = lo.bytes.length
                var loV = 0L; var hiV = 0L
                lo.bytes.foreach(b => loV = (loV << 8) | (b & 0xff))
                hi.bytes.foreach(b => hiV = (hiV << 8) | (b & 0xff))
                val n = hiV - loV
                if (n >= 0 && n < MaxBfRange) dst match {
                  case d: PStr =>
                    var k = 0L
                    while (k <= n) {
                      t.put(beAdd(lo.bytes, k.toInt),
                        cmapDst(beAdd(d.bytes, k.toInt)))
                      k += 1
                    }
                  case PArr(items) =>
                    var k = 0
                    while (k <= n && k < items.length) {
                      items(k) match {
                        case d: PStr =>
                          t.put(beAdd(lo.bytes, k), cmapDst(d.bytes))
                        case _ => ()
                      }
                      k += 1
                    }
                  case _ => ()
                }
              case _ => ()
            }
            operands.clear()
          }
        case _ => operands.clear() // any other token resets the tuple
      }
    }
  }

  /** Text-showing walk of one content stream, appended to `out`.
    * `fonts` maps resource names of fonts carrying a /ToUnicode CMap;
    * the `Tf` operator switches the active map (null = the documented
    * Latin-1 passthrough for unmapped fonts). */
  private def extractOps(data: Array[Byte], out: StringBuilder,
                         fonts: Map[String, ToUni]): Unit = {
    val lx = new Lexer(data, 0, data.length)
    val operands = scala.collection.mutable.ArrayBuffer.empty[Obj]
    var cur: ToUni = null
    def show(s: PStr): Unit =
      out.append(if (cur != null) cur.decode(s.bytes) else decodeStr(s))
    while ({ lx.skipWs(); lx.pos < lx.end }) {
      lx.next() match {
        case POp(op) =>
          op match {
            case "Tf" =>
              if (operands.length >= 2) operands(operands.length - 2) match {
                case PName(n) => cur = fonts.getOrElse(n, null)
                case _ => ()
              }
            case "Tj" => operands.lastOption.foreach {
              case s: PStr => show(s)
              case _ => ()
            }
            case "'" =>
              out.append('\n')
              operands.lastOption.foreach {
                case s: PStr => show(s)
                case _ => ()
              }
            case "\"" =>
              out.append('\n')
              operands.lastOption.foreach {
                case s: PStr => show(s)
                case _ => ()
              }
            case "TJ" => operands.lastOption.foreach {
              case PArr(items) => items.foreach {
                case s: PStr => show(s)
                case _ => () // kerning numbers
              }
              case _ => ()
            }
            case "Td" | "TD" | "T*" => out.append('\n')
            case _ => () // every other operator: positioning/paint/state
          }
          operands.clear()
        case o => operands += o
      }
    }
  }

  // ---------------------------------------------------------------
  // embedded images (round 17, VERDICT r16 #9): image XObjects sliced
  // out of the object walk and routed into the near-dup tier.
  // ---------------------------------------------------------------
  /** [[images]] element type: (obj, format, width, height, data).
    * `format`: `jpeg` = the DCTDecode payload verbatim (a standalone
    * JFIF stream for [[JpegKernels]]/dhash); `ppm`/`pgm` = decoded
    * DeviceRGB/DeviceGray rasters re-framed as binary P6/P5 (1-bit
    * gray rows expand, byte-aligned per §8.9.5.2); `unsupported` =
    * an image the extractor recognizes but does not decode (Indexed/
    * ICC/CMYK/JPX/JBIG2/CCITT/ImageMask), surfaced with NULL data
    * rather than silently dropped. */
  val imageSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("obj", IntegerType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("data", BinaryType, nullable = true)))
  }

  private def pnm(magic: String, w: Int, h: Int,
                  px: Array[Byte]): Array[Byte] =
    s"$magic\n$w $h\n255\n".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII) ++ px

  /** Embedded image XObjects of the whole document in object-number
    * order, or null for anything the fail-closed walk can't vouch for
    * (including encrypted docs without an empty user password). */
  def images(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null) return null
    try {
      val doc = load(b)
      if (doc.trailer.contains("Encrypt")) doc.enc = setupEnc(doc)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      def emit(num: Int, fmt: String, w: Int, h: Int,
               data: Array[Byte]): Unit =
        out += new GenericInternalRow(Array[Any](
          num, UTF8String.fromString(fmt),
          if (w >= 0) w else null, if (h >= 0) h else null, data))
      doc.xref.keys.toVector.sorted.foreach { num =>
        doc.rawStreamObject(num).foreach { case (dict, raw) =>
          val isImage = doc.resolve(dict.getOrElse("Subtype", PNull)) match {
            case PName("Image") => true
            case _ => false
          }
          if (isImage) {
            def intOf(k: String, dflt: Int): Int =
              dict.get(k).map(doc.resolve) match {
                case Some(p: PNum) => p.i
                case None => dflt
                case _ => throw Bad
              }
            val w = intOf("Width", -1)
            val h = intOf("Height", -1)
            if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) throw Bad
            val bpc = intOf("BitsPerComponent", 8)
            val mask = doc.resolve(dict.getOrElse("ImageMask", PNull)) match {
              case PBool(x) => x
              case _ => false
            }
            val cs = doc.resolve(dict.getOrElse("ColorSpace", PNull))
            val (filters, parms) = doc.filterChain(dict)
            if (filters.lastOption.contains("DCTDecode")) {
              val jpeg = doc.applyFilterList(
                filters.dropRight(1), parms.dropRight(1), raw)
              emit(num, "jpeg", w, h, jpeg)
            } else (cs, bpc, mask) match {
              case (PName("DeviceRGB"), 8, false) =>
                val px = doc.applyFilterList(filters, parms, raw)
                if (px.length < w * h * 3) throw Bad
                emit(num, "ppm", w, h,
                  pnm("P6", w, h, java.util.Arrays.copyOf(px, w * h * 3)))
              case (PName("DeviceGray"), 8, false) =>
                val px = doc.applyFilterList(filters, parms, raw)
                if (px.length < w * h) throw Bad
                emit(num, "pgm", w, h,
                  pnm("P5", w, h, java.util.Arrays.copyOf(px, w * h)))
              case (PName("DeviceGray"), 1, false) =>
                val px = doc.applyFilterList(filters, parms, raw)
                val rowBytes = (w + 7) / 8
                if (px.length < rowBytes * h) throw Bad
                val gray = new Array[Byte](w * h)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val bit = (px(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
                    gray(y * w + x) = if (bit != 0) 0xFF.toByte else 0x00
                    x += 1
                  }
                  y += 1
                }
                emit(num, "pgm", w, h, pnm("P5", w, h, gray))
              case _ =>
                emit(num, "unsupported", w, h, null)
            }
          }
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    } catch { case Refused() => null }
  }

  /** Extracted text of the whole document, or null (fail-closed —
    * including encrypted docs and unsupported filters). */
  def text(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    try {
      val doc = load(b)
      // r17: encrypted docs with an EMPTY user password (the
      // owner-password-only majority) decrypt; anything else throws
      // Bad inside setupEnc and stays NULL
      if (doc.trailer.contains("Encrypt")) doc.enc = setupEnc(doc)
      val out = new StringBuilder
      var pageCount = 0
      val visited = scala.collection.mutable.HashSet.empty[Int]
      // ToUnicode CMaps cached per /ToUnicode stream object — shared
      // font dicts across pages parse once
      val cmapCache = scala.collection.mutable.HashMap.empty[Int, ToUni]
      def fontsOf(res: Obj): Map[String, ToUni] =
        doc.resolve(res) match {
          case PDict(r) => doc.resolve(r.getOrElse("Font", PNull)) match {
            case PDict(fm) => fm.flatMap { case (name, fo) =>
              doc.resolve(fo) match {
                case PDict(fd) => fd.get("ToUnicode") match {
                  case Some(PRef(n, _)) =>
                    val cm = cmapCache.getOrElseUpdate(n,
                      parseToUnicode(doc.streamBytes(n)))
                    // empty/garbage CMap: fall back to passthrough
                    if (cm.isEmpty) None else Some(name -> cm)
                  case _ => None // no ToUnicode: Latin-1 passthrough
                }
                case _ => None
              }
            }
            case _ => Map.empty
          }
          case _ => Map.empty
        }
      def contents(page: Map[String, Obj], inheritedRes: Obj): Unit = {
        // /Resources inherits down the page tree (ISO 32000-1 §7.7.3.4)
        val fonts = fontsOf(page.getOrElse("Resources", inheritedRes))
        doc.resolve(page.getOrElse("Contents", PNull)) match {
          case PNull => ()
          case PDict(_) => page.get("Contents") match {
            case Some(PRef(n, _)) => extractOps(doc.streamBytes(n), out, fonts)
            case _ => throw Bad // direct stream dicts can't carry data here
          }
          case PArr(items) => items.foreach {
            case PRef(n, _) =>
              extractOps(doc.streamBytes(n), out, fonts)
              out.append('\n')
            case _ => throw Bad
          }
          case _ => throw Bad
        }
      }
      def walk(node: Map[String, Obj], depth: Int, inheritedRes: Obj): Unit = {
        if (depth > 64) throw Bad
        val res = node.getOrElse("Resources", inheritedRes)
        doc.resolve(node.getOrElse("Type", PNull)) match {
          case PName("Page") =>
            pageCount += 1
            if (pageCount > MaxPages) throw Bad
            if (out.nonEmpty) out.append('\n')
            contents(node, inheritedRes)
          case PName("Pages") =>
            doc.resolve(node.getOrElse("Kids", throw Bad)) match {
              case PArr(kids) => kids.foreach { k =>
                k match {
                  case PRef(n, _) =>
                    if (!visited.add(n)) throw Bad // page-tree cycle
                  case _ => ()
                }
                doc.resolve(k) match {
                  case PDict(m) => walk(m, depth + 1, res)
                  case _ => throw Bad
                }
              }
              case _ => throw Bad
            }
          case _ => throw Bad
        }
      }
      walk(pagesRoot(doc), 0, PNull)
      UTF8String.fromString(out.toString)
    } catch { case Refused() => null }
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization — the key-maker for crawl-corpus URL dedup,
  * host-level aggregation, and frontier politeness grouping. At 100 TB
  * of crawl data the URL column is joined/grouped constantly; a
  * deterministic canonical form is what makes `http://EXAMPLE.com:80/a`
  * and `http://example.com/a?utm_source=x` the same key.
  *
  * One O(bytes) pass per URL, no regex, never throws. Normalization
  * (each step deterministic and replayable by construction arithmetic
  * in the oracle):
  *
  *  - scheme and host lowercased (scheme must match
  *    `ALPHA (ALPHA/DIGIT/+/-/.)*` followed by `://`, else the URL is
  *    unparseable → NULL — fail-closed, like the media triage tier);
  *  - userinfo (`user:pw@`) kept verbatim; IPv6 `[…]` hosts kept
  *    bracketed (lowercased);
  *  - the scheme's default port is stripped (http 80, https 443,
  *    ftp 21); other ports kept; a non-numeric or > 65535 port makes
  *    the URL unparseable → NULL;
  *  - the fragment is dropped;
  *  - query parameters: empty params dropped, tracking params removed
  *    (name starting `utm_` case-insensitively, or exactly `fbclid` /
  *    `gclid` / `msclkid`), the rest sorted bytewise by their full
  *    `name=value` text (a stable canonical order that needs no
  *    value parsing); an emptied query drops the `?`;
  *  - path: RFC 3986 §5.2.4 remove_dot_segments; empty path → `/`;
  *    duplicate slashes are KEPT (they are semantically significant
  *    to origin servers — this is canonicalization, not repair);
  *  - percent-encoding in path and query: `%xx` decoded when the
  *    octet is unreserved (ALPHA / DIGIT / `-._~`, RFC 3986 §6.2.2.2),
  *    otherwise hex uppercased; a malformed escape is kept verbatim.
  *
  * IDN hosts fold to their punycode ACE form (round 14, RFC 3492):
  * `bücher.example` and `xn--bcher-kva.example` share one dedup key.
  * Out of scope, documented: full IDNA2008 mapping (bidi, contextual
  * joiners — upstream NFC + lowercase covers crawl canonicalization)
  * and public-suffix-list apex extraction (the `apex` field is the
  * last-two-labels heuristic — callers with a PSL join one in).
  */
object UrlKernels {

  private val DefaultPorts = Map("http" -> 80, "https" -> 443, "ftp" -> 21)
  private val TrackingExact = Set("fbclid", "gclid", "msclkid")

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isUnreserved(c: Char): Boolean =
    isAlpha(c) || isDigit(c) || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** `%xx` normalization over one component: decode unreserved octets,
    * uppercase the rest, keep malformed escapes verbatim. */
  private def normEscapes(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (v < 0x80 && isUnreserved(v.toChar)) b.append(v.toChar)
        else {
          b.append('%')
          b.append(java.lang.Character.toUpperCase(s.charAt(i + 1)))
          b.append(java.lang.Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[graft] def removeDotSegments(path: String): String = {
    val out = new java.util.ArrayDeque[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) {
        in = "/" + in.substring(4)
        if (!out.isEmpty) out.removeLast()
      } else if (in == "/..") {
        in = "/"
        if (!out.isEmpty) out.removeLast()
      } else if (in == "." || in == "..") in = ""
      else {
        val from = if (in.startsWith("/")) 1 else 0
        val slash = in.indexOf('/', from)
        val seg = if (slash < 0) in else in.substring(0, slash)
        out.addLast(seg)
        in = if (slash < 0) "" else in.substring(slash)
      }
    }
    val b = new StringBuilder
    out.forEach(s => b.append(s))
    b.toString
  }

  /** Canonical query: drop empties and tracking params, normalize
    * escapes, sort bytewise; null when nothing survives. */
  private def normQuery(q: String): String = {
    if (q.isEmpty) return null
    val kept = q.split("&", -1).toSeq
      .filter(_.nonEmpty)
      .map(normEscapes)
      .filterNot { p =>
        val name = {
          val eq = p.indexOf('=')
          (if (eq < 0) p else p.substring(0, eq)).toLowerCase
        }
        name.startsWith("utm_") || TrackingExact.contains(name)
      }
      // BYTEWISE order (the documented + oracle contract), not String's
      // UTF-16 code-unit order: they differ for non-BMP characters
      // (surrogates sort below U+E000–U+FFFF in UTF-16 but above in
      // UTF-8 bytes), and a divergent canonical key splits dedup
      // groups across engines. Code-point comparison == UTF-8 bytewise.
      .sortWith((a, b) => codePointCompare(a, b) < 0)
    if (kept.isEmpty) null else kept.mkString("&")
  }

  /** RFC 3492 punycode of one (already-lowercased, non-ASCII) label —
    * the bootstring algorithm with the RFC's parameters verbatim
    * (base 36, tmin 1, tmax 26, skew 38, damp 700, initial bias 72,
    * initial n 128). Verified against `java.net.IDN.toASCII` across a
    * fuzz corpus (UrlPartsSpec). */
  private def punycodeLabel(label: String): String = {
    val cps = label.codePoints().toArray
    val out = new StringBuilder
    cps.foreach(c => if (c < 128) out.append(c.toChar))
    val b = out.length
    var h = b
    if (b > 0) out.append('-')
    var n = 128
    var delta = 0L
    var bias = 72
    def adapt(d0: Long, numpoints: Int, first: Boolean): Int = {
      var d = if (first) d0 / 700 else d0 / 2
      d += d / numpoints
      var k = 0
      while (d > (35 * 26) / 2) { d /= 35; k += 36 }
      k + ((36 * d) / (d + 38)).toInt
    }
    def digit(d: Long): Char =
      if (d < 26) ('a' + d).toChar else ('0' + d - 26).toChar
    while (h < cps.length) {
      var m = Int.MaxValue
      cps.foreach(c => if (c >= n && c < m) m = c)
      delta += (m - n).toLong * (h + 1)
      n = m
      cps.foreach { c =>
        if (c < n) delta += 1
        if (c == n) {
          var q = delta
          var k = 36
          var going = true
          while (going) {
            val t = if (k <= bias) 1 else if (k >= bias + 26) 26 else k - bias
            if (q < t) going = false
            else {
              out.append(digit(t + (q - t) % (36 - t)))
              q = (q - t) / (36 - t)
              k += 36
            }
          }
          out.append(digit(q))
          bias = adapt(delta, h + 1, h == b)
          delta = 0
          h += 1
        }
      }
      delta += 1
      n += 1
    }
    out.toString
  }

  /** IDN host folding (round 14): non-ASCII labels become their
    * `xn--` punycode ACE form, per label, after the lowercase — so
    * `bücher.example` and `xn--bcher-kva.example` canonicalize to the
    * SAME dedup key. ASCII hosts pass untouched (the overwhelmingly
    * common case pays one scan). IDNA2003/2008 mapping subtleties
    * (bidi rules, contextual joiners) are out of scope — upstream NFC
    * (`nfc_normalize`) plus lowercase covers the crawl-canonicalization
    * need; a label the encoder cannot improve is kept verbatim. */
  private[graft] def idnaHost(host: String): String = {
    var ascii = true
    var i = 0
    while (ascii && i < host.length) {
      if (host.charAt(i) >= 128) ascii = false
      i += 1
    }
    if (ascii) return host
    host.split("\\.", -1).map { l =>
      if (l.forall(_ < 128)) l else "xn--" + punycodeLabel(l)
    }.mkString(".")
  }

  /** Code-point lexicographic comparison — identical to comparing the
    * two strings' UTF-8 byte sequences (UTF-8 preserves code-point
    * order), without allocating the byte arrays. */
  private def codePointCompare(a: String, b: String): Int = {
    var i = 0
    val la = a.length; val lb = b.length
    while (i < la && i < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(la, lb) // prefix-equal: shorter first, both orders
  }

  /** RFC 3986 §5.2 reference resolution: the absolute form of `ref`
    * against `base` — the step between [[Kernels.htmlLinks]]
    * (which yields relative hrefs verbatim) and [[urlParts]] (which
    * needs absolute URLs). Strict-mode RFC semantics, validated
    * against the RFC's own §5.4 normal AND abnormal examples:
    *
    *  - a ref with its own scheme is returned as-is;
    *  - `//authority…` adopts the base scheme; `/rooted` and
    *    `relative` paths merge per §5.2.3 + remove_dot_segments;
    *  - `?query` keeps the base path; an empty ref or `#frag` keeps
    *    base path AND query (same-document reference);
    *  - the base's fragment never survives; the ref's does (a later
    *    [[urlParts]] canonicalization drops it — resolution and
    *    normalization stay separate steps, as in the RFC).
    *
    * NULL when the base is unparseable (no scheme) — fail-closed like
    * [[urlParts]]. The output is the raw absolute URL, NOT normalized.
    */
  def resolve(baseU: UTF8String, refU: UTF8String): UTF8String = {
    val base = baseU.toString.trim
    val ref = refU.toString.trim
    // ref with a scheme stands alone
    if (ref.nonEmpty && isAlpha(ref.charAt(0))) {
      var i = 1
      while (i < ref.length && (isAlpha(ref.charAt(i)) || isDigit(ref.charAt(i)) ||
        ref.charAt(i) == '+' || ref.charAt(i) == '-' || ref.charAt(i) == '.')) i += 1
      if (i < ref.length && ref.charAt(i) == ':')
        return UTF8String.fromString(ref)
    }
    // parse base: scheme://authority path [?query] [#fragment]
    if (base.isEmpty || !isAlpha(base.charAt(0))) return null
    var i = 1
    while (i < base.length && (isAlpha(base.charAt(i)) || isDigit(base.charAt(i)) ||
      base.charAt(i) == '+' || base.charAt(i) == '-' || base.charAt(i) == '.')) i += 1
    if (i + 2 >= base.length || base.charAt(i) != ':' ||
      base.charAt(i + 1) != '/' || base.charAt(i + 2) != '/') return null
    val scheme = base.substring(0, i)
    val rest = base.substring(i + 3)
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' &&
      rest.charAt(aEnd) != '?' && rest.charAt(aEnd) != '#') aEnd += 1
    val authority = rest.substring(0, aEnd)
    if (authority.isEmpty) return null
    val tail = rest.substring(aEnd)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt < 0) tail else tail.substring(0, hashAt)
    val qAt = noFrag.indexOf('?')
    val basePath = if (qAt < 0) noFrag else noFrag.substring(0, qAt)
    val baseQuery = if (qAt < 0) "" else noFrag.substring(qAt) // incl '?'

    val root = scheme + "://" + authority
    val out =
      if (ref.isEmpty) root + basePath + baseQuery
      else if (ref.startsWith("#")) root + basePath + baseQuery + ref
      else if (ref.startsWith("//")) scheme + ":" + ref
      else if (ref.startsWith("?")) root + basePath + ref
      else {
        // split ref into path [?query][#fragment]; resolve the path part
        val rHash = ref.indexOf('#')
        val rNoFrag = if (rHash < 0) ref else ref.substring(0, rHash)
        val rFrag = if (rHash < 0) "" else ref.substring(rHash)
        val rqAt = rNoFrag.indexOf('?')
        val rPath = if (rqAt < 0) rNoFrag else rNoFrag.substring(0, rqAt)
        val rQuery = if (rqAt < 0) "" else rNoFrag.substring(rqAt)
        val merged =
          if (rPath.startsWith("/")) rPath
          else {
            // §5.2.3: base path up to (and including) its last '/';
            // a base with an authority and an empty path merges as "/"
            val slash = basePath.lastIndexOf('/')
            (if (slash < 0) "/" else basePath.substring(0, slash + 1)) + rPath
          }
        root + removeDotSegments(merged) + rQuery + rFrag
      }
    UTF8String.fromString(out)
  }

  /** Parse + canonicalize; null for anything unparseable.
    * Returns struct(normalized, scheme, host, port, path, query, apex)
    * — see the object Scaladoc for field semantics. */
  def urlParts(u: UTF8String): InternalRow = {
    val s = u.toString.trim
    // scheme
    if (s.isEmpty || !isAlpha(s.charAt(0))) return null
    var i = 1
    while (i < s.length && (isAlpha(s.charAt(i)) || isDigit(s.charAt(i)) ||
      s.charAt(i) == '+' || s.charAt(i) == '-' || s.charAt(i) == '.')) i += 1
    if (i + 2 >= s.length || s.charAt(i) != ':' ||
      s.charAt(i + 1) != '/' || s.charAt(i + 2) != '/') return null
    val scheme = s.substring(0, i).toLowerCase
    val rest = s.substring(i + 3)

    // authority ends at the first '/', '?', or '#'
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' &&
      rest.charAt(aEnd) != '?' && rest.charAt(aEnd) != '#') aEnd += 1
    val authority = rest.substring(0, aEnd)
    if (authority.isEmpty) return null
    val tail = rest.substring(aEnd)

    // userinfo
    val at = authority.lastIndexOf('@')
    val userinfo = if (at < 0) "" else authority.substring(0, at + 1)
    val hostport = authority.substring(at + 1)
    if (hostport.isEmpty) return null

    // host (IPv6 bracketed) + port
    var host: String = null
    var portStr: String = null
    if (hostport.charAt(0) == '[') {
      val close = hostport.indexOf(']')
      if (close < 0) return null
      host = hostport.substring(0, close + 1).toLowerCase
      val after = hostport.substring(close + 1)
      if (after.startsWith(":")) portStr = after.substring(1)
      else if (after.nonEmpty) return null
    } else {
      val colon = hostport.indexOf(':')
      if (colon < 0) host = idnaHost(hostport.toLowerCase)
      else {
        host = idnaHost(hostport.substring(0, colon).toLowerCase)
        portStr = hostport.substring(colon + 1)
      }
      if (host.isEmpty) return null
    }
    var port = -1
    if (portStr != null) {
      if (portStr.isEmpty || portStr.length > 5 || !portStr.forall(isDigit))
        return null
      port = portStr.toInt
      if (port > 65535) return null
    }
    val defPort = DefaultPorts.getOrElse(scheme, -1)
    val effPort = if (port >= 0) port else defPort

    // split tail into path / query / fragment(dropped)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt < 0) tail else tail.substring(0, hashAt)
    val qAt = noFrag.indexOf('?')
    val rawPath = if (qAt < 0) noFrag else noFrag.substring(0, qAt)
    val rawQuery = if (qAt < 0) null else noFrag.substring(qAt + 1)

    val path = {
      val p = removeDotSegments(normEscapes(rawPath))
      if (p.isEmpty) "/" else p
    }
    val query = if (rawQuery == null) null else normQuery(rawQuery)

    val norm = new StringBuilder(s.length)
    norm.append(scheme).append("://").append(userinfo).append(host)
    if (port >= 0 && port != defPort) norm.append(':').append(port)
    norm.append(path)
    if (query != null) norm.append('?').append(query)

    val apex = {
      val h = if (host.startsWith("[")) host
      else {
        val parts = host.split("\\.", -1)
        if (parts.length >= 2 && parts.forall(_.nonEmpty))
          parts(parts.length - 2) + "." + parts(parts.length - 1)
        else host
      }
      h
    }

    new GenericInternalRow(Array[Any](
      UTF8String.fromString(norm.toString),
      UTF8String.fromString(scheme),
      UTF8String.fromString(host),
      if (effPort >= 0) effPort else null,
      UTF8String.fromString(path),
      if (query == null) null else UTF8String.fromString(query),
      UTF8String.fromString(apex)))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** WARC (ISO 28500) record parsing — the container CommonCrawl and
  * every serious web archive actually ship. The ingest shape: read
  * `.warc`/`.warc.gz` files as whole binary blobs (`binaryFile`
  * source), explode [[records]] into one row per record, split HTTP
  * response payloads with [[httpParts]], and the rest of the crawl
  * front-end (decode_text → html_extract/html_links → quality →
  * robots → dedup) takes over. Pure JVM, one pass, fail-closed.
  *
  * [[records]] contract:
  *  - a gzip blob (1F 8B magic) is inflated first — WARC members are
  *    conventionally per-record gzip members, and the JDK inflater is
  *    driven member-by-member across the concatenation; inflation is
  *    zip-bomb-guarded (≤ max(64 MiB, 200× compressed) or NULL);
  *  - records are `WARC/1.x CRLF header-lines CRLF CRLF payload
  *    [Content-Length] CRLF CRLF`; header names case-insensitive;
  *    a missing/invalid Content-Length, a truncated payload, a
  *    malformed version line, or trailing non-record garbage makes
  *    the WHOLE blob NULL (a partially-readable archive must be
  *    visible, not silently half-ingested — the media-triage
  *    contract);
  *  - each record yields (warc_type, target_uri, content_type,
  *    payload); absent headers are NULL fields, the record stays.
  *
  * [[httpParts]] splits an application/http payload at the first
  * CRLFCRLF: (status, content_type, body) — status from the
  * `HTTP/x.y NNN` line, NULL for a payload that isn't HTTP. The body
  * is decoded to its identity representation (round 14):
  * `Transfer-Encoding: chunked` is de-chunked (RFC 9112 §7.1,
  * extensions and trailers accepted, bad framing → NULL), then
  * `Content-Encoding: gzip|x-gzip|deflate` is inflated under the same
  * zip-bomb guard as [[records]]; a body whose declared codings can't
  * be decoded bit-exactly — including br/zstd/unknown tokens — comes
  * back NULL, never as raw undecoded bytes (fail-closed per record).
  */
object WarcKernels {

  import Decode.{MaxInflate, Refused, inflateCapped, leU16, leU32}

  /** Index past the gzip member header starting at `pos` (RFC 1952:
    * magic, CM=8, FLG with FEXTRA/FNAME/FCOMMENT/FHCRC), or -1 on
    * anything malformed/truncated. */
  private def gzipHeaderEnd(b: Array[Byte], pos: Int): Int = {
    if (pos + 10 > b.length) return -1
    if ((b(pos) & 0xff) != 0x1f || (b(pos + 1) & 0xff) != 0x8b) return -1
    if ((b(pos + 2) & 0xff) != 8) return -1 // CM: deflate only
    val flg = b(pos + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved bits must be zero
    var i = pos + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (i + 2 > b.length) return -1
      i += 2 + leU16(b, i)
      if (i > b.length) return -1
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) return -1
      i += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) return -1
      i += 1
    }
    if ((flg & 2) != 0) i += 2 // FHCRC
    if (i > b.length) -1 else i
  }

  /** Concatenated-member gzip inflate with a zip-bomb guard; null on
    * any corruption or on blowing the cap.
    *
    * The Inflater is driven member-by-member BY HAND (not
    * GZIPInputStream): the JDK silently treats garbage — or a
    * corrupted second member header — after a valid member as
    * end-of-stream, which would inflate a damaged multi-member
    * .warc.gz to a valid prefix and half-ingest the archive. Here
    * every byte of the blob must be consumed by a complete,
    * CRC32+ISIZE-verified member or the whole blob is NULL — the
    * fail-closed contract [[records]] documents. */
  def gunzipAll(b: Array[Byte]): Array[Byte] = {
    // An empty blob is not a valid gzip stream (no member header); the
    // member loop below would otherwise never run and "decode" it to
    // empty bytes, violating the fail-closed contract (ADVICE r14).
    if (b.length == 0) return null
    val cap = math.max(MaxInflate.toLong, 200L * b.length)
      .min(Int.MaxValue.toLong).toInt
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
      val buf = new Array[Byte](1 << 16)
      var pos = 0
      while (pos < b.length) {
        val dataStart = gzipHeaderEnd(b, pos)
        if (dataStart < 0) return null
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(b, dataStart, b.length - dataStart)
          val crc = new java.util.zip.CRC32
          var isize = 0L
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n > 0) {
              crc.update(buf, 0, n)
              isize += n
              out.write(buf, 0, n)
              if (out.size() > cap) return null // zip bomb: refuse
            } else if (inf.needsInput() || inf.needsDictionary())
              return null // truncated / preset-dictionary stream
          }
          val trailer = dataStart + inf.getBytesRead.toInt
          if (trailer + 8 > b.length) return null // truncated trailer
          if (leU32(b, trailer) != (crc.getValue & 0xffffffffL)) return null
          if (leU32(b, trailer + 4) != (isize & 0xffffffffL)) return null
          pos = trailer + 8
        } finally inf.end()
      }
      out.toByteArray
    } catch { case Refused() => null }
  }

  /** Single zlib/raw-deflate stream inflate (HTTP `deflate` bodies:
    * zlib per RFC 9110, raw tried as the well-known broken-server
    * fallback); null on corruption, trailing garbage, or the cap. */
  private def inflateOne(b: Array[Byte], raw: Boolean, cap: Int): Array[Byte] = {
    try {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(b)
        val out = inflateCapped(inf, cap, math.min(b.length * 4, 1 << 20))
        if (inf.getRemaining != 0) null // trailing garbage
        else out
      } finally inf.end()
    } catch { case Refused() => null }
  }

  private def isCrlf(b: Array[Byte], i: Int): Boolean =
    i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n'

  /** Header block at `i` (lines until a blank CRLF): returns the
    * lowercased name → verbatim value map and the index PAST the blank
    * line, or null on malformed framing. */
  private def headers(b: Array[Byte], from: Int)
      : (scala.collection.mutable.HashMap[String, String], Int) = {
    val m = scala.collection.mutable.HashMap.empty[String, String]
    var i = from
    while (true) {
      if (isCrlf(b, i)) return (m, i + 2) // blank line: end of block
      var j = i
      while (j < b.length && b(j) != '\r' && b(j) != '\n') j += 1
      if (!isCrlf(b, j)) return null // LF-only or EOF inside headers
      val line = new String(b, i, j - i, java.nio.charset.StandardCharsets.ISO_8859_1)
      val colon = line.indexOf(':')
      if (colon <= 0) return null
      m.put(line.substring(0, colon).trim.toLowerCase,
        line.substring(colon + 1).trim)
      i = j + 2
    }
    null // unreachable
  }

  private def utf8OrNull(s: Option[String]): Any =
    s.map(UTF8String.fromString).orNull

  def records(b0: Array[Byte]): ArrayData = {
    if (b0 == null) return null
    val b =
      if (b0.length >= 2 && (b0(0) & 0xff) == 0x1f && (b0(1) & 0xff) == 0x8b)
        gunzipAll(b0)
      else if (b0.length >= 4 && (b0(0) & 0xff) == 0x28 &&
               (b0(1) & 0xff) == 0xb5 && (b0(2) & 0xff) == 0x2f &&
               (b0(3) & 0xff) == 0xfd)
        // .warc.zst (r15): frame-concatenated archives decode through
        // the fail-closed RFC 8878 kernel (skippable dictionary frames
        // are skipped; dictionary-COMPRESSED members refuse — NULL)
        ZstdKernels.decompress(b0)
      else b0
    if (b == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < b.length) {
      // version line: WARC/1.x CRLF
      var j = i
      while (j < b.length && b(j) != '\r' && b(j) != '\n') j += 1
      if (!isCrlf(b, j)) return null
      val ver = new String(b, i, j - i, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (!ver.startsWith("WARC/1.")) return null
      val h = headers(b, j + 2)
      if (h == null) return null
      val (hm, bodyStart) = h
      val lenStr = hm.getOrElse("content-length", null)
      if (lenStr == null || !lenStr.forall(c => c >= '0' && c <= '9') ||
        lenStr.isEmpty || lenStr.length > 10) return null
      val len = lenStr.toLong
      if (bodyStart + len > b.length) return null // truncated payload
      val payload = java.util.Arrays.copyOfRange(b, bodyStart, (bodyStart + len).toInt)
      out += new GenericInternalRow(Array[Any](
        utf8OrNull(hm.get("warc-type")),
        utf8OrNull(hm.get("warc-target-uri")),
        utf8OrNull(hm.get("content-type")),
        payload))
      var k = (bodyStart + len).toInt
      // the two record-terminating CRLFs
      if (!isCrlf(b, k)) return null
      k += 2
      if (!isCrlf(b, k)) return null
      k += 2
      i = k
    }
    new GenericArrayData(out.toArray)
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** RFC 9112 §7.1 `Transfer-Encoding: chunked` decoding: hex size
    * line (chunk extensions after `;` ignored), data, CRLF, repeated;
    * the 0-size chunk ends the body, followed by optional trailer
    * header lines and the final blank CRLF which must land EXACTLY at
    * the end of the payload. Any bad hex, missing CRLF, truncated
    * chunk, malformed trailer line, or trailing garbage → null
    * (fail-closed per record). */
  private[graft] def dechunk(b: Array[Byte]): Array[Byte] = {
    if (b == null) return null
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 20))
    var i = 0
    while (true) {
      // chunk-size line
      var j = i
      while (j < b.length && b(j) != '\r' && b(j) != '\n') j += 1
      if (!isCrlf(b, j)) return null
      var line = new String(b, i, j - i, java.nio.charset.StandardCharsets.ISO_8859_1)
      val semi = line.indexOf(';')
      if (semi >= 0) line = line.substring(0, semi)
      line = line.trim
      if (line.isEmpty || line.length > 8 || !line.forall(isHex)) return null
      val size = java.lang.Long.parseLong(line, 16)
      var p = j + 2
      if (size == 0L) {
        // optional trailer section: header-shaped lines, then blank CRLF
        while (!isCrlf(b, p)) {
          var q = p
          while (q < b.length && b(q) != '\r' && b(q) != '\n') q += 1
          if (!isCrlf(b, q) || q == p) return null
          if (new String(b, p, q - p,
            java.nio.charset.StandardCharsets.ISO_8859_1).indexOf(':') <= 0)
            return null
          p = q + 2
        }
        p += 2
        if (p != b.length) return null // garbage after the terminator
        return out.toByteArray
      }
      if (p + size > b.length) return null // truncated chunk data
      out.write(b, p, size.toInt)
      p += size.toInt
      if (!isCrlf(b, p)) return null
      i = p + 2
    }
    null // unreachable
  }

  def httpParts(p: Array[Byte]): InternalRow = {
    if (p == null) return null
    // status line: HTTP/d.d SP 3-digits
    var j = 0
    while (j < p.length && p(j) != '\r' && p(j) != '\n') j += 1
    if (!isCrlf(p, j)) return null
    val line = new String(p, 0, j, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!line.startsWith("HTTP/")) return null
    val sp = line.indexOf(' ')
    if (sp < 0 || sp + 4 > line.length) return null
    val code = line.substring(sp + 1, sp + 4)
    if (!code.forall(c => c >= '0' && c <= '9')) return null
    val h = headers(p, j + 2)
    if (h == null) return null
    val (hm, bodyStart) = h
    var body = java.util.Arrays.copyOfRange(p, bodyStart, p.length)
    // Transfer-Encoding first (RFC 9112 applies it over the wire
    // format), then Content-Encoding on the dechunked representation.
    // Fail-closed per record: a body the declared codings can't decode
    // bit-exactly is NULL, never raw undecoded bytes passed downstream.
    val te = hm.getOrElse("transfer-encoding", "").toLowerCase
    if (te.nonEmpty) {
      // `chunked` must be the final (outermost) coding; anything else
      // declared here (gzip te, unknown tokens) is refused
      if (te.split(",").map(_.trim).lastOption.contains("chunked")) {
        if (te != "chunked") return null // chained transfer codings: refuse
        body = dechunk(body)
      } else return null
      if (body == null) return null
    }
    val cap = math.max(MaxInflate.toLong, 200L * p.length)
      .min(Int.MaxValue.toLong).toInt
    hm.getOrElse("content-encoding", "").trim.toLowerCase match {
      case "" | "identity" => ()
      case "gzip" | "x-gzip" => body = gunzipAll(body)
      case "deflate" =>
        // zlib per spec; raw-deflate fallback for the broken servers
        // that earned `deflate` its reputation
        val z = inflateOne(body, raw = false, cap)
        body = if (z != null) z else inflateOne(body, raw = true, cap)
      case "zstd" =>
        // RFC 8878: decoded for real since round 15's ZstdKernels —
        // fail-closed like gzip (a body the coding can't decode
        // bit-exactly is NULL, never raw bytes passed downstream)
        body = ZstdKernels.decompress(body)
      case "br" =>
        // RFC 7932 brotli: decoded for real since round 16's
        // BrotliKernels — fail-closed like gzip/zstd (a body the
        // coding can't decode bit-exactly is NULL, never raw bytes or
        // a half-labeled row passed downstream). The r15
        // `encoding_undecoded` lane now carries only codings this
        // engine genuinely cannot decode.
        body = BrotliKernels.decompress(body)
      case "compress" | "x-compress" =>
        // RFC 9110-registered LZW coding: decoded for real since round
        // 17's LzwKernels — fail-closed like gzip/zstd/br (a body the
        // coding can't decode bit-exactly is NULL, never raw bytes
        // passed downstream). This was the LAST coding in the
        // `encoding_undecoded` lane; the lane stays in the schema for
        // codings future crawls may register.
        body = LzwKernels.decompress(body)
      case _ => return null // unknown coding: refuse
    }
    if (body == null) return null
    new GenericInternalRow(Array[Any](
      code.toInt,
      utf8OrNull(hm.get("content-type")),
      body,
      null))
  }
}

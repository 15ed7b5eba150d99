package graft

import graft.functions.WarcKernels
import org.apache.spark.sql.{Kernels, Row}
import org.apache.spark.sql.functions._

/** [[WarcKernels]] — WARC (ISO 28500) record parsing + HTTP payload
  * splitting. Fixtures are built byte-by-byte (and gzip-compressed with
  * the JDK's own encoder for the .warc.gz path); every fail-closed
  * framing violation gets a hostile fixture.
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def crlf = "\r\n"
  private def rec(typ: String, uri: Option[String], ctype: Option[String],
                  payload: Array[Byte], version: String = "WARC/1.0"): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(version).append(crlf)
    sb.append("WARC-Type: ").append(typ).append(crlf)
    uri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append(crlf))
    ctype.foreach(c => sb.append("Content-Type: ").append(c).append(crlf))
    sb.append("Content-Length: ").append(payload.length).append(crlf)
    sb.append(crlf)
    sb.toString.getBytes("UTF-8") ++ payload ++ (crlf + crlf).getBytes("UTF-8")
  }
  private def http(status: Int, ctype: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 $status OK" + crlf + s"Content-Type: $ctype" + crlf + crlf)
      .getBytes("UTF-8") ++ body

  private def parse(b: Array[Byte]): Seq[Row] = {
    val arr = WarcKernels.records(b)
    if (arr == null) null
    else (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 4)
      Row(
        if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
        r.getBinary(3).toSeq)
    }
  }

  private val body = "<html><body>hi</body></html>".getBytes("UTF-8")
  private val archive =
    rec("warcinfo", None, Some("application/warc-fields"),
      "software: graft\r\n".getBytes("UTF-8")) ++
    rec("response", Some("https://h.example.com/p/1"),
      Some("application/http;msgtype=response"), http(200, "text/html", body),
      version = "WARC/1.1")

  test("records: a two-record archive parses with exact payload bytes") {
    val rs = parse(archive)
    assert(rs.length == 2)
    assert(rs(0).getString(0) == "warcinfo" && rs(0).getString(1) == null)
    assert(rs(0).getAs[Seq[Byte]](3) == "software: graft\r\n".getBytes("UTF-8").toSeq)
    assert(rs(1).getString(0) == "response")
    assert(rs(1).getString(1) == "https://h.example.com/p/1")
    assert(rs(1).getString(2) == "application/http;msgtype=response")
    assert(rs(1).getAs[Seq[Byte]](3) == http(200, "text/html", body).toSeq)
  }

  test("records: per-record gzip members and whole-archive gzip both inflate") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    val members = gz(rec("warcinfo", None, None, "x: y\r\n".getBytes("UTF-8"))) ++
      gz(rec("response", Some("https://a/b"), None, http(200, "text/html", body)))
    assert(parse(members).length == 2)
    assert(parse(gz(archive)).length == 2)
    // corrupt gzip: fail-closed
    val corrupt = gz(archive)
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x55).toByte
    assert(parse(corrupt) == null)
  }

  test("records: .warc.zst archives decode (r15) — frame-concatenated " +
    "members, skippable frames skipped, corruption NULLs the blob") {
    import graft.functions.ZstdKernels
    // per-record zstd frames back to back, the CommonCrawl-zst shape
    val members =
      ZstdKernels.compressStore(
        rec("warcinfo", None, None, "x: y\r\n".getBytes("UTF-8")),
        withChecksum = true) ++
      Array[Byte](0x50, 0x2a, 0x4d, 0x18, 2, 0, 0, 0, 7, 7) ++ // skippable
      ZstdKernels.compressStore(
        rec("response", Some("https://a/b"), None, http(200, "text/html", body)),
        withChecksum = true)
    assert(parse(members).length == 2)
    // whole-archive single frame
    assert(parse(ZstdKernels.compressStore(archive)).length == 2)
    // corrupt frame: fail-closed
    val corrupt = ZstdKernels.compressStore(archive, withChecksum = true)
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x55).toByte
    assert(parse(corrupt) == null)
  }

  test("records: zip-bomb inflation is refused, not attempted") {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    val zeros = new Array[Byte](1 << 20)
    for (_ <- 0 until 100) g.write(zeros) // 100 MiB of zeros, ~100 KiB gz
    g.close()
    assert(parse(bos.toByteArray) == null)
  }

  test("records fail-closed: every framing violation NULLs the whole blob") {
    assert(parse("WARC/2.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes) == null)
    assert(parse("WARC/1.0\nContent-Length: 0\n\n\n\n".getBytes) == null) // LF-only
    assert(parse("WARC/1.0\r\nWARC-Type: x\r\n\r\n\r\n\r\n".getBytes) == null) // no length
    assert(parse("WARC/1.0\r\nContent-Length: 1x\r\n\r\nA\r\n\r\n".getBytes) == null)
    assert(parse(archive.dropRight(3)) == null)           // truncated terminator
    assert(parse(archive ++ "junk".getBytes) == null)     // trailing garbage
    val bigLen = "WARC/1.0\r\nContent-Length: 999999\r\n\r\nshort\r\n\r\n"
    assert(parse(bigLen.getBytes) == null)                // truncated payload
    assert(parse(Array.emptyByteArray).length == 0)       // empty blob: zero records
  }

  test("httpParts: status/content-type/body; only the FIRST blank line splits") {
    val tricky = "line1\r\n\r\nline2".getBytes("UTF-8")
    val r = WarcKernels.httpParts(http(404, "text/plain", tricky))
    assert(r.getInt(0) == 404)
    assert(r.getUTF8String(1).toString == "text/plain")
    assert(r.getBinary(2).toSeq == tricky.toSeq)
    // not HTTP / malformed
    assert(WarcKernels.httpParts("software: graft\r\n".getBytes) == null)
    assert(WarcKernels.httpParts("HTTP/1.1 20x OK\r\n\r\n".getBytes) == null)
    assert(WarcKernels.httpParts("HTTP/1.1 200 OK\r\nbad header\r\n\r\n".getBytes) == null)
  }

  test("DataFrame + SQL path: explode records, split HTTP, extract text") {
    val df = Seq((1L, archive)).toDF("id", "blob")
      .select(col("id"), explode(Kernels.warcRecords(col("blob"))).as("r"))
      .where(col("r.warc_type") === "response")
      .select(col("id"), col("r.target_uri").as("uri"),
        Kernels.httpParts(col("r.payload")).as("h"))
      .select(col("id"), col("uri"), col("h.status"),
        Kernels.htmlExtract(
          Kernels.decodeText(col("h.body"))
            .getField("text")).as("text"))
    val row = df.head()
    assert(row.getString(1) == "https://h.example.com/p/1")
    assert(row.getInt(2) == 200)
    assert(row.getString(3) == "hi")
    val n = spark.sql(
      "SELECT size(warc_records(encode('', 'UTF-8'))) AS n").as[Int].head()
    assert(n == 0)
  }

  // ---- round 14: member-exact gunzip + chunked/compressed HTTP bodies ----

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("records: garbage or a corrupted second member AFTER a valid gzip " +
    "member fails the whole blob (no silent valid-prefix ingest)") {
    // the ADVICE r13 medium: GZIPInputStream treats junk after a valid
    // member as EOF, so a damaged multi-member .warc.gz half-ingests.
    val m1 = gz(rec("warcinfo", None, None, "x: y\r\n".getBytes("UTF-8")))
    val m2 = gz(rec("response", Some("https://a/b"), None,
      http(200, "text/html", body)))
    assert(parse(m1 ++ m2).length == 2) // intact concatenation: fine
    assert(parse(m1 ++ "garbage-not-gzip".getBytes) == null)
    val corruptHdr = m2.clone(); corruptHdr(1) = 0x00 // break the magic
    assert(parse(m1 ++ corruptHdr) == null)
    assert(parse(m1 ++ m2.dropRight(5)) == null)  // truncated trailer
    assert(parse(m1 ++ m2.take(12)) == null)      // truncated mid-member
    // corrupted ISIZE in the FIRST member: caught even though the
    // deflate stream itself is intact
    val badIsize = m1.clone()
    badIsize(badIsize.length - 1) = (badIsize(badIsize.length - 1) ^ 0x7f).toByte
    assert(parse(badIsize ++ m2) == null)
  }

  test("records: gzip members with FNAME/FEXTRA/FCOMMENT header fields parse") {
    // JDK GZIPOutputStream never emits these; crawled .warc.gz can
    val plain = gz(rec("warcinfo", None, None, "a: b\r\n".getBytes("UTF-8")))
    val deflatePart = plain.drop(10) // strip the minimal 10-byte header
    def hdr(flg: Int, extra: Array[Byte]): Array[Byte] =
      Array[Byte](0x1f, 0x8b.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, 0) ++ extra
    val fname = hdr(8, "name.warc\u0000".getBytes("ISO-8859-1")) ++ deflatePart
    assert(parse(fname).length == 1)
    val fextra = hdr(4, Array[Byte](3, 0, 1, 2, 3)) ++ deflatePart
    assert(parse(fextra).length == 1)
    val fcomment = hdr(16, "hi\u0000".getBytes("ISO-8859-1")) ++ deflatePart
    assert(parse(fcomment).length == 1)
    // truncated FNAME (no terminator): fail-closed
    assert(parse(hdr(8, "noterm".getBytes("ISO-8859-1"))) == null)
  }

  private def chunked(pieces: Seq[Array[Byte]], ext: String = "",
                      trailer: String = ""): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    pieces.foreach { p =>
      bos.write((p.length.toHexString + ext + crlf).getBytes("ISO-8859-1"))
      bos.write(p)
      bos.write(crlf.getBytes)
    }
    bos.write(("0" + crlf + trailer + crlf).getBytes("ISO-8859-1"))
    bos.toByteArray
  }

  test("dechunk: chunks with extensions and trailer headers reassemble; " +
    "every framing violation is NULL") {
    val a = "hello ".getBytes("UTF-8"); val b2 = "world".getBytes("UTF-8")
    def out(x: Array[Byte]) = Option(WarcKernels.dechunk(x)).map(_.toSeq).orNull
    assert(out(chunked(Seq(a, b2))) == (a ++ b2).toSeq)
    assert(out(chunked(Seq(a, b2), ext = ";name=val")) == (a ++ b2).toSeq)
    assert(out(chunked(Seq(a, b2), trailer = "X-Checksum: abc\r\n")) == (a ++ b2).toSeq)
    assert(out(chunked(Seq.empty)) == Seq.empty) // zero-length body
    assert(out("g1\r\nx\r\n0\r\n\r\n".getBytes) == null)       // bad hex
    assert(out("\r\nx\r\n0\r\n\r\n".getBytes) == null)         // empty size
    assert(out("123456789\r\nx\r\n0\r\n\r\n".getBytes) == null) // >8 hex digits
    assert(out("5\r\nab\r\n0\r\n\r\n".getBytes) == null)       // truncated data
    assert(out("2\r\nabX\r".getBytes) == null)                 // missing CRLF
    assert(out(chunked(Seq(a)) ++ "junk".getBytes) == null)    // post-terminator
    assert(out("0\r\nnot a header line\r\n\r\n".getBytes) == null) // bad trailer
    assert(out(chunked(Seq(a)).dropRight(2)) == null)          // truncated end
  }

  private def httpRaw(headers: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK$crlf$headers$crlf").getBytes("ISO-8859-1") ++ body

  test("httpParts: Transfer-Encoding chunked + Content-Encoding gzip/deflate " +
    "decode to identity; undecodable codings are NULL per record") {
    val page = "<html><body>payload text</body></html>".getBytes("UTF-8")
    def bodyOf(p: Array[Byte]): Seq[Byte] = {
      val r = WarcKernels.httpParts(p)
      assert(r != null, "httpParts returned null")
      r.getBinary(2).toSeq
    }
    // chunked alone
    assert(bodyOf(httpRaw("Content-Type: text/html\r\nTransfer-Encoding: chunked\r\n",
      chunked(Seq(page.take(10), page.drop(10))))) == page.toSeq)
    // gzip alone
    assert(bodyOf(httpRaw("Content-Encoding: gzip\r\n", gz(page))) == page.toSeq)
    // zlib deflate + raw-deflate fallback
    def zlib(b: Array[Byte], raw: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    }
    assert(bodyOf(httpRaw("Content-Encoding: deflate\r\n", zlib(page, raw = false))) == page.toSeq)
    assert(bodyOf(httpRaw("Content-Encoding: deflate\r\n", zlib(page, raw = true))) == page.toSeq)
    // chunked THEN gzip (TE over the wire, CE inside)
    assert(bodyOf(httpRaw(
      "Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
      chunked(Seq(gz(page).take(7), gz(page).drop(7))))) == page.toSeq)
    // fail-closed shapes
    assert(WarcKernels.httpParts(httpRaw("Transfer-Encoding: chunked\r\n",
      "5\r\nab\r\n0\r\n\r\n".getBytes)) == null)                 // bad chunk framing
    assert(WarcKernels.httpParts(httpRaw("Content-Encoding: gzip\r\n",
      page)) == null)                                            // not gzip bytes
    // br (r16): DECODED for real through BrotliKernels — the `page`
    // bytes compressed by the reference encoder (brotlicffi q=9),
    // pinned as hex so the test is python-free
    val brPage = ("1b2500004427471ad841be93b795b51504d5843032c94232b528" +
      "9404253d9cc6bfdac3366f891cf100")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(bodyOf(httpRaw("Content-Encoding: br\r\n", brPage)) == page.toSeq)
    assert(WarcKernels.httpParts(httpRaw("Content-Encoding: br\r\n",
      page)) == null) // not brotli bytes: refuse like gzip
    // `compress` (r17): DECODED for real through LzwKernels —
    // fail-closed like gzip/zstd/br (a non-LZW body under the coding
    // refuses the record; a valid .Z body decodes to identity with a
    // NULL `encoding_undecoded` label)
    assert(bodyOf(httpRaw("Content-Encoding: compress\r\n",
      graft.functions.LzwKernels.compress(page))) == page.toSeq)
    assert(WarcKernels.httpParts(httpRaw(
      "Content-Type: text/html\r\nContent-Encoding: compress\r\n", page))
      == null) // not LZW bytes: refuse like gzip
    assert(WarcKernels.httpParts(httpRaw("Content-Encoding: compress\r\n",
      graft.functions.LzwKernels.compress(page))).isNullAt(3))
    // zstd (r15): DECODED for real through ZstdKernels, fail-closed
    assert(bodyOf(httpRaw("Content-Encoding: zstd\r\n",
      graft.functions.ZstdKernels.compressStore(page, withChecksum = true)))
      == page.toSeq)
    assert(WarcKernels.httpParts(httpRaw("Content-Encoding: zstd\r\n",
      page)) == null) // not zstd bytes: refuse like gzip
    // ...including behind chunked TE (wire coding applies first)
    assert(bodyOf(httpRaw(
      "Transfer-Encoding: chunked\r\nContent-Encoding: br\r\n",
      chunked(Seq(brPage.take(11), brPage.drop(11))))) == page.toSeq)
    // a decodable coding leaves the label NULL
    assert(WarcKernels.httpParts(httpRaw("Content-Encoding: gzip\r\n",
      gz(page))).isNullAt(3))
    assert(WarcKernels.httpParts(httpRaw("Transfer-Encoding: gzip, chunked\r\n",
      chunked(Seq(page)))) == null)                              // chained TE: refuse
    assert(WarcKernels.httpParts(httpRaw("Transfer-Encoding: gzip\r\n",
      gz(page))) == null)                                        // TE without chunked
  }

  test("gunzip column/SQL surface: roundtrip, multi-member, corruption NULL") {
    val payload = "gzipped sitemap payload".getBytes("UTF-8")
    val two = gz(payload) ++ gz(" second member".getBytes("UTF-8"))
    val df = Seq((1, gz(payload)), (2, two), (3, payload))
      .toDF("id", "b")
      .select(col("id"), Kernels.gunzip(col("b")).as("o"))
      .collect().map(r => r.getInt(0) ->
        Option(r.get(1)).map(x => new String(x.asInstanceOf[Array[Byte]], "UTF-8")).orNull)
      .toMap
    assert(df(1) == "gzipped sitemap payload")
    assert(df(2) == "gzipped sitemap payload second member")
    assert(df(3) == null) // not gzip: fail-closed
    // empty blob is NOT a valid gzip stream — must be NULL, not empty
    // bytes (the member loop never running is a failure, ADVICE r14)
    assert(WarcKernels.gunzipAll(Array.emptyByteArray) == null)
    val viaSql = spark.sql(
      "SELECT decode(gunzip(unhex('" +
        gz(payload).map("%02x".format(_)).mkString + "')), 'UTF-8') AS t")
      .as[String].head()
    assert(viaSql == "gzipped sitemap payload")
  }

  test("fuzz: random bytes and truncations never throw") {
    val rnd = new scala.util.Random(0x3a6c13L)
    for (_ <- 0 until 300) {
      val b = Array.fill(rnd.nextInt(150))(rnd.nextInt(256).toByte)
      WarcKernels.records(b)
      WarcKernels.httpParts(b)
    }
    for (cut <- 0 to archive.length)
      WarcKernels.records(archive.take(cut)) // no throw; null or fewer records
  }
}

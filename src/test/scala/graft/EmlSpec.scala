package graft

import graft.functions.EmlKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[EmlKernels]] — EML/MIME extraction: header unfolding, RFC 2047
  * encoded-words, quoted-printable and base64 bodies, multipart
  * (mixed + alternative, nested), html parts through the crawl
  * extractor, and the fail-closed contract. */
class EmlSpec extends AnyFunSuite {

  private def parts(s: String): Option[(String, String, String, String, Int, String)] = {
    val r = EmlKernels.emlParts(s.getBytes("ISO-8859-1"))
    if (r == null) None
    else Some((
      if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
      if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
      if (r.isNullAt(3)) null else r.getUTF8String(3).toString,
      r.getInt(4),
      if (r.isNullAt(5)) null else r.getUTF8String(5).toString))
  }

  test("plain 7bit message: headers, folding, body") {
    val m = "From: Ada <ada@example.org>\r\n" +
      "To: list@example.org\r\n" +
      "Subject: a folded\r\n subject line\r\n" +
      "Date: Mon, 1 Jan 2024 10:00:00 +0000\r\n" +
      "\r\n" +
      "Hello body\r\nsecond line\r\n"
    val Some((from, to, subj, date, n, text)) = parts(m)
    assert(from == "Ada <ada@example.org>")
    assert(to == "list@example.org")
    assert(subj == "a folded subject line")
    assert(date.startsWith("Mon, 1 Jan 2024"))
    assert(n == 1)
    assert(text == "Hello body\r\nsecond line\r\n")
  }

  test("RFC 2047 encoded-words: B and Q forms, adjacent words join, " +
    "charsets decode validated") {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "δοκιμή".getBytes("UTF-8"))
    val m = s"From: =?utf-8?B?$b64?= <g@example.org>\n" +
      "Subject: =?iso-8859-1?Q?caf=E9_au?= =?iso-8859-1?Q?_lait?=\n" +
      "\nx"
    val Some((from, _, subj, _, _, _)) = parts(m)
    assert(from == "δοκιμή <g@example.org>")
    assert(subj == "café au lait")
    // unknown charset in an encoded word: whole message refused
    assert(parts("Subject: =?x-klingon?B?QQ==?=\n\nx").isEmpty)
  }

  test("quoted-printable and base64 bodies with charsets") {
    val qp = "Content-Type: text/plain; charset=iso-8859-1\n" +
      "Content-Transfer-Encoding: quoted-printable\n" +
      "Subject: qp\n\n" +
      "caf=E9 con leche =\r\nsoft-wrapped"
    assert(parts(qp).get._6 == "café con leche soft-wrapped")
    val b64body = java.util.Base64.getMimeEncoder.encodeToString(
      "日本語 body".getBytes("UTF-8"))
    val b = "Content-Type: text/plain; charset=\"utf-8\"\n" +
      "Content-Transfer-Encoding: base64\nSubject: b\n\n" + b64body
    assert(parts(b).get._6 == "日本語 body")
    // invalid utf-8 under a utf-8 label: refused, not mojibake
    val bad = "Content-Type: text/plain; charset=utf-8\n" +
      "Content-Transfer-Encoding: base64\nSubject: x\n\n" +
      java.util.Base64.getEncoder.encodeToString(
        Array[Byte](0xC3.toByte, 0x28))
    assert(parts(bad).isEmpty)
  }

  test("multipart/mixed concatenates text parts; attachments skipped; " +
    "multipart/alternative prefers the last text/plain; html extracts") {
    val mixed = "From: a@b\nContent-Type: multipart/mixed; boundary=XX\n\n" +
      "preamble ignored\n" +
      "--XX\nContent-Type: text/plain\n\npart one\n" +
      "--XX\nContent-Type: application/octet-stream\n\nBINARY\n" +
      "--XX\nContent-Type: text/plain\n\npart two\n" +
      "--XX--\nepilogue"
    val Some((_, _, _, _, n, text)) = parts(mixed)
    assert(text == "part one\n\npart two")
    assert(n == 4) // message + three parts
    val alt = "From: a@b\n" +
      "Content-Type: multipart/alternative; boundary=\"=_b\"\n\n" +
      "--=_b\nContent-Type: text/plain\n\nplain wins\n" +
      "--=_b\nContent-Type: text/html\n\n<p>html loses</p>\n" +
      "--=_b--\n"
    assert(parts(alt).get._6 == "plain wins")
    val htmlOnly = "From: a@b\n" +
      "Content-Type: multipart/alternative; boundary=zz\n\n" +
      "--zz\nContent-Type: text/html\n\n" +
      "<html><body><p>Hello &amp; bye</p></body></html>\n" +
      "--zz--\n"
    assert(parts(htmlOnly).get._6 == "Hello & bye")
    // nested multipart
    val nested = "From: a@b\nContent-Type: multipart/mixed; boundary=out\n\n" +
      "--out\nContent-Type: multipart/alternative; boundary=in\n\n" +
      "--in\nContent-Type: text/plain\n\ninner plain\n" +
      "--in--\n" +
      "--out\nContent-Type: text/plain\n\nouter tail\n" +
      "--out--\n"
    assert(parts(nested).get._6 == "inner plain\n\nouter tail")
  }

  test("fail-closed: non-mail text, missing boundary, unterminated " +
    "multipart, unknown CTE, junk") {
    assert(parts("just some text\nwithout headers").isEmpty)
    assert(parts("X-Other: header only\n\nbody").isEmpty) // not mail-shaped
    assert(parts("From: a@b\nContent-Type: multipart/mixed\n\n--x\n").isEmpty)
    assert(parts("From: a@b\nContent-Type: multipart/mixed; boundary=q\n\n" +
      "--q\nContent-Type: text/plain\n\nnever closed").isEmpty)
    assert(parts("From: a@b\nContent-Transfer-Encoding: uuencode\n\nx").isEmpty)
    assert(EmlKernels.emlParts(null) == null)
    val good = "From: a@b\nSubject: s\n\nbody"
    var cut = 1
    while (cut < good.length) {
      EmlKernels.emlParts(good.take(cut).getBytes("ISO-8859-1"))
      cut += 3
    }
  }

  test("mbox splitting (r17): envelope lines dropped, >From unescaped, " +
    "messages compose with emlParts; non-mbox refused") {
    import graft.functions.EmlKernels.mboxMessages
    val mbox = ("From alice@example.org Mon Jan  1 10:00:00 2024\n" +
      "From: alice@example.org\nSubject: one\n\nbody one\n" +
      ">From quoted line survives\n" +
      "From bob@example.org Mon Jan  1 11:00:00 2024\n" +
      "From: bob@example.org\nSubject: two\n\nbody two\n")
      .getBytes("ISO-8859-1")
    val msgs = mboxMessages(mbox)
    assert(msgs != null && msgs.numElements() == 2)
    val m1 = new String(msgs.getBinary(0), "ISO-8859-1")
    assert(m1.contains("Subject: one"))
    assert(m1.contains("\nFrom quoted line survives"), m1)
    assert(!m1.contains(">From"))
    val p2 = EmlKernels.emlParts(msgs.getBinary(1))
    assert(p2 != null && p2.getUTF8String(2).toString == "two")
    assert(mboxMessages("not an mbox".getBytes("UTF-8")) == null)
    assert(mboxMessages("From ".getBytes("UTF-8")) == null) // no message
    assert(EmlKernels.mboxMessages(null) == null)
    // SQL: split + explode + parse in one statement
    val spark = SparkSpec.session
    import spark.implicits._
    Seq((1, mbox)).toDF("id", "b").createOrReplaceTempView("mbox_t")
    val rows = spark.sql(
      "SELECT eml_parts(m).subject AS s FROM mbox_t " +
        "LATERAL VIEW explode(mbox_messages(b)) t AS m ORDER BY s").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("one", "two"))
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, "From: x@y\nSubject: hi\n\nsql body".getBytes("ISO-8859-1")),
      (2, "not mail".getBytes("ISO-8859-1"))).toDF("id", "b")
    df.createOrReplaceTempView("eml_t")
    val rows = spark.sql(
      "SELECT id, eml_parts(b).subject AS s, eml_parts(b).text AS t " +
        "FROM eml_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "hi" && rows(0).getString(2) == "sql body")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.emlParts($"b")
      .getField("n_parts").as("n")).collect()
    assert(!viaCol(0).isNullAt(0) && viaCol(1).isNullAt(0))
  }
}

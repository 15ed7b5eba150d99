package graft

import graft.functions.EncodingKernels
import org.apache.spark.sql.{Kernels, Row}
import org.apache.spark.sql.functions._

/** [[EncodingKernels.decodeText]] — the bytes → text ingest decode.
  * Strict-UTF-8 validation pinned against the RFC 3629 table (every
  * overlong/surrogate/out-of-range shape), BOM handling, the
  * windows-1252 fallback byte-for-byte, and fail-open totality.
  */
class EncodingSpec extends SparkSpec {
  import spark.implicits._

  private def d(b: Array[Byte]): Row = {
    val r = EncodingKernels.decodeText(b)
    Row(r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getLong(2))
  }
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("valid UTF-8 passes through untouched, including multi-byte and astral") {
    assert(d("plain ascii".getBytes("UTF-8")) == Row("plain ascii", "utf-8", 0L))
    assert(d("naïve — 日本語 🙂".getBytes("UTF-8")) ==
      Row("naïve — 日本語 🙂", "utf-8", 0L))
    assert(d(Array.emptyByteArray) == Row("", "utf-8", 0L))
  }

  test("strict validation: every invalid UTF-8 shape falls back to windows-1252") {
    // bare continuation byte
    assert(d(bytes('a', 0x80, 'b')).getString(1) == "windows-1252")
    // overlong 2-byte (C0 80 = overlong NUL) and C1
    assert(d(bytes(0xc0, 0x80)).getString(1) == "windows-1252")
    assert(d(bytes(0xc1, 0xbf)).getString(1) == "windows-1252")
    // overlong 3-byte (E0 80 80)
    assert(d(bytes(0xe0, 0x80, 0x80)).getString(1) == "windows-1252")
    // CESU-8 surrogate (ED A0 80)
    assert(d(bytes(0xed, 0xa0, 0x80)).getString(1) == "windows-1252")
    // overlong 4-byte (F0 80 80 80) and > U+10FFFF (F4 90 80 80, F5)
    assert(d(bytes(0xf0, 0x80, 0x80, 0x80)).getString(1) == "windows-1252")
    assert(d(bytes(0xf4, 0x90, 0x80, 0x80)).getString(1) == "windows-1252")
    assert(d(bytes(0xf5, 0x80, 0x80, 0x80)).getString(1) == "windows-1252")
    // truncated multi-byte at end of blob
    assert(d("ok".getBytes("UTF-8") ++ bytes(0xe2, 0x82)).getString(1) == "windows-1252")
    // boundary VALID shapes stay utf-8: U+0800 (E0 A0 80), U+FFFD,
    // U+10FFFF (F4 8F BF BF)
    assert(d(bytes(0xe0, 0xa0, 0x80)).getString(1) == "utf-8")
    assert(d(bytes(0xf4, 0x8f, 0xbf, 0xbf)).getString(1) == "utf-8")
  }

  test("windows-1252 fallback: JDK cp1252 table, n_fallback_bytes counts high bytes") {
    // 0x93/0x94 are cp1252 smart quotes; 0xE9 is é; 'a' stays 'a'
    val r = d(bytes('a', 0x93, 'b', 0x94, 0xe9))
    assert(r == Row("a“b”é", "windows-1252", 3L))
  }

  test("BOMs: UTF-8 BOM stripped; UTF-16 LE/BE decoded; odd UTF-16 tail dropped and counted") {
    assert(d(bytes(0xef, 0xbb, 0xbf) ++ "hi".getBytes("UTF-8")) ==
      Row("hi", "utf-8", 0L))
    // a BOM followed by INVALID utf-8 still falls back (whole blob,
    // BOM bytes included in the high-byte count)
    assert(d(bytes(0xef, 0xbb, 0xbf, 0xc0, 0x80)).getString(1) == "windows-1252")
    assert(d(bytes(0xff, 0xfe) ++ "wide".getBytes("UTF-16LE")) ==
      Row("wide", "utf-16le", 0L))
    assert(d(bytes(0xfe, 0xff) ++ "wide".getBytes("UTF-16BE")) ==
      Row("wide", "utf-16be", 0L))
    assert(d(bytes(0xff, 0xfe) ++ "ab".getBytes("UTF-16LE") ++ bytes('x')) ==
      Row("ab", "utf-16le", 1L))
  }

  test("charset hints (r16): declared Shift_JIS/GBK/EUC-KR/Big5/GB18030/" +
    "EUC-JP decode under strict validation; false hints fall to 1252; " +
    "UTF-8 still wins over any hint") {
    def page(meta: String, text: String, cs: String): Array[Byte] = {
      val head = s"""<html><head><meta charset="$meta"></head>""".getBytes("US-ASCII")
      head ++ text.getBytes(cs)
    }
    val cases = Seq(
      ("shift_jis", "こんにちは世界", "windows-31j", "shift_jis"),
      ("Shift-JIS", "日本語テスト", "windows-31j", "shift_jis"),
      ("gbk", "你好世界中文测试", "GBK", "gbk"),
      ("gb2312", "简体中文", "GBK", "gbk"),
      ("gb18030", "汉字编码", "GB18030", "gb18030"),
      ("euc-kr", "안녕하세요 한국어", "x-windows-949", "euc-kr"),
      ("big5", "繁體中文測試", "Big5", "big5"),
      ("euc-jp", "にほんご", "EUC-JP", "euc-jp"))
    for ((meta, text, javaCs, want) <- cases) {
      val b = page(meta, text, javaCs)
      val r = d(b)
      assert(r.getString(1) == want, s"$meta -> ${r.getString(1)}")
      assert(r.getString(0).endsWith(text), s"$meta text mismatch")
      assert(r.getLong(2) == 0L)
    }
    // http-equiv form and XML declaration both count as hints
    val he = ("""<meta http-equiv="Content-Type" """ +
      """content="text/html; charset=shift_jis">""").getBytes("US-ASCII") ++
      "カタカナ".getBytes("windows-31j")
    assert(d(he).getString(1) == "shift_jis")
    val xml = """<?xml version="1.0" encoding="euc-kr"?><r>"""
      .getBytes("US-ASCII") ++ "한글".getBytes("x-windows-949") ++
      "</r>".getBytes("US-ASCII")
    assert(d(xml).getString(1) == "euc-kr")
    // FALSE hint: declared shift_jis, bytes the charset rejects ->
    // the 1252 floor, hint ignored (metadata lies)
    val falseHint = """<meta charset="shift_jis">x""".getBytes("US-ASCII") ++
      bytes(0xff, 0xff)
    assert(d(falseHint).getString(1) == "windows-1252")
    // a hint on VALID UTF-8 bytes never reaches the hint path
    val utf8Hinted = """<meta charset="big5">中文""".getBytes("UTF-8")
    assert(d(utf8Hinted) == Row("""<meta charset="big5">中文""", "utf-8", 0L))
    // charset= OUTSIDE a meta tag is not a hint
    val noTag = "charset=shift_jis ".getBytes("US-ASCII") ++ bytes(0xe9)
    assert(d(noTag).getString(1) == "windows-1252")
    // single-byte hints keep the 1252 fallback (wrong single-byte
    // decode is undetectable; the default stays)
    val sb = """<meta charset="iso-8859-7">x""".getBytes("US-ASCII") ++ bytes(0xe9)
    assert(d(sb).getString(1) == "windows-1252")
  }

  test("DataFrame path and NULL propagation; SQL registration") {
    val df = Seq(
      (1L, "good text".getBytes("UTF-8")),
      (2L, Array[Byte]('b', 0xe9.toByte, 'd')),
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "blob")
    val got = df.select(col("id"), Kernels.decodeText(col("blob")).as("d"))
      .select(col("id"), col("d.text"), col("d.encoding")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("good text", "utf-8")))
    assert(got(2L) == (("béd", "windows-1252")))
    assert(got(3L) == ((null, null)))
    val sql = spark.sql("SELECT decode_text(encode('x', 'UTF-8')).encoding AS e")
      .as[String].head()
    assert(sql == "utf-8")
  }

  test("fuzz: arbitrary bytes always decode to something, never throw") {
    val rnd = new scala.util.Random(0xdec0de13L)
    for (_ <- 0 until 1000) {
      val b = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      val r = EncodingKernels.decodeText(b)
      assert(r.getUTF8String(0) != null && r.getUTF8String(1) != null)
    }
  }
}

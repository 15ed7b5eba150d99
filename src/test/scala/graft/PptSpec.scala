package graft

import graft.functions.PptKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[PptKernels]] — legacy .ppt slide-text extraction over real
  * record framing (8-byte headers, nested containers) inside a real
  * CFB container. Encrypted (CryptSession10Container) and malformed
  * decks fail closed.
  */
class PptSpec extends AnyFunSuite {

  private def textOf(b: Array[Byte]): String = {
    val t = PptKernels.pptText(b)
    if (t == null) null else t.toString
  }

  test("TextCharsAtom (UTF-16) and TextBytesAtom (latin-1) decode in " +
    "stream order, newline-joined; CR and VT normalize") {
    val ppt = PptKernels.build(
      PptKernels.textChars("Title δ ✓"),
      PptKernels.textBytes("bullet one\rbullet two"),
      PptKernels.textChars("softbreak"))
    assert(textOf(ppt) == "Title δ ✓\nbullet one\nbullet two\nsoft\nbreak")
  }

  test("nested containers walk recursively; unknown atoms are skipped") {
    val ppt = PptKernels.build(
      PptKernels.container(0x03EE, // SlideContainer
        PptKernels.container(0x0FC8, // unknown-ish inner container
          PptKernels.textBytes("deep text")),
        // unknown atom: 12 bytes of junk payload, must be stepped over
        Array[Byte](0, 0, 0x10, 0x0F, 12, 0, 0, 0) ++ new Array[Byte](12)),
      PptKernels.textBytes("after"))
    assert(textOf(ppt) == "deep text\nafter")
  }

  test("empty deck: no text atoms is an empty string, not NULL") {
    assert(textOf(PptKernels.build()) == "")
  }

  test("fail-closed: CryptSession10Container, truncation, bad framing, " +
    "non-CFB junk, absent stream") {
    val enc = PptKernels.build(
      PptKernels.textBytes("secret"), PptKernels.cryptSession())
    assert(textOf(enc) == null)
    val good = PptKernels.build(PptKernels.textChars("hello slides"))
    var cut = 1
    while (cut < good.length) {
      PptKernels.pptText(java.util.Arrays.copyOf(good, cut)) // never throws
      cut += 53
    }
    assert(textOf("junk".getBytes("UTF-8")) == null)
    assert(PptKernels.pptText(null) == null)
    // a .doc container has no PowerPoint Document stream
    assert(textOf(graft.functions.CfbKernels.buildDoc("x", unicode = false)) == null)
    // record overruns its parent container
    val bad = PptKernels.build(
      Array[Byte](0, 0, 0xA0.toByte, 0x0F, 0xFF.toByte, 0xFF.toByte, 0, 0))
    assert(textOf(bad) == null)
    // odd-length TextCharsAtom is malformed UTF-16
    val odd = PptKernels.build(
      Array[Byte](0, 0, 0xA0.toByte, 0x0F, 3, 0, 0, 0, 65, 0, 66))
    assert(textOf(odd) == null)
  }

  test("ppt_text: SQL registration + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val good = PptKernels.build(PptKernels.textBytes("sql deck"))
    val df = Seq((1, good), (2, "nope".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("ppt_t")
    val rows = spark.sql(
      "SELECT id, ppt_text(b) AS t FROM ppt_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "sql deck")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.pptText($"b").as("t"))
      .collect().map(r => Option(r.getString(0)))
    assert(viaCol.count(_.isDefined) == 1)
  }
}

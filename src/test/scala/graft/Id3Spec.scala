package graft

import graft.functions.Id3Kernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[Id3Kernels]] — ID3v2.2/2.3/2.4 + ID3v1 tag extraction, the
  * unsynchronization reversal, and composition with the r13 MP3
  * frame-chain triage (a tagged frame chain still triages and still
  * yields its tags). */
class Id3Spec extends AnyFunSuite {

  private def tags(b: Array[Byte]): Option[(String, String, String, String)] = {
    val r = Id3Kernels.id3Tags(b)
    if (r == null) None
    else Some((
      if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
      if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
      if (r.isNullAt(3)) null else r.getUTF8String(3).toString))
  }

  test("v2.3 latin-1 and UTF-16 text frames; unknown frames skipped") {
    val t = Id3Kernels.buildV2(3, Seq(
      ("TIT2", "Café Titles", 0),
      ("TPE1", "Ångström δ", 1),
      ("TALB", "The Album", 0),
      ("TYER", "1999", 0),
      ("TXXX", "ignored", 0)))
    assert(tags(t) == Some(("Café Titles", "Ångström δ", "The Album", "1999")))
  }

  test("v2.4 syncsafe frame sizes + utf-8; TDRC year truncates to 4") {
    val t = Id3Kernels.buildV2(4, Seq(
      ("TIT2", "日本語タイトル", 3),
      ("TDRC", "2015-06-01T12:00", 3)))
    assert(tags(t) == Some(("日本語タイトル", null, null, "2015")))
  }

  test("v2.2 three-char ids and sizes") {
    val t = Id3Kernels.buildV2(2, Seq(
      ("TT2", "Old Title", 0), ("TP1", "Old Artist", 0),
      ("TAL", "Old Album", 0), ("TYE", "1987", 0)))
    assert(tags(t) == Some(("Old Title", "Old Artist", "Old Album", "1987")))
  }

  test("ID3v1 trailer alone, and per-field fallback under a v2 tag") {
    val v1 = Id3Kernels.buildV1("V1 Title", "V1 Artist", "V1 Album", "1969")
    val chain = Id3Kernels.buildFrames(3)
    assert(tags(chain ++ v1) ==
      Some(("V1 Title", "V1 Artist", "V1 Album", "1969")))
    // v2 provides title only; artist/album/year fall back to v1
    val v2 = Id3Kernels.buildV2(3, Seq(("TIT2", "V2 Wins", 0)))
    assert(tags(v2 ++ chain ++ v1) ==
      Some(("V2 Wins", "V1 Artist", "V1 Album", "1969")))
  }

  test("a tagged frame chain still passes the r13 MP3 triage walk " +
    "(ID3v2 front skip + ID3v1 trailer trim) AND yields tags") {
    val blob = Id3Kernels.buildV2(3, Seq(("TIT2", "Chained", 0))) ++
      Id3Kernels.buildFrames(5) ++
      Id3Kernels.buildV1("x", "y", "z", "2001")
    val meta = graft.functions.MediaKernels.audioMeta(blob)
    assert(meta != null, "triage refused a tagged frame chain")
    assert(meta.getUTF8String(0).toString == "mp3")
    assert(meta.getInt(2) == 44100)
    assert(meta.getLong(4) == 5 * 1152L)
    assert(tags(blob).get._1 == "Chained")
  }

  test("unsynchronization (tag-level) reverses FF 00; damaged framing " +
    "and tagless blobs are NULL") {
    // hand-patch: a v2.3 tag whose flag claims unsync and whose body
    // carries FF 00 sequences that must collapse to FF
    val raw = Id3Kernels.buildV2(3, Seq(("TIT2", "AÿB", 0)))
    // build an unsynced variant: insert 00 after each FF in the body
    val body = raw.drop(10)
    val unsynced = new java.io.ByteArrayOutputStream()
    body.foreach { x =>
      unsynced.write(x)
      if ((x & 0xff) == 0xff) unsynced.write(0)
    }
    val ub = unsynced.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes("US-ASCII"))
    out.write(3); out.write(0); out.write(0x80) // unsync flag
    out.write((ub.length >> 21) & 0x7f); out.write((ub.length >> 14) & 0x7f)
    out.write((ub.length >> 7) & 0x7f); out.write(ub.length & 0x7f)
    out.write(ub)
    assert(tags(out.toByteArray).get._1 == "AÿB")
    // damaged: frame size overruns the tag
    val bad = Id3Kernels.buildV2(3, Seq(("TIT2", "x", 0)))
    bad(15) = 0x7f // inflate the first frame's 4-byte size past the tag
    assert(tags(bad).isEmpty)
    assert(tags(Id3Kernels.buildFrames(2)).isEmpty) // tagless
    assert(tags("random junk".getBytes("UTF-8")).isEmpty)
    assert(Id3Kernels.id3Tags(null) == null)
    val good = Id3Kernels.buildV2(3, Seq(("TIT2", "t", 0)))
    var cut = 1
    while (cut < good.length) {
      Id3Kernels.id3Tags(java.util.Arrays.copyOf(good, cut))
      cut += 2
    }
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, Id3Kernels.buildV2(3, Seq(("TIT2", "sql song", 0)))),
      (2, "none".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("id3_t")
    val rows = spark.sql(
      "SELECT id, id3_tags(b).title AS t FROM id3_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "sql song")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.id3Tags($"b")
      .getField("title").as("t")).collect()
    assert(viaCol(0).getString(0) == "sql song" && viaCol(1).isNullAt(0))
  }
}

package graft

import graft.functions.ZipKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[ZipKernels]] — central-directory ZIP listing + verified extract.
  * Fixtures come from the JDK's own writer (stored AND deflated, with
  * data descriptors — the wild layout) plus hand-corrupted variants
  * for every fail-closed guard.
  */
class ZipSpec extends SparkSpec {
  import spark.implicits._

  private def build(method: Int, entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      val e = new java.util.zip.ZipEntry(name)
      val bytes = content.getBytes("UTF-8")
      if (method == java.util.zip.ZipEntry.STORED) {
        e.setMethod(method)
        e.setSize(bytes.length)
        val crc = new java.util.zip.CRC32; crc.update(bytes)
        e.setCrc(crc.getValue)
      }
      zo.putNextEntry(e); zo.write(bytes); zo.closeEntry()
    }
    zo.close()
    bos.toByteArray
  }

  private def names(b: Array[Byte]): Seq[(String, Int, Long, Long)] = {
    val a = ZipKernels.entries(b)
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 4)
      (r.getUTF8String(0).toString, r.getInt(1), r.getLong(2), r.getLong(3))
    }
  }

  private def text(b: Array[Byte], name: String): String =
    Option(ZipKernels.extract(b, UTF8String.fromString(name)))
      .map(new String(_, "UTF-8")).orNull

  test("stored and deflated JDK archives: listing, extraction, CRC verify") {
    val stored = build(java.util.zip.ZipEntry.STORED,
      "a.txt" -> "alpha content", "dir/b.txt" -> "beta content")
    assert(names(stored).map(e => (e._1, e._2, e._4)) ==
      Seq(("a.txt", 0, 13L), ("dir/b.txt", 0, 12L)))
    assert(text(stored, "a.txt") == "alpha content")
    assert(text(stored, "dir/b.txt") == "beta content")
    assert(text(stored, "missing") == null)
    val deflated = build(java.util.zip.ZipEntry.DEFLATED,
      "d.txt" -> ("repeat " * 50))
    val ds = names(deflated)
    assert(ds.map(_._1) == Seq("d.txt"))
    assert(ds.head._2 == 8 && ds.head._3 < ds.head._4) // really compressed
    assert(text(deflated, "d.txt") == "repeat " * 50)
  }

  test("archive comment tolerated; empty archive lists zero entries") {
    val z = build(java.util.zip.ZipEntry.DEFLATED, "x" -> "y")
    // append an EOCD comment by rewriting the comment length
    val commented = z.dropRight(2) ++ Array[Byte](5, 0) ++ "hello".getBytes
    assert(names(commented).map(_._1) == Seq("x"))
    assert(text(commented, "x") == "y")
    val empty = build(java.util.zip.ZipEntry.DEFLATED)
    assert(names(empty) == Seq.empty)
  }

  test("fail-closed: corruption, truncation, CRC mismatch, encryption flag") {
    val z = build(java.util.zip.ZipEntry.STORED, "a.txt" -> "alpha content")
    assert(names(z.dropRight(1)) == null)          // truncated EOCD
    assert(names(z.take(20)) == null)              // no EOCD at all
    assert(names("PK".getBytes) == null)
    // flip a payload byte: listing still reads (header-only), extract
    // must catch the CRC mismatch
    val flipped = z.clone()
    val payloadAt = 30 + "a.txt".length // first LFH data byte
    flipped(payloadAt) = (flipped(payloadAt) ^ 0x5a).toByte
    assert(names(flipped) != null)
    assert(text(flipped, "a.txt") == null)
    // set the encryption flag in the central directory: whole archive refused
    val enc = z.clone()
    val cdOff = {
      var i = enc.length - 22
      while (!(enc(i) == 'P' && enc(i + 1) == 'K' && enc(i + 2) == 5 && enc(i + 3) == 6)) i -= 1
      ((enc(i + 16) & 0xff) | ((enc(i + 17) & 0xff) << 8) |
        ((enc(i + 18) & 0xff) << 16) | ((enc(i + 19) & 0xff) << 24))
    }
    enc(cdOff + 8) = (enc(cdOff + 8) | 0x1).toByte
    assert(names(enc) == null)
    // fuzz: random bytes and random flips never throw
    val rnd = new scala.util.Random(0x21bca)
    for (_ <- 0 until 300) {
      val junk = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      ZipKernels.entries(junk)
      val fl = z.clone()
      fl(rnd.nextInt(fl.length)) = (fl(rnd.nextInt(fl.length)) ^ rnd.nextInt(256)).toByte
      ZipKernels.entries(fl)
      ZipKernels.extract(fl, UTF8String.fromString("a.txt"))
    }
  }

  test("DataFrame + SQL surface: docx-style chain (zip -> xml member)") {
    val docx = build(java.util.zip.ZipEntry.DEFLATED,
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" -> "<w:document><w:t>doc body text</w:t></w:document>")
    val row = Seq((1L, docx)).toDF("id", "blob")
      .select(col("id"),
        size(Kernels.zipEntries(col("blob"))).as("n"),
        decode(Kernels.zipExtract(col("blob"),
          lit("word/document.xml")), "UTF-8").as("x"))
      .head()
    assert(row.getInt(1) == 2)
    assert(row.getString(2).contains("doc body text"))
    val viaSql = spark.sql("SELECT zip_entries(unhex('00')) IS NULL AS n")
      .as[Boolean].head()
    assert(viaSql)
  }
}

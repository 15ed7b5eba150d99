package graft

import graft.functions.TarKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[TarKernels]] — ustar walk with verified checksums. Fixtures are
  * built header-by-header (plus GNU long-name records), with
  * hand-corrupted variants for the fail-closed guards.
  */
class TarSpec extends SparkSpec {
  import spark.implicits._

  private def hdr(name: String, size: Int, typeflag: Char = '0'): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val bs = s.getBytes("ISO-8859-1")
      System.arraycopy(bs, 0, h, off, bs.length)
    }
    put(0, name)
    put(100, "0000644 "); put(108, "0000000 "); put(116, "0000000 ")
    put(124, f"$size%011o" + " ")
    put(136, "00000000000 ")
    h(156) = typeflag.toByte
    put(257, "ustar 00")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(b => sum += (b & 0xff))
    put(148, f"$sum%06o" + "  ")
    h
  }

  private def member(name: String, content: String,
                     typeflag: Char = '0'): Array[Byte] = {
    val data = content.getBytes("UTF-8")
    val blocks = (data.length + 511) / 512
    hdr(name, data.length, typeflag) ++ java.util.Arrays.copyOf(data, blocks * 512)
  }

  private def tar(members: Array[Byte]*): Array[Byte] =
    members.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray) ++
      new Array[Byte](1024)

  private def names(b: Array[Byte]): Seq[(String, String, Long)] = {
    val a = TarKernels.entries(b)
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 3)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getLong(2))
    }
  }

  private def text(b: Array[Byte], n: String): String =
    Option(TarKernels.extract(b, UTF8String.fromString(n)))
      .map(new String(_, "UTF-8")).orNull

  test("members, directories, multi-block data, end marker optional") {
    val t3 = tar(member("a.txt", "alpha"),
      member("dir/", "", typeflag = '5'),
      member("big.txt", "x" * 700))
    assert(names(t3) == Seq(("a.txt", "0", 5L), ("dir/", "5", 0L),
      ("big.txt", "0", 700L)))
    assert(text(t3, "a.txt") == "alpha")
    assert(text(t3, "big.txt") == "x" * 700)
    assert(text(t3, "dir/") == null)    // not a regular file
    assert(text(t3, "missing") == null)
    // no end marker at all: still fine (many writers truncate it)
    val noMarker = member("only.txt", "body")
    assert(names(noMarker) == Seq(("only.txt", "0", 4L)))
  }

  test("GNU long names ('L' record) and ustar prefix field") {
    val long = "deeply/nested/" + ("n" * 90) + "/file.txt"
    val t1 = tar(member("././@LongLink", long, typeflag = 'L') ++
      member("truncated.txt", "payload"))
    assert(names(t1) == Seq((long, "0", 7L)))
    assert(text(t1, long) == "payload")
    // ustar prefix split: prefix field + '/' + name
    val h = hdr("leaf.txt", 3)
    val pfx = "some/prefix".getBytes("ISO-8859-1")
    System.arraycopy(pfx, 0, h, 345, pfx.length)
    // re-checksum after editing the prefix field
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L; h.foreach(b => sum += (b & 0xff))
    System.arraycopy((f"$sum%06o" + "  ").getBytes("ISO-8859-1"), 0, h, 148, 8)
    val t2 = h ++ java.util.Arrays.copyOf("abc".getBytes, 512) ++ new Array[Byte](1024)
    assert(names(t2) == Seq(("some/prefix/leaf.txt", "0", 3L)))
  }

  test("fail-closed: bad checksum, bad size, truncation, ragged tail, fuzz") {
    val good = tar(member("a.txt", "alpha"))
    val badSum = good.clone(); badSum(0) = 'z'.toByte // name change breaks sum
    assert(names(badSum) == null)
    val badSize = good.clone(); badSize(124) = 'Q'.toByte
    assert(names(badSize) == null)
    assert(names(good.take(700)) == null)  // truncated data
    assert(names(good ++ "junk".getBytes) == null) // garbage after end marker
    assert(names(good.dropRight(100)) == null)     // ragged zero tail
    assert(names(new Array[Byte](100)) == null)    // too short
    val rnd = new scala.util.Random(0x7a5)
    for (_ <- 0 until 200) {
      val junk = Array.fill(rnd.nextInt(1600))(rnd.nextInt(256).toByte)
      TarKernels.entries(junk)
      val fl = good.clone()
      fl(rnd.nextInt(fl.length)) = (fl(rnd.nextInt(fl.length)) ^ rnd.nextInt(256)).toByte
      TarKernels.entries(fl)
      TarKernels.extract(fl, UTF8String.fromString("a.txt"))
    }
  }

  test("DataFrame + SQL + tar.gz chain") {
    val t1 = tar(member("m.txt", "tar gz payload"))
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(t1); g.close()
    val row = Seq((1L, bos.toByteArray)).toDF("id", "tgz")
      .select(Kernels.tarEntries(
        Kernels.gunzip(col("tgz"))).as("es"),
        decode(Kernels.tarExtract(
          Kernels.gunzip(col("tgz")), lit("m.txt")),
          "UTF-8").as("t"))
      .select(col("es").getItem(0).getField("name"), col("t")).head()
    assert(row.getString(0) == "m.txt" && row.getString(1) == "tar gz payload")
    val viaSql = spark.sql("SELECT tar_entries(unhex('00')) IS NULL AS n")
      .as[Boolean].head()
    assert(viaSql)
  }
}

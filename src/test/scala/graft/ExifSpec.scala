package graft

import graft.functions.ExifKernels
import org.apache.spark.sql.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** [[ExifKernels]] — EXIF extraction from JPEG APP1 and bare TIFF:
  * IFD walk, sub-IFD DateTimeOriginal preference, GPS DMS assembly,
  * endianness, and fail-closed framing. The spliced-APP1 fixture
  * stays decodable by the JPEG pixel tier. */
class ExifSpec extends AnyFunSuite {

  private def meta(b: Array[Byte]) = {
    val r = ExifKernels.exifMeta(b)
    if (r == null) None
    else Some((
      if (r.isNullAt(0)) -1 else r.getInt(0),
      if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
      if (r.isNullAt(2)) null else r.getUTF8String(2).toString,
      if (r.isNullAt(3)) null else r.getUTF8String(3).toString,
      if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
      if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
  }

  test("bare TIFF EXIF block: orientation, make/model, " +
    "DateTimeOriginal preferred over IFD0 DateTime, GPS DMS with signs") {
    val exif = ExifKernels.buildExif(6, "Acme", "Shooter 3000",
      "2021:07:14 12:34:56", Some((48.8584, -123.5)))
    val Some((o, dt, mk, md, lat, lon)) = meta(exif)
    assert(o == 6 && mk == "Acme" && md == "Shooter 3000")
    assert(dt == "2021:07:14 12:34:56") // sub-IFD wins over 1999 stub
    assert(math.abs(lat - 48.8584) < 2e-4) // DMS at 1/100s granularity
    assert(math.abs(lon - -123.5) < 2e-4 && lon < 0)
  }

  test("JPEG APP1 splice: exif extracted AND the image still decodes " +
    "in the pixel tier") {
    val jpeg = graft.functions.ImageEncoders.jpegGrayBlocks(
      Array.tabulate(8, 8)((r, c) => (r * 8 + c) * 2 % 256))
    val tagged = ExifKernels.app1Splice(jpeg,
      ExifKernels.buildExif(1, "Cam", "M1", "2020:01:02 03:04:05", None))
    val Some((o, dt, mk, _, lat, _)) = meta(tagged)
    assert(o == 1 && mk == "Cam" && dt == "2020:01:02 03:04:05")
    assert(lat.isNaN) // no GPS IFD
    // the tagged JPEG still decodes (marker walk skips APP1)
    assert(graft.functions.PHashKernels.dhash64(tagged) != null)
    assert(graft.functions.MediaKernels.imageMeta(tagged) != null)
  }

  test("fail-closed: JPEG without EXIF, junk, truncation, damaged IFD") {
    val plain = graft.functions.ImageEncoders.jpegGrayBlocks(
      Array.tabulate(8, 8)((_, _) => 128))
    assert(meta(plain).isEmpty) // no APP1: nothing to vouch for
    assert(meta("junk bytes".getBytes("UTF-8")).isEmpty)
    assert(ExifKernels.exifMeta(null) == null)
    val exif = ExifKernels.buildExif(3, "A", "B", "2000:01:01 00:00:00",
      Some((1.5, 2.5)))
    var cut = 1
    while (cut < exif.length) {
      ExifKernels.exifMeta(java.util.Arrays.copyOf(exif, cut))
      cut += 3
    }
    val bad = exif.clone()
    bad(7) = 0x7f // IFD0 pointer far past the block
    assert(meta(bad).isEmpty)
  }

  test("SQL + column form") {
    val spark = SparkSpec.session
    import spark.implicits._
    val exif = ExifKernels.buildExif(8, "SqlCam", "S", "2024:05:06 07:08:09", None)
    val df = Seq((1, exif), (2, "none".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("exif_t")
    val rows = spark.sql(
      "SELECT id, exif_meta(b).orientation AS o, exif_meta(b).make AS mk " +
        "FROM exif_t ORDER BY id").collect()
    assert(rows(0).getInt(1) == 8 && rows(0).getString(2) == "SqlCam")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(Kernels.exifMeta($"b")
      .getField("model").as("m")).collect()
    assert(viaCol(0).getString(0) == "S" && viaCol(1).isNullAt(0))
  }
}

package graft

import graft.functions.{ArchiveKernels, KernelReferences}
import org.scalatest.funsuite.AnyFunSuite

/** [[ArchiveKernels]] — 7z / RAR4 / RAR5 triage over spec-faithful
  * framing from the in-repo builders: signatures, CRCs, block walks,
  * encryption flags, and the fail-closed contract under truncation
  * and bit flips.
  */
class ArchiveTriageSpec extends AnyFunSuite {

  private def sevenZip(b: Array[Byte]): Option[(String, Long, Boolean, Long)] = {
    val r = ArchiveKernels.sevenZipMeta(b)
    if (r == null) None
    else Some((r.getUTF8String(0).toString, r.getLong(1), r.getBoolean(2),
      r.getLong(3)))
  }

  private def rar(b: Array[Byte]): Option[(Int, Long, Long, Boolean)] = {
    val r = ArchiveKernels.rarMeta(b)
    if (r == null) None
    else Some((r.getInt(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
  }

  test("7z: version, next-header size/class, pack bytes; CRCs verified") {
    val packed = Array.tabulate[Byte](300)(i => (i * 7).toByte)
    val plainHeader = Array[Byte](0x01, 0x04, 0x06, 0x00) // kHeader-ish
    val encHeader = Array[Byte](0x17, 0x06, 0x01) // kEncodedHeader
    assert(sevenZip(ArchiveKernels.build7z(packed, plainHeader)) ==
      Some(("0.4", 4L, false, 300L)))
    assert(sevenZip(ArchiveKernels.build7z(packed, encHeader)) ==
      Some(("0.4", 3L, true, 300L)))
    // CRC damage in the next header: refused
    val good = ArchiveKernels.build7z(packed, plainHeader)
    val mut = good.clone()
    mut(mut.length - 1) = (mut.last ^ 1).toByte
    assert(sevenZip(mut).isEmpty)
    // start-header CRC damage: refused
    val mut2 = good.clone()
    mut2(13) = (mut2(13) ^ 1).toByte
    assert(sevenZip(mut2).isEmpty)
    // truncation never throws
    var cut = 1
    while (cut < good.length) {
      ArchiveKernels.sevenZipMeta(java.util.Arrays.copyOf(good, cut))
      cut += 17
    }
    assert(sevenZip("not7z".getBytes("UTF-8")).isEmpty)
    assert(ArchiveKernels.sevenZipMeta(null) == null)
  }

  test("rar5: block walk counts files, end block stops, encryption " +
    "header reports encrypted; CRC damage refused") {
    assert(rar(ArchiveKernels.buildRar5(Seq(10, 20, 30))) ==
      Some((5, 5L, 3L, false))) // main + 3 files + end
    assert(rar(ArchiveKernels.buildRar5(Seq.empty)) == Some((5, 2L, 0L, false)))
    assert(rar(ArchiveKernels.buildRar5(Seq(5), encrypted = true)) ==
      Some((5, 1L, 0L, true)))
    val good = ArchiveKernels.buildRar5(Seq(10))
    val mut = good.clone()
    mut(12) = (mut(12) ^ 1).toByte // inside the first block header
    assert(rar(mut).isEmpty)
    var cut = 1
    while (cut < good.length) {
      ArchiveKernels.rarMeta(java.util.Arrays.copyOf(good, cut))
      cut += 7
    }
  }

  test("rar4: legacy block walk, ADD_SIZE data areas, encrypted-headers " +
    "flag, CRC16 verified") {
    assert(rar(KernelReferences.buildRar4(2)) == Some((4, 4L, 2L, false)))
    assert(rar(KernelReferences.buildRar4(0)) == Some((4, 2L, 0L, false)))
    assert(rar(KernelReferences.buildRar4(1, encrypted = true)) ==
      Some((4, 1L, 0L, true)))
    val good = KernelReferences.buildRar4(1)
    val mut = good.clone()
    mut(9) = (mut(9) ^ 1).toByte
    assert(rar(mut).isEmpty)
    assert(rar("Rar!not really".getBytes("ISO-8859-1")).isEmpty)
    assert(ArchiveKernels.rarMeta(null) == null)
  }

  test("SQL registration + column forms") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = Seq(
      (1, ArchiveKernels.build7z(Array[Byte](1, 2, 3), Array[Byte](0x01))),
      (2, ArchiveKernels.buildRar5(Seq(4, 4))),
      (3, "junk".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("arc_t")
    val rows = spark.sql(
      "SELECT id, sevenzip_meta(b).pack_bytes AS pb, " +
        "rar_meta(b).n_files AS nf FROM arc_t ORDER BY id").collect()
    assert(rows(0).getLong(1) == 3 && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getLong(2) == 2)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }
}

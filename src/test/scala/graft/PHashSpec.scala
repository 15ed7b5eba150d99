package graft

import graft.functions.PHashKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

/** [[PHashKernels]] dHash + [[graft.operators.Dedup.sketchPairs]]. */
class PHashSpec extends SparkSpec {
  import spark.implicits._

  private def pgm(w: Int, h: Int, px: Int => Int): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes("ISO-8859-1")
    header ++ Array.tabulate(w * h)(i => px(i).toByte)
  }

  private def ppm(w: Int, h: Int, px: Int => (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("ISO-8859-1")
    header ++ (0 until w * h).flatMap { i =>
      val (r, g, b) = px(i); Seq(r.toByte, g.toByte, b.toByte)
    }.toArray
  }

  /** 24-bit BI_RGB BMP, bottom-up (positive height). */
  private def bmp(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val out = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(0).putInt(0).putInt(0).putInt(0)
    for (r <- 0 until h; // stored bottom-up: row r is image row h-1-r
         x <- 0 until w) {
      val (pr, pg, pb) = px(x, h - 1 - r)
      out.put(pb.toByte).put(pg.toByte).put(pr.toByte)
      if (x == w - 1) for (_ <- 3 * w until rowSize) out.put(0.toByte)
    }
    out.array()
  }

  private def h64(b: Array[Byte]): java.lang.Long = PHashKernels.dhash64(b)

  test("dhash: 9x8 PGM is one pixel per cell; gradient bits row-major") {
    // pixels strictly increasing left-to-right -> every bit set
    val up = pgm(9, 8, i => (i % 9) * 20)
    assert(h64(up) == -1L) // all 64 bits
    // strictly decreasing -> no bits
    val down = pgm(9, 8, i => (8 - i % 9) * 20)
    assert(h64(down) == 0L)
    // flat -> no bits (strict <)
    assert(h64(pgm(9, 8, _ => 100)) == 0L)
    // exactly one rising edge in row 0 between cols 3 and 4 -> bit 3
    val one = pgm(9, 8, i => if (i < 9) (if (i % 9 <= 3) 10 else 200) else 50)
    assert(h64(one) == (1L << 3))
  }

  test("dhash: downsampling means, luma weighting, P6/BMP agreement") {
    // an 18x16 image where each 2x2 block is constant equals the 9x8
    // image of the block values
    val small = Array.tabulate(72)(i => (i * 37) % 256)
    val big = pgm(18, 16, i => {
      val x = i % 18; val y = i / 18
      small((y / 2) * 9 + (x / 2))
    })
    assert(h64(big) == h64(pgm(9, 8, small(_))))
    // pure-gray P6 equals the PGM (luma of r=g=b is the gray value)
    val asPpm = ppm(9, 8, i => (small(i), small(i), small(i)))
    assert(h64(asPpm) == h64(pgm(9, 8, small(_))))
    // BMP bottom-up stores rows reversed; the kernel must un-reverse
    val asBmp = bmp(9, 8, (x, y) =>
      (small(y * 9 + x), small(y * 9 + x), small(y * 9 + x)))
    assert(h64(asBmp) == h64(pgm(9, 8, small(_))))
    // a one-pixel edit moves the hash by at most a couple of bits
    val edited = small.clone(); edited(0) = (edited(0) + 60) % 256
    val d = java.lang.Long.bitCount(
      h64(pgm(9, 8, small(_))) ^ h64(pgm(9, 8, edited(_))))
    assert(d <= 2, s"one-pixel edit moved $d bits")
  }

  test("fail-closed: tiny images, codec formats, malformed framing") {
    assert(h64(pgm(8, 8, _ => 1)) == null)  // too narrow
    assert(h64(pgm(9, 7, _ => 1)) == null)  // too short
    assert(h64("P5\n9 8\n255\n".getBytes ++ new Array[Byte](71)) == null) // short data
    assert(h64(pgm(9, 8, _ => 1) ++ "junk".getBytes) == null) // trailing bytes
    assert(h64("P5\n9 8\n65535\n".getBytes ++ new Array[Byte](144)) == null) // 16-bit
    assert(h64(Array[Byte](0x89.toByte, 'P', 'N', 'G')) == null) // truncated codec stream
    assert(h64(Array.emptyByteArray) == null)
    assert(h64(null) == null)
    // fuzz: random bytes never throw
    val rnd = new scala.util.Random(0x9a5e)
    for (_ <- 0 until 300)
      h64(Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte))
  }

  // ---- round 15: codec formats through the decoders' pixel-sink mode ----

  private def gridPx(f: Int => Int): Array[Int] = Array.tabulate(72)(f)

  test("codec dhash: PNG/GIF/TIFF of the same gray pixels hash identically " +
    "to the PGM (lossless decode through the pixel sink)") {
    import graft.functions.ImageEncoders
    val px = gridPx(i => (i * 37 + (i * i) % 91) % 256)
    val ref = h64(pgm(9, 8, px(_)))
    assert(ref != null)
    assert(h64(ImageEncoders.pngGray(9, 8, px)) == ref)
    assert(h64(ImageEncoders.gifGray(9, 8, px)) == ref)
    assert(h64(ImageEncoders.tiffGray(9, 8, px)) == ref)
    // larger-than-grid: downsampling means must agree across formats
    val big = Array.tabulate(27 * 16)(i => (i * 53 + i / 27 * 11) % 256)
    val refBig = h64("P5\n27 16\n255\n".getBytes("ISO-8859-1") ++
      big.map(_.toByte))
    assert(refBig != null)
    assert(h64(ImageEncoders.pngGray(27, 16, big)) == refBig)
    assert(h64(ImageEncoders.tiffGray(27, 16, big)) == refBig)
    // too small for the grid: codec decode succeeds, sink refuses
    assert(h64(ImageEncoders.pngGray(8, 8, Array.fill(64)(5))) == null)
    assert(h64(ImageEncoders.gifGray(9, 7, Array.fill(63)(5))) == null)
  }

  test("codec dhash: DC-only constant-block JPEG (72x64, one block per " +
    "grid cell) equals the 9x8 PGM of the block values — lossy made exact") {
    import graft.functions.ImageEncoders
    val px = gridPx(i => ((i * 73) % 251 + i) % 256)
    val blocks = Array.tabulate(8, 9)((r, c) => px(r * 9 + c))
    val jpeg = ImageEncoders.jpegGrayBlocks(blocks)
    assert(h64(jpeg) != null)
    assert(h64(jpeg) == h64(pgm(9, 8, px(_))))
  }

  test("codec dhash: ImageIO-encoded PNG (real encoder filters) and its " +
    "Adam7 interlaced form hash identically to the equivalent PPM — " +
    "pass-to-image coordinate mapping pinned") {
    val (w, h) = (23, 17)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgbPx = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      ((x * 31 + y * 57) % 256, (x * 7 + y * 3) % 256, (x * x + y) % 256)
    }
    rgbPx.zipWithIndex.foreach { case ((r, g, b), i) =>
      img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b) }
    val ref = h64(ppm(w, h, rgbPx(_)))
    assert(ref != null)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    assert(h64(bos.toByteArray) == ref)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val b2 = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(b2)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    val adam7 = b2.toByteArray
    assert(adam7(28) == 1, "encoder did not produce an Adam7 stream")
    assert(h64(adam7) == ref)
  }

  test("imageNearDupPairs: banded join equals brute force; NULL hashes drop") {
    val rnd = new scala.util.Random(1123)
    val base = Array.fill(40)(Array.tabulate(72)(_ => rnd.nextInt(256)))
    val rows = (0 until 40).flatMap { i =>
      val orig = (i.toLong, pgm(9, 8, base(i)(_)))
      // every 4th image gets a near-dup twin (one-pixel edit)
      if (i % 4 == 0) {
        val edit = base(i).clone(); edit(30) = (edit(30) + 80) % 256
        Seq(orig, (100L + i, pgm(9, 8, edit(_))))
      } else Seq(orig)
    } :+ (999L, "not an image".getBytes("UTF-8").asInstanceOf[Array[Byte]])
    val df = rows.toDF("id", "img")
    val banded = graft.operators.Dedup
      .sketchPairs(df, Kernels.dHash64(col("img")), "id",
        maxHamming = 6, bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the same hashes
    val hs = rows.flatMap { case (id, b) =>
      Option(PHashKernels.dhash64(b)).map(h => id -> h.longValue()) }
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(banded == brute)
    assert(brute.exists { case (a, b, _) => b == a + 100 }) // planted twins found
    assert(!banded.exists(p => p._1 == 999L || p._2 == 999L)) // junk dropped
  }

  test("SQL surface: dhash64 registered") {
    val hex = pgm(9, 8, i => i * 3).map("%02x".format(_)).mkString
    val viaSql = spark.sql(s"SELECT dhash64(unhex('$hex')) AS h").as[Long].head()
    assert(viaSql == h64(pgm(9, 8, i => i * 3)).longValue())
  }

  test("codegen: two dhash64 calls over NON-NULLABLE children in one " +
    "projection compile (fresh locals, no duplicate identifier — ADVICE r14)") {
    val a = pgm(9, 8, i => i * 2)
    val c = pgm(9, 8, i => 255 - i)
    // coalesce(col, lit) is non-nullable (lit is) and non-foldable (col is):
    // nullSafeCodeGen emits the kernel block UNBRACED, the regime where a
    // fixed-name local collides. fallback=false turns a Janino failure into
    // a thrown error instead of a silent interpreted fallback.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = Seq((1, null.asInstanceOf[Array[Byte]]))
        .toDF("id", "binCol")
        .select(
          // X'..' literals (not unhex: Unhex is nullable and would brace
          // the generated block, missing the collision regime)
          expr("dhash64(coalesce(binCol, X'" +
            a.map("%02x".format(_)).mkString + "'))").as("ha"),
          expr("dhash64(coalesce(binCol, X'" +
            c.map("%02x".format(_)).mkString + "'))").as("hc"))
        .head()
      assert(rows.getLong(0) == h64(a).longValue())
      assert(rows.getLong(1) == h64(c).longValue())
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}

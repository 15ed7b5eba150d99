package graft

import graft.functions.LayoutKernels
import graft.sources.Sinks
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Z-order layout: kernel order properties and the measured
  * file-skipping win over a single-column sort.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("morton2: monotone per coordinate, signed order preserved") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val a = rnd.nextInt(Int.MaxValue - 1) - Int.MaxValue / 2
      val b = rnd.nextInt(Int.MaxValue - 1) - Int.MaxValue / 2
      assert(LayoutKernels.morton2(a + 1, b) > LayoutKernels.morton2(a, b))
      assert(LayoutKernels.morton2(a, b + 1) > LayoutKernels.morton2(a, b))
    }
    assert(LayoutKernels.morton2(-1, 0) < LayoutKernels.morton2(0, 0))
    assert(LayoutKernels.morton2(0, 0) < LayoutKernels.morton2(1, 0))
    assert(LayoutKernels.morton2(Int.MinValue, Int.MinValue) <
      LayoutKernels.morton2(Int.MaxValue, Int.MaxValue))
  }

  test("zorder2 from SQL matches the kernel") {
    org.apache.spark.sql.GraftSqlFunctions.register(spark)
    val v = spark.sql("SELECT zorder2(3, 5) AS z").as[Long].head()
    assert(v == LayoutKernels.morton2(3, 5))
  }

  test("mortonN: per-dim monotone in range, saturates out of range, nulls first") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def m(vs: Int*): Long = LayoutKernels.mortonN(
      new GenericArrayData(vs.toArray.map(v => v: Any)), vs.size)
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val k = 2 + rnd.nextInt(4) // 2..5 dims
      val bits = 64 / k
      val vs = Array.fill(k)(rnd.nextInt((1 << math.min(bits, 30)) - 1))
      val base = m(vs.toSeq: _*)
      for (d <- 0 until k) {
        val up = vs.clone(); up(d) += 1
        assert(m(up.toSeq: _*) > base, s"k=$k d=$d vs=${vs.toSeq}")
      }
    }
    // saturation: below range clamps to bucket 0; above the 21-bit
    // 3-dim bucket range clamps to the top bucket (order-safe)
    assert(m(-5, 7) == m(0, 7))
    assert(m(5000000, 7, 7) == m((1 << 21) - 1, 7, 7))
    // 3-dim key from SQL, null coordinate sorts first
    org.apache.spark.sql.GraftSqlFunctions.register(spark)
    val sql = spark.sql(
      "SELECT zorder_n(array(1, 2, 3), 3) AS a, zorder_n(array(CAST(NULL AS INT), 2, 3), 3) AS b")
      .head()
    assert(sql.getLong(0) == m(1, 2, 3))
    assert(sql.getLong(1) < sql.getLong(0)) // null dim = bucket 0
  }

  test("hilbert2: bijection with UNIT-step adjacency — the locality Morton lacks") {
    val bits = 3 // full 8x8 grid, exhaustive
    val cells = (0L until 64L).map(d => LayoutKernels.unhilbert2(d, bits))
    assert(cells.distinct.size == 64) // bijection onto the grid
    // every consecutive curve step moves to an ADJACENT cell
    cells.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-unit step ($x1,$y1)->($x2,$y2)")
    }
    // Morton's diagnostic defect: it has non-adjacent jumps (Z seams)
    val mortonCells = (0 until 64).map { d =>
      var x = 0; var y = 0
      for (j <- 0 until 3) {
        x |= ((d >> (2 * j)) & 1) << j
        y |= ((d >> (2 * j + 1)) & 1) << j
      }
      (x, y)
    }
    assert(mortonCells.sliding(2).exists { case Seq((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    })
  }

  test("hilbert2: encode/decode round-trip and saturating clamp at bits=16") {
    val rnd = new scala.util.Random(19)
    for (_ <- 1 to 500) {
      val x = rnd.nextInt(1 << 16)
      val y = rnd.nextInt(1 << 16)
      val d = LayoutKernels.hilbert2(x, y, 16)
      assert(d >= 0 && d < (1L << 32))
      assert(LayoutKernels.unhilbert2(d, 16) == ((x, y)))
    }
    // out-of-range saturates to the edge cells, never wraps
    assert(LayoutKernels.hilbert2(-5, 7, 16) == LayoutKernels.hilbert2(0, 7, 16))
    assert(LayoutKernels.hilbert2(1 << 20, 7, 16) ==
      LayoutKernels.hilbert2((1 << 16) - 1, 7, 16))
  }

  test("hilbert2/unhilbert2 from SQL match the kernel") {
    org.apache.spark.sql.GraftSqlFunctions.register(spark)
    val r = spark.sql(
      "SELECT hilbert2(300, 77, 16) AS h, unhilbert2(hilbert2(300, 77, 16), 16) AS d")
      .head()
    assert(r.getLong(0) == LayoutKernels.hilbert2(300, 77, 16))
    assert(r.getSeq[Int](1) == Seq(300, 77))
  }

  test("z-ordered files bound BOTH dimensions; x-sorted files do not") {
    // 100x100 grid, shuffled arrival order
    val rnd = new scala.util.Random(7)
    val grid = rnd.shuffle((for (x <- 0 until 100; y <- 0 until 100)
      yield (x, y)).toVector).toDF("x", "y")
    val zDir = Files.createTempDirectory("zorder").toString + "/t"
    val xDir = Files.createTempDirectory("xsort").toString + "/t"
    Sinks.writeZOrdered(grid, "x", "y", zDir, numFiles = 64)
    grid.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)

    // per-FILE min/max spans — what parquet footer pruning actually sees
    def spans(dir: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(max("x") - min("x"), max("y") - min("y")).head()
          (r.getInt(0).toLong, r.getInt(1).toLong)
        }
    val z = spans(zDir)
    val xs = spans(xDir)
    assert(z.size >= 32 && xs.size >= 32)
    // x-sorted layout: y is unclustered — every file spans ~the full y
    // range; z-order bounds BOTH spans (≈√cells per side) for all but
    // the few files whose z-range straddles a quad seam of the
    // non-power-of-2 grid
    assert(xs.forall(_._2 >= 90), xs.toString)
    assert(z.count { case (dx, dy) => dx <= 32 && dy <= 32 } >= z.size * 3 / 4,
      z.toString)
    // point-predicate pruning: files whose [min,max] range could
    // contain the probe value in the given column
    def filesMatching(dir: String, c: String, v: Int): Int =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .count { f =>
          val r = spark.read.parquet(f.toString).agg(min(c), max(c)).head()
          r.getInt(0) <= v && v <= r.getInt(1)
        }
    // the z layout's contract is the WORST probe column: a few-fold
    // fewer files than the table (an x-sort wins x-probes but reads the
    // WHOLE table for a y-probe). Quantile-based range boundaries are
    // not quad-aligned, so the hit count runs ~2× the aligned-quad √N
    // ideal — measured 21 of 64 here; the naive layout reads all 64.
    val zWorst = math.max(filesMatching(zDir, "x", 42), filesMatching(zDir, "y", 42))
    val xWorst = math.max(filesMatching(xDir, "x", 42), filesMatching(xDir, "y", 42))
    assert(xWorst >= xs.size - 1, s"x-sorted layout should fail y-probes: $xWorst")
    assert(zWorst * 2 <= xWorst, s"z worst-column probe hit $zWorst of ${z.size}")
  }
}

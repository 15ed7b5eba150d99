package graft.functions

/** Perceptual image hashing (round 14) — dHash, the
  * difference-gradient hash every image-dedup pipeline starts with
  * (Krawetz 2013): downsample to a 9×8 grayscale grid, emit one bit
  * per horizontal neighbor pair (left < right), pack row-major into a
  * 64-bit signature. Near-duplicate images (recompressions, small
  * edits, overlays) land within a few bits; the banded Hamming join
  * ([[graft.operators.Dedup.sketchPairs]]) finds them without
  * an all-pairs product — the SimHash machinery pointed at pixels.
  *
  * DETERMINISM: everything is integer arithmetic — ITU-R 601 luma as
  * (299r + 587g + 114b)/1000 integer division, per-cell mean as
  * floor(sum/count), fixed floor cell mapping (x·9/width) — so the
  * hash is bit-identical across engines and replayable by the DuckDB
  * oracle.
  *
  * Decode surface: the uncompressed rasters (binary PPM P6, PGM P5,
  * 24-bit BI_RGB BMP with bottom-up/top-down orientation honored —
  * dHash is orientation-sensitive, unlike the mean-RGB featurizer)
  * keep their strict exact-framing fast paths below; the CODEC
  * formats — PNG (incl. Adam7/16-bit/palette), baseline+progressive
  * JPEG, GIF87a/89a first frame, baseline TIFF — route through the
  * real decoders' round-15 pixel-sink mode
  * ([[RasterKernels.PixelSink]]), so perceptual near-dup covers what
  * a crawl actually contains. The grid contract is unchanged either
  * way: integer luma, floor means, floor cell mapping. JPEG pixel
  * bytes come out of an IEEE-double IDCT — deterministic on the JVM
  * (Math.sqrt is correctly rounded; the Cos table is fixed), and the
  * oracle fixtures use constant 8×8 blocks (DC-only, exact by
  * construction) so the DuckDB replay never depends on rounding
  * margins. Images narrower than 9 or shorter than 8 pixels are NULL
  * (an empty grid cell would make the gradient undefined).
  */
object PHashKernels {

  import Decode.{leI32, leU16}

  /** 64-bit dHash of a supported raster blob, or null. */
  def dhash64(b: Array[Byte]): java.lang.Long = {
    if (b == null || b.length < 2) return null
    val cells =
      if (b(0) == 'P' && b(1) == '6') pnmCells(b, rgb = true)
      else if (b(0) == 'P' && b(1) == '5') pnmCells(b, rgb = false)
      else if (b(0) == 'B' && b(1) == 'M') bmpCells(b)
      else codecCells(b)
    if (cells == null) return null
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c) < cells(r * 9 + c + 1))
          h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    java.lang.Long.valueOf(h)
  }

  /** 9×8 grid of floor-mean luma values, row-major, or null. */
  private final class Grid(width: Int, height: Int) {
    val sums = new Array[Long](72)
    val counts = new Array[Long](72)
    def add(x: Int, y: Int, r: Int, g: Int, b: Int): Unit = {
      val cell = (y * 8 / height) * 9 + (x * 9 / width)
      sums(cell) += (299 * r + 587 * g + 114 * b) / 1000
      counts(cell) += 1
    }
    def means(): Array[Long] = {
      val m = new Array[Long](72)
      var i = 0
      while (i < 72) {
        if (counts(i) == 0) return null // can't happen for w>=9, h>=8
        m(i) = sums(i) / counts(i)
        i += 1
      }
      m
    }
  }

  /** Codec formats (PNG/JPEG/GIF/TIFF) through the real decoders'
    * pixel-sink mode; null when undecodable or smaller than the grid. */
  private def codecCells(b: Array[Byte]): Array[Long] = {
    val sink = new GridSink
    if (RasterKernels.decodeTo(b, sink)) sink.grid.means() else null
  }

  private final class GridSink extends RasterKernels.PixelSink {
    var grid: Grid = null
    override def begin(w: Int, h: Int): Boolean = {
      if (w < 9 || h < 8) return false
      grid = new Grid(w, h)
      true
    }
    override def add(x: Int, y: Int, r: Int, g: Int, b: Int): Unit =
      grid.add(x, y, r, g, b)
  }

  private def pnmCells(b: Array[Byte], rgb: Boolean): Array[Long] = {
    var i = 2
    def skipSpace(): Boolean = {
      var moved = false
      var go = true
      while (go && i < b.length) {
        val c = b(i) & 0xff
        if (c == ' ' || c == '\t' || c == '\r' || c == '\n') { i += 1; moved = true }
        else if (c == '#') {
          while (i < b.length && b(i) != '\n') i += 1
          moved = true
        } else go = false
      }
      moved
    }
    def readInt(): Int = {
      if (!skipSpace()) return -1
      var v = 0L
      var any = false
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); i += 1; any = true
        if (v > Int.MaxValue) return -1
      }
      if (any) v.toInt else -1
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w < 9 || h < 8 || maxv != 255) return null
    if (i >= b.length) return null
    i += 1 // the single whitespace byte after maxval
    val bytesPerPx = if (rgb) 3 else 1
    val need = w.toLong * h * bytesPerPx
    if (need > Int.MaxValue || i + need != b.length) return null // exact framing
    val grid = new Grid(w, h)
    var y = 0
    var p = i
    while (y < h) {
      var x = 0
      while (x < w) {
        if (rgb) {
          grid.add(x, y, b(p) & 0xff, b(p + 1) & 0xff, b(p + 2) & 0xff)
          p += 3
        } else {
          val g = b(p) & 0xff
          grid.add(x, y, g, g, g)
          p += 1
        }
        x += 1
      }
      y += 1
    }
    grid.means()
  }

  private def bmpCells(b: Array[Byte]): Array[Long] = {
    if (b.length < 54) return null
    val dataOffset = leI32(b, 10).toLong
    val dibSize = leI32(b, 14).toLong
    val width = leI32(b, 18).toLong
    val heightRaw = leI32(b, 22).toLong
    val bpp = leU16(b, 28)
    val compression = leI32(b, 30)
    val height = math.abs(heightRaw)
    if (dibSize < 40L || width < 9L || height < 8L || bpp != 24 ||
        compression != 0 || dataOffset < 14L + dibSize) return null
    if (width > b.length) return null
    val rowSize = ((3L * width + 3L) / 4L) * 4L
    if (dataOffset > b.length || height > (b.length - dataOffset) / rowSize)
      return null
    val grid = new Grid(width.toInt, height.toInt)
    var r = 0
    while (r < height) {
      // positive height = bottom-up storage: stored row r is image
      // row height-1-r (orientation matters for a gradient hash)
      val y = if (heightRaw > 0) (height - 1 - r).toInt else r
      var base = (dataOffset + r * rowSize).toInt
      var x = 0
      while (x < width) {
        grid.add(x, y, b(base + 2) & 0xff, b(base + 1) & 0xff, b(base) & 0xff)
        base += 3
        x += 1
      }
      r += 1
    }
    grid.means()
  }
}

package graft.functions

/** Bit kernels for data-layout keys (Z-order / Morton curves). */
object LayoutKernels {

  /** Spread the low 32 bits of `v` into the even bit positions of a
    * long (the standard Morton dilation ladder).
    */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 2-D Morton (Z-order) key of two 32-bit ints, order-preserving as a
    * SIGNED long: each input's sign bit is flipped before dilation
    * (mapping signed order onto unsigned order) and the interleaved
    * key's top bit is flipped back, so `ORDER BY` on the key walks the
    * curve exactly. Monotone in each coordinate with the other fixed.
    */
  def morton2(a: Int, b: Int): Long = {
    val ua = (a ^ Int.MinValue).toLong & 0xFFFFFFFFL
    val ub = (b ^ Int.MinValue).toLong & 0xFFFFFFFFL
    (spread(ua) | (spread(ub) << 1)) ^ Long.MinValue
  }

  /** 2-D HILBERT curve index of bucket coordinates in [0, 2^bits) —
    * the strictly-better-locality sibling of [[morton2]]: consecutive
    * curve positions are always ADJACENT cells (unit Manhattan step),
    * so a range of keys covers a compact blob with no Z-shaped jumps
    * across the space. That tightens per-file min/max rectangles at
    * equal file counts — the reason lakehouse clustering engines
    * default to Hilbert over Morton for multi-dimensional layout.
    *
    * Standard iterative construction: walk square sizes from
    * 2^(bits-1) down to 1; at each scale accumulate the quadrant's
    * curve offset (s^2 cells, Gray-coded quadrant order) and rotate/
    * reflect the frame so the child square's curve orientation lines
    * up. Inputs saturate to the bucket range (order-preserving, never
    * wrapping — same contract as [[mortonN]]); result is non-negative,
    * so signed `ORDER BY` walks the curve.
    */
  def hilbert2(xIn: Int, yIn: Int, bits: Int): Long = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val max = (1L << bits) - 1L
    val n = 1L << bits
    var x = if (xIn < 0) 0L else if (xIn > max) max else xIn.toLong
    var y = if (yIn < 0) 0L else if (yIn > max) max else yIn.toLong
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse of [[hilbert2]]: the (x, y) bucket cell at curve position
    * `d` — what turns a file's [minKey, maxKey] back into the region
    * it covers. Walks scales small-to-large, un-rotating as it goes.
    */
  def unhilbert2(d: Long, bits: Int): (Int, Int) = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    var x = 0L
    var y = 0L
    var t = d
    var s = 1L
    val n = 1L << bits
    while (s < n) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x.toInt, y.toInt)
  }

  /** [[unhilbert2]] packaged as ArrayData(x, y) — the codegen entry
    * point behind the `unhilbert2` SQL function / expression. */
  def unhilbert2Array(d: Long, bits: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val (x, y) = unhilbert2(d, bits)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(x, y))
  }

  /** N-dimensional Morton key over BUCKET coordinates: each of the k
    * values occupies 64/k interleaved bits (bit j of dim i lands at
    * position j·k + i). Inputs are expected in [0, 2^(64/k)) — column
    * values are rank/bucket/epoch-day-reduced by the caller first, the
    * way production Z-ordering does — and out-of-range values SATURATE
    * to the edge buckets (order-preserving, never wrapping). The result
    * is non-negative, so signed `ORDER BY` walks the curve. k = 2 with
    * full-width inputs wants [[morton2]] instead.
    */
  def mortonN(vals: org.apache.spark.sql.catalyst.util.ArrayData,
              k: Int): Long = {
    val bits = 64 / k
    val max = (1L << bits) - 1
    var out = 0L
    var i = 0
    while (i < k) {
      // NULL coordinates sort first (bucket 0) — the nulls-first layout
      val raw = if (vals.isNullAt(i)) 0L else vals.getInt(i).toLong
      val v = if (raw < 0) 0L else if (raw > max) max else raw
      var j = 0
      while (j < bits) {
        out |= ((v >>> j) & 1L) << (j * k + i)
        j += 1
      }
      i += 1
    }
    out
  }
}

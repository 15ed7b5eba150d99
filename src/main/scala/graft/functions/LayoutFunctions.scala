package graft.functions

import org.apache.spark.sql.{Column, Kernels}

/** Column API over the layout kernels. */
object LayoutFunctions {

  /** 2-D Z-order key of two integer-valued columns (wider types are
    * range-reduced by the caller — rank, bucket, or epoch-day them
    * first; blind truncation of a 64-bit id would fold distant values
    * onto each other).
    */
  def zOrder2(a: Column, b: Column): Column =
    Kernels.zOrder2(a.cast("int"), b.cast("int"))

  /** 2-D Hilbert key over bucket coordinates in [0, 2^bits) —
    * [[zOrder2]]'s better-locality sibling (no Z-jumps: consecutive
    * keys are adjacent cells, so key ranges cover compact regions).
    * Reduce columns to the bucket range first; out-of-range saturates.
    */
  def hilbert2(a: Column, b: Column, bits: Int = 16): Column =
    Kernels.hilbert2(a.cast("int"), b.cast("int"), bits)

  /** Inverse of [[hilbert2]]: key -> array(x, y) bucket cell. */
  def hilbertDecode2(key: Column, bits: Int = 16): Column =
    Kernels.hilbertDecode2(key.cast("bigint"), bits)

  /** N-column Z-order key over BUCKET coordinates — each column gets
    * 64/k interleaved bits, so reduce each to [0, 2^(64/k)) first
    * (rank, hash-bucket, epoch-day); out-of-range saturates. Two
    * full-width int columns want [[zOrder2]].
    */
  def zOrderN(cols: Column*): Column = {
    require(cols.size >= 2 && cols.size <= 32,
      s"zOrderN takes 2..32 columns, got ${cols.size}")
    import org.apache.spark.sql.functions.array
    Kernels.zOrderN(array(cols.map(_.cast("int")): _*), cols.size)
  }
}

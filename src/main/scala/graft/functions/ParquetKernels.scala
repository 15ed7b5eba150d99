package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Parquet BLOB triage (round 16, the r15 verdict's stretch lane):
  * crawled corpora carry parquet files as opaque blobs — data-lake
  * exports, dataset mirrors — and the router could only call them
  * `unknown`. This is METADATA-ONLY triage: footer magic + length
  * check, then a minimal Thrift compact-protocol walk of the
  * FileMetaData struct for (version, num_rows, row-group count,
  * schema-element count). No column chunk is ever touched — the cost
  * is O(footer), not O(blob), the budget a 100 TB triage pass can
  * afford.
  *
  * The walker implements the compact-protocol wire format (varint /
  * zigzag, short-form field deltas, list/map/struct skipping) just far
  * enough to skip ANY well-formed field — unknown fields from newer
  * writers are skipped, not errors. Fail-closed: bad magic, footer
  * length out of range, truncation mid-varint, or nesting deeper than
  * 64 return null.
  */
object ParquetKernels {

  import Decode.{Bad, Cursor, Refused, leU32}

  private val MaxDepth = 64

  /** Skip one value of compact-protocol `tpe`. */
  private def skip(r: Cursor, tpe: Int, depth: Int): Unit = {
    if (depth > MaxDepth) throw Bad
    tpe match {
      case 1 | 2 => () // bool true/false ride the type nibble
      case 3 => r.u8()
      case 4 | 5 | 6 => r.varint()
      case 7 => r.skip(8)
      case 8 => r.skip(r.varint())
      case 9 | 10 => // list / set
        val h = r.u8()
        val n = if ((h >>> 4) == 15) r.varint() else (h >>> 4).toLong
        val et = h & 0x0f
        // bool CONTAINER elements serialize as one byte each (the
        // value-in-type-nibble trick only applies to struct fields)
        if (et == 1 || et == 2) r.skip(n)
        else {
          var i = 0L
          while (i < n) { skip(r, et, depth + 1); i += 1 }
        }
      case 11 => // map
        val n = r.varint()
        if (n > 0) {
          val kv = r.u8()
          def skipElem(t: Int): Unit =
            if (t == 1 || t == 2) r.skip(1) else skip(r, t, depth + 1)
          var i = 0L
          while (i < n) {
            skipElem(kv >>> 4)
            skipElem(kv & 0x0f)
            i += 1
          }
        }
      case 12 => skipStruct(r, depth + 1)
      case _ => throw Bad
    }
  }

  private def skipStruct(r: Cursor, depth: Int): Unit = {
    if (depth > MaxDepth) throw Bad
    var lastId = 0L
    while (true) {
      val h = r.u8()
      if (h == 0) return
      val delta = h >>> 4
      val tpe = h & 0x0f
      lastId = if (delta == 0) r.zigzag() else lastId + delta
      skip(r, tpe, depth)
    }
  }

  /** (version, num_rows, n_row_groups, n_schema_elements) or null. */
  def meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    try {
      if (!(b(0) == 'P' && b(1) == 'A' && b(2) == 'R' && b(3) == '1')) return null
      val n = b.length
      if (!(b(n - 4) == 'P' && b(n - 3) == 'A' && b(n - 2) == 'R' &&
            b(n - 1) == '1')) return null
      val footerLen = leU32(b, n - 8)
      val metaStart = n - 8 - footerLen
      if (footerLen <= 0 || metaStart < 4) return null
      val r = new Cursor(b, metaStart.toInt, n - 8)
      var version = -1L
      var numRows = -1L
      var nRowGroups = -1L
      var nSchema = -1L
      var lastId = 0L
      var done = false
      while (!done) {
        val h = r.u8()
        if (h == 0) done = true
        else {
          val delta = h >>> 4
          val tpe = h & 0x0f
          lastId = if (delta == 0) r.zigzag() else lastId + delta
          (lastId, tpe) match {
            case (1L, 5) => version = r.zigzag()
            case (3L, 6) => numRows = r.zigzag()
            case (2L, 9) | (4L, 9) => // schema / row_groups lists
              val lh = r.u8()
              val cnt = if ((lh >>> 4) == 15) r.varint() else (lh >>> 4).toLong
              val et = lh & 0x0f
              var i = 0L
              while (i < cnt) { skip(r, et, 1); i += 1 }
              if (lastId == 2L) nSchema = cnt else nRowGroups = cnt
            case _ => skip(r, tpe, 1)
          }
        }
      }
      if (version < 0 || numRows < 0 || nRowGroups < 0 || nSchema < 1)
        return null // a FileMetaData missing required fields
      new GenericInternalRow(Array[Any](version.toInt, numRows,
        nRowGroups, nSchema))
    } catch { case Refused() => null }
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Avro OBJECT CONTAINER FILE triage (round 14) — the interchange
  * format data platforms hand off in. Header-and-block-frame walk, no
  * record decoding: the container's block framing carries (record
  * count, byte size) per block, so total records and block count come
  * from frame arithmetic alone — the 100 TB listing pass.
  *
  * [[meta]] → (schema_json, codec, n_blocks, n_records):
  *  - magic `Obj\x01`, metadata map of (string, bytes) pairs in the
  *    standard varint/zigzag framing (map blocks, negative-count
  *    size-prefixed form handled), `avro.schema` + `avro.codec`
  *    extracted (codec defaults to `null`);
  *  - 16-byte sync marker, then blocks: count varint, size varint,
  *    `size` data bytes, sync marker VERIFIED per block;
  *  - fail-closed: bad magic, malformed varints, negative counts,
  *    truncated blocks, a sync mismatch, or trailing garbage → NULL.
  */
object AvroKernels {

  import Decode.{Bad, Cursor, Refused}

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("schema_json", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false)))

  def meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4 ||
        b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1) return null
    try {
      val r = new Cursor(b, 4, b.length)
      var schemaJson: String = null
      var codec = "null"
      // metadata map: blocks of (count [, byteSize if count<0]) pairs
      var going = true
      while (going) {
        var n = r.zigzag()
        if (n == 0) going = false
        else {
          if (n < 0) { n = -n; r.zigzag() } // block byte size: skip
          if (n > 1000) throw Bad
          var k = 0L
          while (k < n) {
            val key = new String(r.bytes(r.zigzag()),
              java.nio.charset.StandardCharsets.UTF_8)
            val value = r.bytes(r.zigzag())
            if (key == "avro.schema")
              schemaJson = new String(value, java.nio.charset.StandardCharsets.UTF_8)
            else if (key == "avro.codec")
              codec = new String(value, java.nio.charset.StandardCharsets.UTF_8)
            k += 1
          }
        }
      }
      if (schemaJson == null) return null // required metadata
      val sync = r.bytes(16)
      var nBlocks = 0L
      var nRecords = 0L
      while (r.pos < r.end) {
        val count = r.zigzag()
        val size = r.zigzag()
        if (count < 0 || size < 0) throw Bad
        r.bytes(size) // the block data: framed, not decoded
        val s2 = r.bytes(16)
        if (!java.util.Arrays.equals(sync, s2)) throw Bad
        nBlocks += 1
        nRecords += count
        if (nBlocks > 10000000) throw Bad
      }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(schemaJson), UTF8String.fromString(codec),
        nBlocks, nRecords))
    } catch { case Refused() => null }
  }
}

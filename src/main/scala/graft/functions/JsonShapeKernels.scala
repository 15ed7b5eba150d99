package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JSON structure profiling (round 14) — the semi-structured ANALYZE:
  * every node of a JSON document as a (path, type) row, so one
  * aggregation over a JSONL corpus yields the observed schema with
  * per-path type histograms (the step before committing a parquet
  * schema to 100 TB of scraped JSON).
  *
  * Path grammar: `$` for the root, `.key` for members whose key is a
  * simple identifier (`[A-Za-z0-9_]+`), `['key']` (single quotes in
  * the key doubled) otherwise, `[*]` for array ELEMENTS — elements
  * merge into one path per distinct type, which is exactly what makes
  * the corpus aggregation bounded: a million-element array costs one
  * row per distinct element type, not a million rows.
  *
  * Types: object | array | string | number | boolean | null. Rows are
  * emitted in first-visit document order, deduped on (path, type).
  *
  * Fail-closed: a document that is not ONE valid RFC 8259 JSON value
  * (trailing garbage, bad escapes, unterminated anything, depth > 64,
  * > 10 000 distinct paths) is NULL — never a half-profile.
  */
object JsonShapeKernels {

  import Decode.{Bad, Refused}

  private val MaxDepth = 64
  private val MaxPaths = 10000

  import org.apache.spark.sql.types._
  val rowSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("jtype", StringType, nullable = false)))

  private final class P(val s: String) {
    var i = 0
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    def ws(): Unit = {
      while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
        s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    }
    def expect(c: Char): Unit = {
      if (i >= s.length || s.charAt(i) != c) throw Bad
      i += 1
    }
    def emit(path: String, t: String): Unit = {
      if (out.size >= MaxPaths) throw Bad
      out += ((path, t))
    }

    def value(path: String, depth: Int): Unit = {
      if (depth > MaxDepth) throw Bad
      ws()
      if (i >= s.length) throw Bad
      s.charAt(i) match {
        case '{' =>
          emit(path, "object")
          i += 1; ws()
          if (i < s.length && s.charAt(i) == '}') { i += 1; return }
          var going = true
          while (going) {
            ws()
            val k = string()
            ws(); expect(':')
            value(path + pathKey(k), depth + 1)
            ws()
            if (i < s.length && s.charAt(i) == ',') i += 1
            else { expect('}'); going = false }
          }
        case '[' =>
          emit(path, "array")
          i += 1; ws()
          if (i < s.length && s.charAt(i) == ']') { i += 1; return }
          var going = true
          while (going) {
            value(path + "[*]", depth + 1)
            ws()
            if (i < s.length && s.charAt(i) == ',') i += 1
            else { expect(']'); going = false }
          }
        case '"' =>
          string() // validates escapes
          emit(path, "string")
        case 't' =>
          if (!s.startsWith("true", i)) throw Bad
          i += 4; emit(path, "boolean")
        case 'f' =>
          if (!s.startsWith("false", i)) throw Bad
          i += 5; emit(path, "boolean")
        case 'n' =>
          if (!s.startsWith("null", i)) throw Bad
          i += 4; emit(path, "null")
        case c if c == '-' || (c >= '0' && c <= '9') =>
          number(); emit(path, "number")
        case _ => throw Bad
      }
    }

    private def pathKey(k: String): String =
      if (k.nonEmpty && k.forall(c => c.isLetterOrDigit || c == '_') &&
          k.forall(_ < 128)) "." + k
      else "['" + k.replace("'", "''") + "']"

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) throw Bad
          s.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              if (i + 6 > s.length) throw Bad
              val h = s.substring(i + 2, i + 6)
              if (!h.forall(ch => Character.digit(ch, 16) >= 0)) throw Bad
              sb.append(Integer.parseInt(h, 16).toChar)
              i += 6
            case _ => throw Bad
          }
        } else if (c < 0x20) throw Bad // raw control char
        else { sb.append(c); i += 1 }
      }
      expect('"')
      sb.toString
    }

    private def number(): Unit = {
      if (s.charAt(i) == '-') i += 1
      if (i >= s.length) throw Bad
      if (s.charAt(i) == '0') i += 1
      else if (s.charAt(i) >= '1' && s.charAt(i) <= '9') {
        while (i < s.length && s.charAt(i).isDigit) i += 1
      } else throw Bad
      if (i < s.length && s.charAt(i) == '.') {
        i += 1
        if (i >= s.length || !s.charAt(i).isDigit) throw Bad
        while (i < s.length && s.charAt(i).isDigit) i += 1
      }
      if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        i += 1
        if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        if (i >= s.length || !s.charAt(i).isDigit) throw Bad
        while (i < s.length && s.charAt(i).isDigit) i += 1
      }
    }
  }

  def paths(u: UTF8String): ArrayData = {
    if (u == null) return null
    try {
      val p = new P(u.toString)
      p.value("$", 0)
      p.ws()
      if (p.i != p.s.length) return null // trailing garbage
      new GenericArrayData(p.out.toArray.map { case (path, t) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(path), UTF8String.fromString(t)))
      }.asInstanceOf[Array[Any]])
    } catch { case Refused() => null }
  }
}

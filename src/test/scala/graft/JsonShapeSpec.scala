package graft

import graft.functions.JsonShapeKernels
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[JsonShapeKernels]] — RFC 8259 structure profiling. */
class JsonShapeSpec extends SparkSpec {
  import spark.implicits._

  private def paths(doc: String): Seq[(String, String)] = {
    val a = JsonShapeKernels.paths(UTF8String.fromString(doc))
    if (a == null) null
    else (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }
  }

  test("node paths, array-element merge, bracket keys, scalar root") {
    assert(paths("""{"a": {"b": 1}, "c": [true, false, 3]}""") == Seq(
      ("$", "object"), ("$.a", "object"), ("$.a.b", "number"),
      ("$.c", "array"), ("$.c[*]", "boolean"), ("$.c[*]", "number")))
    assert(paths("""{"odd key!": null, "x-y": "v", "d''q": 2}""") == Seq(
      ("$", "object"), ("$['odd key!']", "null"), ("$['x-y']", "string"),
      ("$['d''''q']", "number")))
    assert(paths("42") == Seq(("$", "number")))
    assert(paths("\"s\"") == Seq(("$", "string")))
    assert(paths("[]") == Seq(("$", "array")))
    assert(paths("{}") == Seq(("$", "object")))
    // escapes and numbers in full RFC shapes
    assert(paths("""{"e": "a\nA\"", "n": -0.5e+2}""") == Seq(
      ("$", "object"), ("$.e", "string"), ("$.n", "number")))
  }

  test("fail-closed: trailing garbage, bad escapes, bad numbers, depth cap") {
    assert(paths("""{"a": 1} junk""") == null)
    assert(paths("""{"a": 1,}""") == null)
    assert(paths("""{"a": 01}""") == null)
    assert(paths("""{"a": .5}""") == null)
    assert(paths("""{"a": "\q"}""") == null)
    assert(paths("""{"a": "unterminated""") == null)
    assert(paths("""{"a" 1}""") == null)
    assert(paths("") == null)
    assert(paths("nul") == null)
    assert(paths("[" * 100 + "]" * 100) == null) // depth cap
    val rnd = new scala.util.Random(0x15a9)
    val chars = "{}[]\":,0123456789.truefalsn\\ "
    for (_ <- 0 until 400) {
      val junk = (0 until rnd.nextInt(80)).map(_ =>
        chars.charAt(rnd.nextInt(chars.length))).mkString
      paths(junk) // never throws
    }
  }

  test("DataFrame + SQL surface; profiling aggregation shape") {
    val docs = Seq("""{"a": 1}""", """{"a": "s"}""", "boom").toDF("j")
    val prof = docs
      .select(explode_outer(Kernels.jsonPaths(col("j"))).as("p"))
      .groupBy(col("p.path"), col("p.jtype")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(prof == Set(
      ("$", "object", 2L), ("$.a", "number", 1L), ("$.a", "string", 1L),
      (null, null, 1L)))
    val n = spark.sql("SELECT size(json_paths('{\"k\": [1]}')) AS n")
      .as[Int].head()
    assert(n == 3)
  }
}

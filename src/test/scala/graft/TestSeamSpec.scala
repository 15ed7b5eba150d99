package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps test-only code out of the main jar. A `private[graft]`
  * definition, or a public member of a top-level object or class, that
  * no other main code references exists only for the specs: a reference
  * implementation, a fixture builder or an accessor. Such a helper
  * belongs in `src/test`. The check is a name scan over the sources
  * with comments removed, so a helper that shares its name with live
  * code slips through; it never flags live code.
  */
class TestSeamSpec extends AnyFunSuite {
  /** Needs the private `EncState` of `PdfKernels`, so it cannot move. */
  private val allowed = Set("fixtureEncryptor")

  /** Public members no other main code references, kept on purpose. */
  private val keptPublic = Map(
    "fetchJsonPages" -> "Acquire: the paper's acquisition layer",
    "jdbcTemplate" -> "Sinks: the load layer, motogp.ktr:481-489",
    "suffixJoin" -> "Ops: the KTR's `_N` name-collision semantics, SURVEY §1",
    "writeJsonl" -> "Sinks: called in a README example",
    "writeZOrdered" -> "Sinks: called in a README example",
    "ivfTopKIndexed" -> "Similarity: called in a README example",
    "writeBucketed" -> "Sinks: the at-scale path of a queried operator",
    "ivfPqTopKIndexed" -> "Similarity: the at-scale path of a queried operator",
    "hashSplit" -> "Ops: the at-scale path of a queried operator",
    "thresholdJoinChecked" -> "FuzzyMatch: SCALING.md's refusal guard for thresholdJoin",
    "riderNamesUnioned" -> "MotoGpPipelines: the KTR's disabled union branch",
    "scoreRows" -> "Classifier: README's streaming scorer, pinned to trainScore by StreamingKernelsSpec")

  /** `src` with every comment blanked (newlines kept); string and
    * character literals stay, since an interpolated string can
    * reference a definition. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i) match { case -1 => src.length; case e => e }
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        // Scala block comments nest
        var depth = 0
        var j = i
        while (j < src.length && (depth > 0 || j == i)) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3) match { case -1 => src.length; case e => e + 3 }
        while (j < src.length && src(j) == '"') j += 1 // """a"""" ends at the last quote
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, src.length)
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a character literal: 'x', '\n', '\''
        val from = if (src(i + 1) == '\\') i + 3 else i + 2
        val end = src.indexOf('\'', from) match { case -1 => src.length; case e => e + 1 }
        out ++= src.substring(i, end); i = end
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private lazy val sources: Seq[(String, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => p.toString -> stripComments(java.nio.file.Files.readString(p)))
    finally files.close()
  }

  /** "path: name" of each `decl` match (group 1 = the name) that
    * `checked(path, name)` accepts and that no main source mentions
    * outside the declaration itself. */
  private def unreferenced(decl: scala.util.matching.Regex)(
      checked: (String, String) => Boolean): Seq[String] = for {
    (path, src) <- sources
    m <- decl.findAllMatchIn(src).toSeq
    name = m.group(1)
    if checked(path, name)
    body = declarationSpan(src, m.start)
    ref = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    if !sources.exists { case (p, s) =>
      ref.findAllMatchIn(s).exists(r => p != path || r.start < body._1 || r.start >= body._2)
    }
  } yield s"$path: $name"

  private val decl =
    """private\[graft\]\s+(?:(?:final|lazy|override|implicit)\s+)*(?:def|val|var)\s+([A-Za-z_]\w*)""".r

  test("every private[graft] def or val in src/main is referenced by other src/main code") {
    val found = unreferenced(decl)((_, name) => !allowed(name))
    if (found.nonEmpty)
      fail("private[graft] definitions that only specs reach; move them to src/test:" +
        found.mkString("\n  ", "\n  ", ""))
  }

  /** A public member of a top-level object, class or trait: two spaces
    * in (Scala 2 has no top-level definitions, so only members sit
    * there), and no access or `override` modifier before `def`/`val`. */
  private val publicMember =
    """(?m)^  (?:(?:final|lazy|implicit)\s+)*(?:def|val|var)\s+([A-Za-z_]\w*)""".r

  test("public object and class members in graft are referenced by other main code") {
    val found = unreferenced(publicMember)((path, name) =>
      path.startsWith("src/main/scala/graft/") && name != "main" && !keptPublic.contains(name))
    if (found.nonEmpty)
      fail("public members that only specs reach; move them to src/test:" +
        found.mkString("\n  ", "\n  ", ""))
  }

  /** A public def of a top-level object or class, as [[publicMember]]. */
  private val publicDef = """(?m)^  (?:(?:final|implicit)\s+)*def\s+([A-Za-z_]\w*)""".r

  /** Index of the bracket closing the one at `open`, or -1. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** The comma-separated parts of `s` outside any bracket, trimmed. */
  private def topLevel(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    for (i <- s.indices) s(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => parts += s.substring(from, i).trim; from = i + 1
      case _ =>
    }
    parts += s.substring(from).trim
    parts.result().filter(_.nonEmpty)
  }

  private val kernelCall = """(?:org\.apache\.spark\.sql\.)?Kernels\.(\w+)\(""".r

  /** The `Kernels` entry that the def `name` declared in `decl` only
    * forwards to: its whole body is one call of the entry, with the
    * def's own parameters, unchanged and in order, as the arguments. */
  private def forwardedEntry(decl: String, name: String): Option[String] = {
    var i = decl.indexOf(name) + name.length
    def skipSpace(): Unit = while (i < decl.length && decl(i).isWhitespace) i += 1
    skipSpace()
    if (i < decl.length && decl(i) == '[') { i = closing(decl, i) + 1; skipSpace() }
    val params = Seq.newBuilder[String]
    while (i > 0 && i < decl.length && decl(i) == '(') {
      val end = closing(decl, i)
      params ++= topLevel(decl.substring(i + 1, math.max(end, i + 1)))
        .map(_.takeWhile(c => c.isLetterOrDigit || c == '_'))
      i = end + 1
      skipSpace()
    }
    // the body starts at the first `=` outside brackets that is not `=>`
    var depth = 0
    while (i > 0 && i < decl.length &&
        !(depth == 0 && decl(i) == '=' && !decl.startsWith("=>", i))) {
      decl(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    if (i <= 0 || i >= decl.length) return None
    val raw = decl.substring(i + 1).trim
    val body =
      if (raw.startsWith("{") && closing(raw, 0) == raw.length - 1) raw.substring(1, raw.length - 1).trim
      else raw
    kernelCall.findPrefixMatchOf(body).collect {
      case m if closing(body, m.end - 1) == body.length - 1 &&
          topLevel(body.substring(m.end, body.length - 1)) == params.result() => m.group(1)
    }
  }

  test("no public def in graft only forwards to a Kernels entry") {
    // each entry already is its own Column API (`Kernels.gunzip(col)`)
    val found = for {
      (path, src) <- sources if path.startsWith("src/main/scala/graft/")
      m <- publicDef.findAllMatchIn(src).toSeq
      entry <- forwardedEntry(src.substring(m.start, declarationSpan(src, m.start)._2), m.group(1))
    } yield s"$path: ${m.group(1)} -> Kernels.$entry"
    if (found.nonEmpty)
      fail("defs that only forward to a Kernels entry; call the entry instead:" +
        found.mkString("\n  ", "\n  ", ""))
  }

  /** [start, end) of the declaration beginning at `at`: its first line
    * through the line before the next non-blank line indented no
    * deeper, a closing bracket at its own indentation included. */
  private def declarationSpan(src: String, at: Int): (Int, Int) = {
    val lineStart = src.lastIndexOf('\n', at) + 1
    def indent(from: Int): Int = { var k = from; while (k < src.length && src(k) == ' ') k += 1; k - from }
    val own = indent(lineStart)
    var next = src.indexOf('\n', at)
    while (next >= 0) {
      val ls = next + 1
      val ind = indent(ls)
      val c = if (ls + ind < src.length) src(ls + ind) else '\n'
      if (c != '\n' && (ind < own || (ind == own && c != '}' && c != ')'))) return (lineStart, ls)
      next = src.indexOf('\n', ls)
    }
    (lineStart, src.length)
  }
}

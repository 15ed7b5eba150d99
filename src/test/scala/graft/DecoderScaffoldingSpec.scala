package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the decoders' shared scaffolding in one place. The malformed
  * signal, the fixed-width byte readers, the size caps and the refusal
  * policy live in `graft.functions.Decode`; a decoder that grows its own
  * copy again is drift, and the copies drift apart (one decoder caught
  * `Throwable`, two caught only three exception types).
  */
class DecoderScaffoldingSpec extends AnyFunSuite {
  private val rules: Seq[(String, scala.util.matching.Regex)] = Seq(
    "declares an exception" ->
      """\b(class|object)\s+\w+[^{\n]*\bextends\s+[\w.]*(Exception|Throwable|Error)\b""".r,
    "declares a fixed-width byte reader" ->
      """\bdef\s+(le|be)[UIFL]?(16|32|64)?\s*\(\s*\w+\s*:\s*Array\[Byte\]""".r,
    "declares a size cap" -> """\bval\s+(MaxOut|MaxInflate|MaxRawBytes|MaxText)\b""".r,
    "catches Throwable" -> """\bcase\s+\w+\s*:\s*Throwable\b""".r)

  test("no decoder outside Decode declares its own scaffolding") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/functions")
    val files = java.nio.file.Files.list(dir)
    val offences =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Decode.scala")
        .toSeq.sortBy(_.toString).flatMap { p =>
          val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
          for {
            (line, n) <- lines.zipWithIndex
            (what, re) <- rules
            if re.findFirstIn(line).isDefined
          } yield s"${p.getFileName}:${n + 1} $what: ${line.trim}"
        }
      finally files.close()
    if (offences.nonEmpty) fail(offences.mkString("\n", "\n", ""))
  }
}

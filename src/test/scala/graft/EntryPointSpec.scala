package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the runnable surface of the main jar. A one-off measurement main
  * has no caller once its finding is written down, so adding one must be
  * a deliberate edit of this list, not drift.
  */
class EntryPointSpec extends AnyFunSuite {
  test("src/main declares exactly the five kept entry points") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        val pkg = "(?m)^package ([\\w.]+)".r.findAllMatchIn(src).map(_.group(1)).mkString(".")
        val objects = "\\bobject (\\w+)".r.findAllMatchIn(src).toSeq
        "\\bdef main\\(".r.findAllMatchIn(src).map { m =>
          pkg + "." + objects.filter(_.start < m.start).last.group(1)
        }
      }.toSet
      finally files.close()
    assert(mains === Set("graft.Bench", "graft.Verify", "graft.Explain",
      "graft.OracleDomainProbe", "graft.motogp.MotoGpRun"))
  }
}

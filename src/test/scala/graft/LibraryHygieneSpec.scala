package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical conventions over the library's own sources — the
  * source-text sibling of [[OracleHygieneSpec]]. */
class LibraryHygieneSpec extends AnyFunSuite {

  test("the only mains in src/main are the harness entry points") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val objectDecl =
      """(?m)^\s*(?:private\S*\s+|final\s+|case\s+)*object\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val files = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    // each `def main(` belongs to the last object declared above it
    val mains = files.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      val objects = objectDecl.findAllMatchIn(src).toSeq
      mainDecl.findAllMatchIn(src).map { m =>
        objects.takeWhile(_.start < m.start).lastOption
          .fold(s"<no object in $f>")(_.group(1))
      }
    }.toSet
    assert(mains == Set("Bench", "ScaleBench", "Explain", "Verify",
      "MemProbe"), "a dev probe or one-off main belongs in src/test")
  }
}

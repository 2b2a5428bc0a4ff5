package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical conventions over the library's own sources — the
  * source-text sibling of [[OracleHygieneSpec]]. */
class LibraryHygieneSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val root = java.nio.file.Paths.get("src/main/scala")
  private lazy val files = {
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
  }
  private val objectDecl =
    """(?m)^\s*(?:private\S*\s+|final\s+|case\s+)*object\s+(\w+)""".r

  test("the only mains in src/main are the harness entry points") {
    val mainDecl = """\bdef\s+main\s*\(""".r
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

  test("checkpoint lifetimes are kept only by Artifacts") {
    def name(f: java.nio.file.Path) = f.getFileName.toString
    val owners = Set("Artifacts.scala", "GraftCheckpoints.scala")
    val handKept = """releaseLocalCheckpoint|Artifacts\.lease\b""".r
    val byHand = files.filterNot(f => owners(name(f)))
      .filter(f => handKept.findFirstIn(java.nio.file.Files.readString(f))
        .isDefined)
    assert(byHand.isEmpty, "release or lease outside Artifacts: " +
      byHand.mkString(", ") + " (cut through an Artifacts.scoped scope)")

    // memo builds whose checkpointed value the registry owns and
    // Artifacts.clear releases, as Object.def
    val registryOwned = Set("Dedup.confirmedPairs",
      "Dedup.clusterMembership", "Similarity.s12SymEdges")
    val defDecl = """\bdef\s+(\w+)""".r
    val rawCuts = files.filterNot(f => name(f) == "Artifacts.scala")
      .flatMap { f =>
        val src = java.nio.file.Files.readString(f)
        val objects = objectDecl.findAllMatchIn(src).toSeq
        val defs = defDecl.findAllMatchIn(src).toSeq
        """\.localCheckpoint\(""".r.findAllMatchIn(src).map { m =>
          def last(ds: Seq[scala.util.matching.Regex.Match]) =
            ds.takeWhile(_.start < m.start).lastOption.fold("?")(_.group(1))
          s"${last(objects)}.${last(defs)}"
        }
      }
    assert(rawCuts.toSet == registryOwned,
      "raw localCheckpoint outside a registry-owned memo build (cut " +
        s"through an Artifacts.scoped scope): ${rawCuts.toSet -- registryOwned}")
  }

  test("the only spark.graft conf keys are the two deployment paths") {
    val key = "\"(spark\\.graft\\.[^\"]*)\"".r
    val keys = files.flatMap(f =>
      key.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)))
    assert(keys.toSet == Set("spark.graft.centroids.dir",
      "spark.graft.pq.dir"), s"keys read: ${keys.toSet.mkString(", ")} " +
      "(a plan choice belongs in code, measured, not behind a conf key)")
  }

  test("the whitespace tokenizer is spelled only in TextOps") {
    // Spark's filter(split(c, ' '), t -> t <> '') and DuckDB's
    // list_filter(string_split(c, ' '), t -> t <> ''), also when a
    // stripMargin literal breaks the line before the lambda
    val toks = """split\([^,()]+, ' '\),\s*(?:\|\s*)?t -> t <> ''\)""".r
    val spelled = files.filter(f =>
      toks.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(spelled == Set("TextOps.scala"),
      "call TextOps.toksOf / TextOps.sqlToksOf instead")
  }
}

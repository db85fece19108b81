package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` down to what a product root reaches. A file is
  * reached when a reached file names one of its top-level definitions;
  * the closure starts from the fixed root list below. Comments do not
  * count as references, and neither does plain text in string literals,
  * but a `graft.*` name inside one does: Spark loads the data source and
  * the session extensions by class name (`format("graft.sources.SeqSource")`).
  * A module only its own spec calls is dead weight: put it on a root's
  * path or delete it. */
class ReachabilityGuardSpec extends AnyFunSuite {

  private val roots = Seq(
    // the paper's pipeline
    "graft/pipeline/Pipeline.scala", "graft/sources/RawIngest.scala",
    // the query contract and the two mains that run it
    "graft/SparkEntry.scala", "graft/Bench.scala", "graft/Verify.scala",
    // the injected SQL surface, GRAFT commands included
    "graft/functions/GraftExtensions.scala",
    // dev mains that scripts and docs use
    "graft/tools/Explain.scala", "graft/tools/TimeQ.scala",
    "graft/tools/StageProf.scala", "graft/tools/ScaleUp.scala")

  private val Definition =
    """(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|implicit|case)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val Identifier = """[A-Za-z_]\w*""".r
  private val GraftName = """graft(?:\.\w+)+""".r

  /** `src` without comments and string literals, except the `graft.*`
    * names inside plain literals; an interpolated literal (`s"..${x}"`)
    * is kept whole, since its splices are code. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) { // Scala block comments nest
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (src.charAt(i) == '"') {
        val interpolated = i > 0 && Character.isLetterOrDigit(src.charAt(i - 1))
        val end =
          if (src.startsWith("\"\"\"", i)) {
            val j = src.indexOf("\"\"\"", i + 3)
            var k = if (j < 0) n else j + 3
            while (k < n && src.charAt(k) == '"') k += 1
            k
          } else {
            var j = i + 1
            while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
              j += (if (src.charAt(j) == '\\') 2 else 1)
            math.min(j + 1, n)
          }
        val literal = src.substring(i, end)
        if (interpolated) out ++= literal
        else out ++= GraftName.findAllIn(literal).mkString(" ", " ", " ")
        i = end
      } else if (src.charAt(i) == '\'' && charLiteralEnd(src, i) > 0) {
        i = charLiteralEnd(src, i)
        out += ' '
      } else {
        out += src.charAt(i)
        i += 1
      }
    }
    out.toString
  }

  /** End of the char literal ('x', '\n', '\u0000') opening at `i`, or -1. */
  private def charLiteralEnd(src: String, i: Int): Int = {
    val j = src.indexOf('\'', if (src.startsWith("\\", i + 1)) i + 3 else i + 2)
    if (j > i + 1 && j <= i + 7 && !src.substring(i + 1, j).contains('\n')) j + 1 else -1
  }

  test("every src/main file is reached from a product root") {
    val base = Paths.get("src/main/scala")
    assert(Files.isDirectory(base), s"run from the repository root (no $base)")
    val walk = Files.walk(base)
    val files: Map[String, String] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map((f: Path) => base.relativize(f).toString -> code(Files.readString(f)))
        .toMap
      finally walk.close()
    assert(files.size > 50, s"scanned only ${files.size} files")
    val missing = roots.filterNot(files.contains)
    assert(missing.isEmpty, s"product roots not found: $missing")

    val defines = files.map { case (f, c) => f -> Definition.findAllMatchIn(c).map(_.group(1)).toSet }
    val names = files.map { case (f, c) => f -> Identifier.findAllIn(c).toSet }
    var reached = roots.toSet
    var frontier = roots
    while (frontier.nonEmpty) {
      val used = frontier.flatMap(names).toSet
      frontier = files.keys.filter(f => !reached(f) && defines(f).exists(used)).toSeq
      reached ++= frontier
    }
    val unreached = files.keySet.diff(reached).toSeq.sorted
    assert(unreached.isEmpty,
      "src/main files no product root reaches (wire them into a root's path or delete them):\n" +
        unreached.map(f => s"  $f defines ${defines(f).toSeq.sorted.mkString(", ")}").mkString("\n"))
  }
}

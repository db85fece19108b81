package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[TableCatalog]]'s parquet I/O inside its two primitives,
  * `writeParquet` and `readParquet`: a write elsewhere would fork a
  * `chmod` per file and record no `_schema` sidecar, and a read elsewhere
  * would launch a schema-inference job per call. */
class CatalogIoGuardSpec extends AnyFunSuite {

  private val forbidden = Seq(".parquet(", ".write.", ".read.", "\"parquet\"")
  private val primitives = Set("writeParquet", "readParquet")

  test("TableCatalog reads and writes parquet only inside its two primitives") {
    val src = Paths.get("src/main/scala/graft/core/TableCatalog.scala")
    assert(Files.isRegularFile(src), s"run from the repository root (no $src)")
    val lines = Files.readAllLines(src).asScala.toSeq
    // a primitive runs from its `private def` line to the next line that
    // closes a member at the class's indentation
    val Def = """  private def (\w+)\(.*""".r
    var inside = false
    val hits = Seq.newBuilder[String]
    var found = Set.empty[String]
    lines.zipWithIndex.foreach { case (line, i) =>
      line match {
        case Def(n) if primitives(n) => inside = true; found += n
        case "  }" => inside = false
        case _ if !inside =>
          forbidden.filter(line.contains).foreach(p => hits += s"$src:${i + 1}: $p")
        case _ =>
      }
    }
    assert(found == primitives, s"primitives not found: ${primitives -- found}")
    assert(hits.result().isEmpty,
      "go through writeParquet/readParquet:\n" + hits.result().mkString("\n"))
  }
}

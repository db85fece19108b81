package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Materialize]] the engine's only way to store an intermediate:
  * a raw checkpoint elsewhere in `src/main` would skip the reliable-mode
  * setting, the measured statistics and scoped release, and a second
  * storage probe would be a second source of size truth. */
class MaterializeGuardSpec extends AnyFunSuite {

  private val forbidden = Seq(".localCheckpoint(", ".checkpoint(", "getRDDStorageInfo")

  test("src/main checkpoints and probes storage only inside Materialize") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Materialize.scala")
      .toSeq
    assert(files.size > 50, s"scanned only ${files.size} files")
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      pat <- forbidden if line.contains(pat)
    } yield s"$f:${i + 1}: $pat"
    assert(hits.isEmpty, "use graft.core.Materialize instead:\n" + hits.mkString("\n"))
  }
}

package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps Spark's codegen mode keys and the small-input partitioning keys
  * in [[Sessions]], the one place that picks a pipeline call's execution
  * mode ([[Sessions.forInput]]). `spark.sql.codegen.factoryMode` is an
  * internal Spark key; set anywhere else, a second mode choice would
  * drift from the measured bound and could reach a caller's session.
  * `spark.sql.shuffle.partitions` is not listed: loops in `ext/Graph`
  * scope it for their own rounds. */
class CodegenKeyGuardSpec extends AnyFunSuite {

  private val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
    "spark.sql.files.minPartitionNum", "spark.sql.files.maxPartitionBytes",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
  private val home = Paths.get("src/main/scala/graft/core/Sessions.scala")

  test("the codegen mode keys appear in src/main only in core/Sessions.scala") {
    val main = Paths.get("src/main/scala")
    assert(Files.isRegularFile(home), s"run from the repository root (no $home)")
    val walk = Files.walk(main)
    val sources: Seq[Path] = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
      finally walk.close()
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      k <- keys if line.contains(k)
    } yield s"$f:${i + 1}: $k"
    assert(hits.isEmpty, "set execution-mode keys through Sessions.forInput:\n" + hits.mkString("\n"))
    val inHome = Files.readString(home)
    keys.foreach(k => assert(inHome.contains(k), s"$home no longer sets $k"))
  }
}

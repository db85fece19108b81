package graft.tools

import graft.SparkEntry
import graft.core.Sessions

/** Dev tool: dump `explain("formatted")` for selected queries (all by
  * default) so plan regressions — lost pushdown, missed broadcast,
  * codegen gaps — are visible. Usage:
  * `sbt "runMain graft.tools.Explain [sfDir] [name ...]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the production session (extensions included) — without them the
    // dumped plans omit the injected optimizer rules (join reorder, ndv
    // broadcast, MV rewrite) and misstate what Verify/Bench execute
    val spark = Sessions.local(cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}

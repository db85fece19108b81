package graft.tools

import graft.SparkEntry
import graft.core.Sessions

/** Dev tool: wall-time selected queries through the noop sink (Bench
  * methodology, min of `SPARK_GRAFT_PASSES` passes) without running the
  * whole suite. Usage:
  * `sbt "runMain graft.tools.TimeQ <sfDir> <name> [name ...]"`. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("a1_aggregates")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = Sessions.local()
    spark.range(100000).selectExpr("sum(id * 2)")
      .write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      val t = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[timeq] $n%-28s $t%8.2f s")
    }
    spark.stop()
  }
}

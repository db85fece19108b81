package graft.tools

import graft.SparkEntry
import graft.core.Sessions
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev tool: per-STAGE cost breakdown for one contract query — answers
  * WHERE the task seconds go (which operator subtree, via the stage's
  * callsite/description) instead of guessing from end-to-end wall.
  * Bench methodology (noop sink); pass 2 is the reported one (pass 1
  * absorbs `setupOnce` fixtures and codegen warmup).
  *
  * Usage: `sbt "runMain graft.tools.StageProf <sfDir> <name> [name...]"`
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("a1_aggregates")
    val spark = Sessions.local()
    spark.range(100000).selectExpr("sum(id * 2)")
      .write.format("noop").mode("overwrite").save()

    case class St(name: String, var runMs: Long = 0L, var cpuMs: Long = 0L,
                  var inRec: Long = 0L, var outRec: Long = 0L,
                  var srMb: Double = 0, var swMb: Double = 0,
                  var tasks: Int = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val m = si.taskMetrics
          // Prefer the deepest graft frame from the callsite details —
          // the short name is usually an anonymous-function frame.
          val graftFrame = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("StageProf"))
            .map(_.trim.stripPrefix("at ").take(90))
          val st = stages.getOrElseUpdate(si.stageId,
            St(graftFrame.getOrElse(si.name.linesIterator.next().take(90))))
          st.runMs += m.executorRunTime
          st.cpuMs += m.executorCpuTime / 1000000L
          st.inRec += m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead
          st.outRec += m.outputMetrics.recordsWritten +
            m.shuffleWriteMetrics.recordsWritten
          st.srMb += (m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead) / 1048576.0
          st.swMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
          st.tasks += si.numTasks
        }
    })

    names.foreach { n =>
      // pass 1: warmup (fixtures, codegen)
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      stages.clear()
      record = true
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      record = false
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(f"%n=== $n  wall=$wall%.2fs  stages=${stages.size} ===")
      println(f"${"stageId"}%8s ${"run_s"}%8s ${"cpu_s"}%8s ${"tasks"}%6s " +
        f"${"in_rec"}%10s ${"out_rec"}%10s ${"shRd_MB"}%8s ${"shWr_MB"}%8s  name")
      stages.toSeq.sortBy(-_._2.runMs).foreach { case (id, s) =>
        println(f"$id%8d ${s.runMs / 1e3}%8.2f ${s.cpuMs / 1e3}%8.2f " +
          f"${s.tasks}%6d ${s.inRec}%10d ${s.outRec}%10d " +
          f"${s.srMb}%8.1f ${s.swMb}%8.1f  ${s.name}")
      }
      val totRun = stages.values.map(_.runMs).sum / 1e3
      val totCpu = stages.values.map(_.cpuMs).sum / 1e3
      println(f"TOTAL run=${totRun}%.2fs cpu=${totCpu}%.2fs wall=$wall%.2fs")
    }
    spark.stop()
  }
}

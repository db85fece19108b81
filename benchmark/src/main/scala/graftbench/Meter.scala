package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters at one instant. Deltas of two snapshots
  * bill the work between them; read them only after draining the
  * listener bus, outside the timed region. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, taskDurMs: Long = 0, schedDelayMs: Long = 0,
    gcMs: Long = 0, shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
    spillB: Long = 0, inputB: Long = 0, outputB: Long = 0, planMs: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, taskDurMs - o.taskDurMs, schedDelayMs - o.schedDelayMs,
    gcMs - o.gcMs, shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, inputB - o.inputB, outputB - o.outputB, planMs - o.planMs)

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, taskDurMs + o.taskDurMs, schedDelayMs + o.schedDelayMs,
    gcMs + o.gcMs, shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    spillB + o.spillB, inputB + o.inputB, outputB + o.outputB, planMs + o.planMs)

  def taskS: Double = taskMs / 1e3
  def shuffleMb: Double = (shuffleReadB + shuffleWriteB) / 1048576.0
  def spillMb: Double = spillB / 1048576.0

  /** Share of the cores' wall-clock capacity no task occupied: near 1
    * means the time went to driver-serial work (listing, planning, file
    * opens), near 0 means the executors were saturated. */
  def idleCoreFrac(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0
    else math.max(0.0, 1.0 - taskDurMs / 1e3 / (wallS * cores))
}

/** The harness's own observers: a [[SparkListener]] for task, stage and
  * job counters and a [[QueryExecutionListener]] for planning time
  * (analysis + optimization + planning from each query's
  * `QueryPlanningTracker`). Both only count; nothing in the engine is
  * touched. */
final class Meter(spark: SparkSession) {
  private val jobs, stages, tasks, taskMs, taskDurMs, schedMs, gcMs,
    shR, shW, spill, in, out, planMs = new AtomicLong

  private val taskListener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null) taskDurMs.addAndGet(math.max(0L, info.finishTime - info.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        if (info != null) {
          // The web UI's scheduler-delay formula: task duration not spent
          // deserializing, running, serializing or fetching the result.
          val d = (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          schedMs.addAndGet(math.max(0L, d))
        }
        shR.addAndGet(m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
        shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        in.addAndGet(m.inputMetrics.bytesRead)
        out.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def bill(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      planMs.addAndGet(ms)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = bill(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = bill(qe)
  }

  spark.sparkContext.addSparkListener(taskListener)
  spark.listenerManager.register(planListener)

  /** Wait for every queued listener event, then read the counters. */
  def snapshot(): Counters = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark, 20000L)
    Counters(jobs.get, stages.get, tasks.get, taskMs.get, taskDurMs.get,
      schedMs.get, gcMs.get, shR.get, shW.get, spill.get, in.get, out.get, planMs.get)
  }
}

/** Live heap: the heap still in use after full collections. Taken right
  * after an operation returns and the listener bus has drained (outside
  * its wall, before the harness frees what it left persisted), it is the
  * heap the operation left pinned. Spark's context cleaner frees broadcast
  * and shuffle state asynchronously, after a collection finds it
  * unreachable, and it can lag a fixed pause. So at least three
  * collections run, 100 ms apart, and more (up to six) until the last two
  * agree within 1 MB; the value is the smallest reading. */
object LiveHeap {
  def mb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val readings = ArrayBuffer(collect(), collect(), collect())
    while (math.abs(readings.last - readings(readings.size - 2)) > 1.0 && readings.size < 6)
      readings += collect()
    readings.min
  }
}

package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution

/** Bounded lanes for independent table jobs: the one place the engine
  * runs several tables' Spark jobs at once.
  *
  * A medallion table at ingest scale is a sub-second job whose wall is
  * mostly driver work (file listing, planning, commit I/O), so one table
  * at a time leaves most cores idle. A lane is a worker thread that
  * submits its own table's jobs; a few lanes overlap one table's driver
  * work with another's tasks. The lane count is derived, never set: see
  * [[count]].
  */
object Lanes {

  /** Lanes for `jobs` independent jobs: `max(1, min(jobs,
    * defaultParallelism / 2))`. Half the cores, because every lane's
    * driver-side planning competes with the task threads: on `local[4]`
    * one lane per table cut the medallion wall about as much as two
    * lanes did but added a quarter more task-seconds, two lanes about a
    * tenth. */
  private def count(spark: SparkSession, jobs: Int): Int =
    math.max(1, math.min(jobs, spark.sparkContext.defaultParallelism / 2))

  /** Run `jobs` on [[count]] lanes and return their results in index
    * order. Each job is a (label, body) pair; the label, a table name,
    * is the Spark job description and call site of every Spark job the
    * body starts, so logs and the Spark UI tell the tables apart.
    *
    * Lanes take jobs in index order, so a job may block on the result
    * of a job with a LOWER index (that job is already running or done)
    * without deadlocking the bounded pool; it must never block on a
    * higher one.
    *
    * Lanes are daemon threads named `graft-stage-<lane>`, made
    * for this call and gone when it returns or throws. Each job runs
    * with `spark` as its active session and a copy of the caller's
    * Spark local properties (job group, scheduler pool), with its label
    * in place of the caller's description and call site. `spark` need
    * not be the caller's active session: a pipeline call passes the
    * session it picked for its input size ([[Sessions.forInput]]), so
    * that every frame its jobs plan, including ones a job builds without
    * naming a session, belongs to that one session.
    *
    * Failure: once a job throws, jobs not yet started are skipped; jobs
    * already in flight run to completion (their side effects stand);
    * then the first failure in index order is rethrown as thrown, not
    * wrapped. */
  def run[T](spark: SparkSession, jobs: Seq[(String, () => T)]): Seq[T] = {
    val lanes = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(count(spark, jobs.size), (r: Runnable) => {
      val t = new Thread(r, s"graft-stage-${lanes.size + 1}")
      t.setDaemon(true)
      lanes.add(t)
      t
    })
    val failed = new AtomicBoolean
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      val sc = spark.sparkContext
      val futures = jobs.map { case (label, job) =>
        SQLExecution.withThreadLocalCaptured(session, pool) {
          if (failed.get) None
          else try {
            sc.setJobDescription(label)
            sc.setCallSite(label)
            Some(job())
          } catch { case e: Throwable => failed.set(true); throw e }
          finally {
            sc.setJobDescription(null)
            sc.clearCallSite()
          }
        }
      }
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collectFirst { case Left(e) => throw e }
      // no failure, so no job was skipped
      outcomes.collect { case Right(Some(v)) => v }
    } finally {
      pool.shutdownNow()
      lanes.forEach(_.join())
    }
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into `private[sql]` helpers so graft's native Expressions and
  * LogicalPlans can be exposed through the public Column/DataFrame API.
  * Standard extension-library pattern: the object lives under
  * `org.apache.spark.sql` purely for access; no Spark internals are
  * modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for wrapping in custom nodes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution.analyzed

  /** DataFrame over a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A clone of `spark` on the same SparkContext and shared state, with
    * its own copy of the session state: runtime conf, registered
    * functions (the `graft_*` ones included), query execution listeners,
    * extensions and extra strategies. Conf set on the clone leaves
    * `spark` untouched (`cloneSession` is `private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Idempotently install an extra planner strategy on a live session
    * (the route for sessions built without `spark.sql.extensions`). */
  def installStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Drain the async listener bus: block (bounded) until every queued
    * SparkListener event is delivered. Task-end events arrive
    * asynchronously after an action returns, so metric counters read
    * immediately afterwards can attribute a query's tail tasks to its
    * successor; draining first makes per-query deltas attributable.
    * Lives here because `SparkContext.listenerBus` is `private[spark]`.
    * Best-effort: a timeout (stuck listener) must not fail the caller —
    * the residual attribution error is the pre-drain status quo. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 5000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Whether the session's SparkContext has been stopped (the liveness
    * probe the table-frame cache prunes on; `SparkContext.isStopped` is
    * `private[spark]`, hence bridged here). */
  def isStopped(spark: SparkSession): Boolean = spark.sparkContext.isStopped

  /** Re-issue a checkpointed frame's `LogicalRDD` with new statistics
    * (see [[graft.core.Materialize]]). `Some(bytes)` becomes the only
    * statistic, flagged `isRuntime` because it is a measurement, not an
    * estimate. `None` keeps the carried origin estimate, capped at
    * Long.MaxValue bytes and rows: above that every threshold comparison
    * already saturates, and the cap stops a loop that checkpoints every
    * round from compounding it into ever-longer BigInts. Layout and
    * constraints are kept; any other plan passes through untouched. */
  def withStoredStats(df: DataFrame, bytes: Option[Long]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    analyzed(df) match {
      case lr: LogicalRDD =>
        val lim = BigInt(Long.MaxValue)
        val stats = bytes match {
          case Some(b) => Statistics(sizeInBytes = b, isRuntime = true)
          case None => Statistics(sizeInBytes = lr.stats.sizeInBytes.min(lim),
            rowCount = lr.stats.rowCount.map(_.min(lim)))
        }
        val spark = df.sparkSession
        ofRows(spark, lr.copy()(spark.asInstanceOf[classic.SparkSession],
          Some(stats), Some(lr.constraints)))
      case _ => df
    }
  }

  /** Memory + disk bytes the block managers hold for `rdd`, one replica
    * per partition. Read synchronously from the block manager master,
    * which every block put reports to before its task ends — unlike the
    * app status store behind `SparkContext`'s RDD storage info, which the
    * async listener bus fills later and may still miss blocks right
    * after the job.
    * None unless every partition has a block: a partial sum is not a
    * size. (The master and its `StorageStatus` are `private[spark]`.) */
  def storedBlockBytes(rdd: org.apache.spark.rdd.RDD[_]): Option[Long] = {
    import org.apache.spark.storage.RDDBlockId
    val perPartition = org.apache.spark.SparkEnv.get.blockManager.master
      .getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, part), st) if id == rdd.id => part -> (st.memSize + st.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(math.max)
    if (perPartition.size == rdd.partitions.length) Some(perPartition.values.sum)
    else None
  }
}

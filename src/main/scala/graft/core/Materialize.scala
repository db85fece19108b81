package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Bridge

/** The engine's one way to materialize an intermediate: every iterative
  * or multi-read operator that must evaluate a subtree exactly once goes
  * through [[once]], releases it with [[free]], and callers that want
  * everything released when a unit of work ends wrap it in [[scope]].
  *
  * Local vs reliable, stated once. By default [[once]] is a
  * `Dataset.localCheckpoint`: the result lives as executor-local blocks
  * and lineage is TRUNCATED — on a real cluster a single lost executor
  * then kills the whole in-flight job, because the truncated plan cannot
  * recompute the lost blocks ("RDD was locally checkpointed … cannot be
  * recomputed"). That is fine on one machine and fastest for benchmarks,
  * fatal for a 1000-executor 100 TB run. With
  * `spark.graft.checkpoint.reliable=true` every [[once]] goes through
  * `Dataset.checkpoint()` into `spark.graft.checkpoint.dir` (set it to a
  * durable FS — HDFS/S3 — on a cluster; it defaults to a local scratch
  * dir), so a lost executor's partitions recompute by re-READING the
  * checkpoint files. Cost: the eager reliable checkpoint runs the plan
  * and writes it out once more — measured 1.25–1.30× the whole-query
  * wall on the iterative tail at sf0.1 (x_curation_cc 3.35→4.18 s,
  * d_dup_clusters 2.46→3.19 s, x_pagerank 2.21→2.80 s; min-of-2, same
  * host). The availability premium, paid only when asked for. Both modes
  * preserve the plan's output partitioning (the `LogicalRDD` records the
  * physical layout).
  *
  * Statistics. `Dataset.localCheckpoint` carries the ORIGIN plan's
  * estimate onto its `LogicalRDD`, and the size-only visitor estimates a
  * join as the product of its children — so a loop that checkpoints every
  * round compounds the estimate into ever-longer BigInts that carry no
  * planning information (a 10-round connected-components loop at 100×
  * rows once spent 57 driver CPU-minutes in `BigInteger.multiply`).
  * [[once]] replaces it with the MEASURED size of what was stored: the
  * block managers' bytes in local mode (read from the block manager
  * master, which knows every block before the job returns), the
  * checkpoint files' length in reliable mode. Row counts are dropped
  * (the size-only planner never needs them), and the statistic is
  * flagged `isRuntime` so [[measuredBytes]] can tell it from an
  * estimate (the join planner then applies
  * `spark.sql.adaptive.autoBroadcastJoinThreshold` to it when that is
  * set, as it does to AQE's runtime statistics). When no complete
  * measurement exists (some partition has no registered block) the
  * handle keeps the origin estimate, capped at Long.MaxValue so it
  * cannot compound, and the loops size from the session partition count
  * instead. File length is the serialized, usually compressed size —
  * smaller than the in-memory bytes, the same basis Spark uses for file
  * scans — and costs one listing of the checkpoint directory per
  * [[once]].
  *
  * Freeing DESTROYS the backing data in both modes: the blocks are
  * dropped, and in reliable mode the checkpoint directory is deleted
  * (nothing else ever cleans reliable checkpoints —
  * `spark.cleaner.referenceTracking.cleanCheckpoints` defaults to false,
  * and even when on it only fires at driver GC). Free a handle only once
  * every read of it, and of every lazy frame built on it, has executed —
  * an iterative loop frees round r after round r+1 is materialized. */
object Materialize {

  /** Eagerly materialize `df` and return a frame over the stored result,
    * carrying its measured size as its only statistic. With `key`, the
    * subtree is planned and executed with AQE off and the result must
    * keep a hash layout on that one column:
    *
    *  1. Under AQE, the checkpoint records UnknownPartitioning (the
    *     adaptive wrapper hides the final plan's layout), which silently
    *     re-inserts an exchange into every consumer that relied on it.
    *     With AQE off the recorded layout is honest (the exchange really
    *     is hash(key, numShufflePartitions), never runtime-coalesced),
    *     while every consumer still plans adaptively. The subtrees routed
    *     this way are shallow (a repartition, or one join/agg over
    *     already-materialized inputs), so losing AQE there costs nothing.
    *  2. A projection that aliases one attribute N ways can pin the
    *     preserved layout to an alias the consumer never joins on — the
    *     `require` turns that silent O(E)-per-round re-shuffle into an
    *     immediate failure naming the layout it actually got.
    *
    * Inside a [[scope]], the handle is freed when the scope exits. The
    * conf toggle is driver-side and scoped; the engine's runners are
    * single-threaded per session. */
  def once(df: DataFrame, key: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val stored = key match {
      case None => checkpoint(df)
      case Some(k) =>
        val aqe = "spark.sql.adaptive.enabled"
        val prev = spark.conf.get(aqe)
        spark.conf.set(aqe, "false")
        val out = try checkpoint(df) finally spark.conf.set(aqe, prev)
        val part = out.queryExecution.executedPlan.outputPartitioning
        val ok = part match {
          case h: HashPartitioning => h.expressions.nonEmpty &&
            h.expressions.forall {
              case a: Attribute => a.name == k
              case _ => false
            }
          case _ => false
        }
        require(ok, s"Materialize.once: expected a preserved hash layout on " +
          s"'$k', got $part — the consumer would re-shuffle it on every read")
        out
    }
    val handle = Bridge.withStoredStats(stored, storedBytes(stored))
    scopes.get.find(_._1 eq spark).foreach(_._2 += handle)
    handle
  }

  /** Release the storage behind a handle from [[once]]: its blocks, and
    * in reliable mode its checkpoint directory. No-op for any other plan,
    * and safe to call twice. Destroys the data — see the object doc. */
  def free(df: DataFrame): Unit =
    Bridge.analyzed(df) match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          // Best-effort: a failed delete only delays cleanup; it must
          // never fail the query that finished with the data.
          try path.getFileSystem(conf).delete(path, true)
          catch { case _: java.io.IOException => () }
        }
      case _ => ()
    }

  /** Run `body` and free every handle [[once]] made on `spark` inside it
    * when it exits, normally or by throwing. Nothing `body` returns may
    * still read such a handle: force lazy results inside the scope.
    * Scopes nest; a handle belongs to the innermost scope of its session
    * on the calling thread. */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val made = ArrayBuffer.empty[DataFrame]
    scopes.set((spark, made) :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      made.foreach(free)
    }
  }

  private val scopes =
    ThreadLocal.withInitial[List[(SparkSession, ArrayBuffer[DataFrame])]](() => Nil)

  private def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get("spark.graft.checkpoint.reliable", "false") == "true") {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(spark.conf.get(
          "spark.graft.checkpoint.dir", "target/reliable-ckpt"))
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** The size [[once]] measured for `handle`, or None when it holds no
    * measurement (not a handle, or no complete block measurement). */
  private[graft] def measuredBytes(handle: DataFrame): Option[Long] = {
    val stats = Bridge.analyzed(handle).stats
    if (stats.isRuntime) Some(stats.sizeInBytes.toLong) else None
  }

  /** Bytes actually stored for a fresh checkpoint: the checkpoint files
    * in reliable mode, else the block managers' memory + disk bytes. */
  private def storedBytes(df: DataFrame): Option[Long] = {
    val rdd = Bridge.analyzed(df).asInstanceOf[LogicalRDD].rdd
    rdd.getCheckpointFile match {
      case Some(p) =>
        val path = new org.apache.hadoop.fs.Path(p)
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        Some(path.getFileSystem(conf).getContentSummary(path).getLength)
      case None => Bridge.storedBlockBytes(rdd)
    }
  }
}

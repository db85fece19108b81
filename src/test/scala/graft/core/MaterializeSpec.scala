package graft.core

import graft.SparkSpec
import graft.ext.{Dedup, Graph}
import graft.queries.Extensions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BlockSizes

/** [[Materialize]]: measured statistics on every handle, and a scope
  * that releases everything made inside it — blocks in local mode,
  * checkpoint directories in reliable mode — so no query leaves storage
  * pinned once its scope exits. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def rddOf(df: DataFrame) =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Block-manager bytes of a handle, one independent lookup per partition;
    * fails unless every partition has a block. */
  private def blockBytes(h: DataFrame): Long = {
    val rdd = rddOf(h)
    val parts = BlockSizes.perPartition(rdd)
    assert(parts.size == rdd.partitions.length,
      s"${parts.size} of ${rdd.partitions.length} partitions have a block")
    parts.values.sum
  }

  test("once carries the measured size, not the compounded origin estimate") {
    val a = spark.range(2000).toDF("id")
    val b = spark.range(2000).toDF("x")
    val joined = a.join(b, col("id") === col("x"))
    val h = Materialize.once(joined)
    try {
      val stored = blockBytes(h)
      assert(stored > 0)
      assert(h.queryExecution.analyzed.stats.sizeInBytes == BigInt(stored))
      assert(Materialize.measuredBytes(h) == Some(stored))
      // the origin estimate is the children's product; the stored rows are not
      assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(stored))
      assert(h.count() == 2000)
    } finally Materialize.free(h)
  }

  test("the measured size counts every block of a 200-partition handle") {
    // Read right after the checkpoint job: every one of the 200 blocks
    // must already be counted, none missing and none partial.
    val h = Materialize.once(spark.range(0, 20000, 1, 200).toDF("id")
      .withColumn("s", concat(lit("row-"), col("id").cast("string"))))
    try {
      assert(rddOf(h).partitions.length == 200)
      val stored = blockBytes(h)
      assert(stored > 0)
      assert(Materialize.measuredBytes(h) == Some(stored))
      assert(h.queryExecution.analyzed.stats.sizeInBytes == BigInt(stored))
    } finally Materialize.free(h)
  }

  test("an unmeasured checkpoint keeps its origin estimate, capped") {
    // Five chained joins carry an origin estimate above Long.MaxValue.
    val r = spark.range(2000).toDF("id")
    val chain = (1 to 4).foldLeft(r) { (acc, i) =>
      acc.join(r.select(col("id").as(s"id$i")), lit(true)).select(col("id"))
    }
    assert(chain.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Long.MaxValue))
    val raw = spark.range(5).toDF("id").localCheckpoint()
    val carried = raw.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      .copy()(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], Some(chain.queryExecution.optimizedPlan.stats), None)
    val h = org.apache.spark.sql.graft.Bridge.withStoredStats(
      org.apache.spark.sql.graft.Bridge.ofRows(spark, carried), None)
    try {
      val stats = h.queryExecution.analyzed.stats
      assert(stats.sizeInBytes == BigInt(Long.MaxValue))
      assert(!stats.isRuntime)
      assert(Materialize.measuredBytes(h).isEmpty)
      assert(graft.ext.Graph.loopPartitions(spark, Materialize.measuredBytes(h)) ==
        spark.sessionState.conf.numShufflePartitions)
      assert(h.count() == 5)
    } finally Materialize.free(h)
  }

  test("scope frees its handles when the body throws, and only its own") {
    val before = pinned
    val outer = Materialize.once(spark.range(10).toDF())
    var inner: DataFrame = null
    intercept[IllegalStateException] {
      Materialize.scope(spark) {
        inner = Materialize.once(spark.range(20).toDF())
        throw new IllegalStateException("boom")
      }
    }
    assert(!pinned.contains(rddOf(inner).id), "the scope's handle stays pinned")
    assert(pinned.contains(rddOf(outer).id), "a handle made outside the scope was freed")
    Materialize.free(outer)
    assert(pinned == before)
  }

  test("every extension query leaves nothing pinned after its scope") {
    val sf = "/root/testdata/sf0.001"
    val before = pinned
    val leaks = Extensions.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      Materialize.scope(spark) {
        fn(spark, sf).write.format("noop").mode("overwrite").save()
      }
      val left = pinned -- before
      if (left.isEmpty) None else Some(s"$name: ${left.size} persisted RDDs")
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("reliable mode: scoped duplicateClusters and bfsDistances leave no checkpoint dirs") {
    val k = "spark.graft.checkpoint.reliable"
    spark.conf.set(k, "true")
    try {
      val sc = spark.sparkContext
      def dirs(): Int = sc.getCheckpointDir.fold(0) { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(sc.hadoopConfiguration)
        if (fs.exists(p)) fs.listStatus(p).length else 0
      }
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
        .toDF("a", "b")
      val before = dirs()
      val (nCc, nBfs) = Materialize.scope(spark) {
        (Dedup.duplicateClusters(edges).count(),
          Graph.bfsDistances(edges, Seq(1L).toDF("v"), rounds = 3).count())
      }
      assert(nCc == 8 && nBfs == 4)
      assert(sc.getCheckpointDir.isDefined)
      assert(dirs() == before, s"${dirs() - before} checkpoint dirs left behind")
    } finally spark.conf.unset(k)
  }
}

package graft.core

import graft.SparkSpec

import org.apache.spark.sql.functions._

/** Pins the cluster shuffle-sizing posture ([[Sessions.clusterConf]]):
  * under it, post-shuffle reducer counts are governed by the AQE
  * initial-partition CEILING and the advisory BYTE size — not by the
  * `spark.sql.shuffle.partitions` constant — so a scaled-up input plans
  * more reducers without anyone re-tuning a global knob. Verified on
  * the shared local session by applying the conf block at runtime
  * (every key is runtime-settable, which the test also proves).
  *
  * Also pins the execution-mode choice ([[Sessions.forInput]]): below
  * the bound a clone that differs from the caller in exactly the keys of
  * [[Sessions.smallInputConf]] (interpreted, one task wide), at or above
  * it the caller's session itself. */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def reducerCount(rows: Int): Int = {
    // high-cardinality keys + a ~100-byte payload: partial aggregation
    // must NOT collapse the shuffle (the point is to measure how AQE
    // splits real shuffle bytes), and per-group rows stay > the 1 MB
    // minPartitionSize floor in aggregate
    // md5 payloads: shuffle files are lz4-compressed, so the payload
    // must be incompressible for byte-based coalescing to see it
    val df = spark.range(rows.toLong)
      .select((col("id") % (rows / 4)).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string"))).as("v"))
      .groupBy("k").agg(max("v"))
    df.write.mode("overwrite").format("noop").save()
    // AQE final plan: partition count after runtime coalescing
    df.rdd.getNumPartitions
  }

  test("clusterConf: the AQE ceiling, not shuffle.partitions, bounds reducers") {
    // A 1 MB advisory size over a ~10 MB shuffle: reducer count must
    // EXCEED the shuffle.partitions constant (2*cores = 8 for
    // totalCores=4), proving initialPartitionNum is the governing
    // ceiling — on a non-AQE session the count could never exceed it.
    val conf = Sessions.clusterConf(totalCores = 4,
      advisoryPartitionBytes = 1L << 20, oversubscription = 16)
    assert(conf("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "64")
    assert(conf("spark.sql.shuffle.partitions") == "8")
    withSQLConf(conf.toSeq: _*) {
      val n = reducerCount(400000)
      assert(n > 8, s"expected > shuffle.partitions=8 reducers, got $n")
      assert(n <= 64, s"ceiling is initialPartitionNum=64, got $n")
    }
  }

  test("clusterConf: bigger inputs plan more reducers under the same conf") {
    val conf = Sessions.clusterConf(totalCores = 4,
      advisoryPartitionBytes = 1L << 20, oversubscription = 16)
    withSQLConf(conf.toSeq: _*) {
      val small = reducerCount(40000)
      val big = reducerCount(400000)
      assert(big > small,
        s"10x the rows should coalesce to more advisory-sized reducers " +
          s"(small=$small, big=$big)")
    }
  }

  test("clusterConf: small shuffles coalesce below the constant with a real advisory size") {
    // The flip side: with the production 128 MB advisory target, a tiny
    // shuffle collapses to ~1 reducer instead of paying 8 scheduled
    // tasks — empty buckets are free to oversubscribe.
    withSQLConf(Sessions.clusterConf(totalCores = 4).toSeq: _*) {
      val n = reducerCount(20000)
      assert(n < 8, s"tiny shuffle should coalesce below shuffle.partitions, got $n")
    }
  }

  test("forInput below the bound: an interpreted clone; the caller's conf is untouched") {
    graft.functions.GraftExtensions.register(spark)
    withSQLConf("spark.sql.files.maxRecordsPerFile" -> "777") {
      val before = spark.conf.getAll
      val clone = Sessions.forInput(spark, Sessions.interpretedBelowBytes - 1)
      assert(!(clone eq spark))
      assert(clone.sparkContext eq spark.sparkContext)
      // the caller's runtime key is inherited; only the small-input keys differ
      assert(clone.conf.get("spark.sql.files.maxRecordsPerFile") == "777")
      val after = clone.conf.getAll
      assert(after.filter { case (k, v) => !before.get(k).contains(v) } == Sessions.smallInputConf)
      assert(Sessions.smallInputConf.keySet == Set(
        "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.files.minPartitionNum", "spark.sql.files.maxPartitionBytes",
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))
      assert(before.keySet.subsetOf(after.keySet))
      // graft_* functions resolve on the clone, with the caller's result
      val q = "SELECT graft_jaro_winkler('martha', 'marhta') AS s"
      assert(clone.sql(q).head().getDouble(0) == spark.sql(q).head().getDouble(0))
      // the clone's plans run without whole-stage codegen; the caller's with it
      def stages(s: org.apache.spark.sql.SparkSession): Int = {
        val df = s.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
        assert(df.collect().length == 7)
        codegenStages(df.queryExecution.executedPlan)
      }
      assert(stages(clone) == 0)
      assert(stages(spark) > 0)
      assert(spark.conf.getAll == before)
    }
  }

  test("forInput below the bound: a caller built with clusterConf still gets a one-partition clone") {
    withSQLConf(Sessions.clusterConf(totalCores = 4).toSeq: _*) {
      val before = spark.conf.getAll
      assert(before("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
      val clone = Sessions.forInput(spark, 0L)
      // the same shuffle: one reducer on the clone, more on the caller
      // (a 1 MB advisory size over ~10 MB of incompressible rows)
      def reducers(s: org.apache.spark.sql.SparkSession): Int = {
        val df = s.range(400000L)
          .select((col("id") % 100000).as("k"),
            concat(md5(col("id").cast("string")), md5((col("id") + 1).cast("string"))).as("v"))
          .repartition(col("k"))
        df.write.mode("overwrite").format("noop").save()
        df.rdd.getNumPartitions
      }
      withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (1L << 20).toString) {
        val c = Sessions.forInput(spark, 0L)
        assert(reducers(c) == 1)
        assert(reducers(spark) > 1)
      }
      assert(clone.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "1")
      assert(clone.conf.get("spark.sql.shuffle.partitions") == "1")
      assert(spark.conf.getAll == before)
    }
  }

  test("forInput below the bound: a scan of many small files is one split, listed on the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-splits")
    // 40 files matched by a glob: more than the 32 root paths Spark
    // lists on the driver by default
    spark.range(0, 40, 1, 40).write.mode("overwrite").parquet(dir.toString)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def listingJobs(s: org.apache.spark.sql.SparkSession): (Int, Int) = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      jobs.clear()
      // a given schema: no footer-reading job beside the listing
      val df = s.read.schema("id LONG").parquet(s"$dir/*.parquet")
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      val n = jobs.toArray.count(_.toString.startsWith("Listing leaf files"))
      (df.rdd.getNumPartitions, n)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (splits, listed) = listingJobs(Sessions.forInput(spark, 0L))
      assert(splits == 1 && listed == 0, (splits, listed))
      val (callerSplits, callerListed) = listingJobs(spark)
      assert(callerSplits > 1 && callerListed == 1, (callerSplits, callerListed))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("forInput at or above the bound: the caller's session itself") {
    assert(Sessions.forInput(spark, Sessions.interpretedBelowBytes) eq spark)
    assert(Sessions.forInput(spark, Long.MaxValue) eq spark)
  }
}

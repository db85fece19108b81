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
  * the bound an interpreted clone that differs from the caller in the
  * two codegen keys only, at or above it the caller's session itself. */
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
      // the caller's runtime key is inherited; only the two codegen keys differ
      assert(clone.conf.get("spark.sql.files.maxRecordsPerFile") == "777")
      val after = clone.conf.getAll
      assert(after.filter { case (k, v) => !before.get(k).contains(v) } == Map(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
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

  test("forInput at or above the bound: the caller's session itself") {
    assert(Sessions.forInput(spark, Sessions.interpretedBelowBytes) eq spark)
    assert(Sessions.forInput(spark, Long.MaxValue) eq spark)
  }
}

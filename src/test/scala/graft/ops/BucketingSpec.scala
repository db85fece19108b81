package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed tables must make same-key joins exchange-free — the write
  * pays the shuffle once, every later join skips it. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("co-located join on bucketed tables has no exchange and no sort") {
    val base = "/root/repo/target/qtmp/bucketing-spec"
    val facts = Seq.tabulate(500)(i => (i % 40, i.toLong)).toDF("k", "v")
    val dims = Seq.tabulate(40)(i => (i, s"name_$i")).toDF("k", "name")
    // One writer task → one file per bucket: Spark only trusts (and
    // reuses) the per-bucket sortBy order when a bucket is one file.
    Bucketing.writeBucketed(facts.coalesce(1), "bspec_facts", s"$base/facts", Seq("k"), 4)
    Bucketing.writeBucketed(dims.coalesce(1), "bspec_dims", s"$base/dims", Seq("k"), 4)

    // Force a non-broadcast join so the exchange question is real. The
    // sort-free scan additionally needs the (off-by-default) bucketed
    // output-ordering conf, honored only when every bucket is one file.
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val joined = Bucketing.readTable(spark, "bspec_facts")
        .join(Bucketing.readTable(spark, "bspec_dims"), Seq("k"))
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("Sort "), plan) // sortBy carries into merge join
      assert(plan.contains("SortMergeJoin"), plan)

      val expect = (0 until 500).map(i => (i % 40, i.toLong, s"name_${i % 40}")).toSet
      val got = Bucketing.readTable(spark, "bspec_facts")
        .join(Bucketing.readTable(spark, "bspec_dims"), Seq("k"))
        .select("k", "v", "name").as[(Int, Long, String)].collect().toSet
      assert(got == expect)
    }
  }

  test("keyed aggregation on a bucketed table has no exchange") {
    val base = "/root/repo/target/qtmp/bucketing-spec-agg"
    val facts = Seq.tabulate(300)(i => (i % 20, i.toLong)).toDF("k", "v")
    Bucketing.writeBucketed(facts, "bspec_agg", s"$base/facts", Seq("k"), 4)
    val agg = Bucketing.readTable(spark, "bspec_agg")
      .groupBy("k").agg(sum(col("v")).as("s"))
    val plan = finalPlan(agg)
    assert(!plan.contains("Exchange"), plan)
    assert(agg.count() == 20)
  }
}

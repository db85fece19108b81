package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GlobalOrderSpec extends SparkSpec {
  import spark.implicits._

  test("numbers are contiguous 1..N in key order, across many partitions") {
    // deliberately scrambled input order, 7 range partitions over 100 rows
    val d = scala.util.Random.shuffle((1L to 100L).toList).toDF("id")
      .repartition(5)
    val got = GlobalOrder.rowNumbered(d, "rn", 7, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (1L to 100L).map(i => (i, i)).toSet)
  }

  test("partition count does not change the assignment") {
    val d = Seq(30L, 10L, 50L, 20L, 40L).toDF("id")
    val a = GlobalOrder.rowNumbered(d, "rn", 2, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = GlobalOrder.rowNumbered(d, "rn", 4, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L), (50L, 5L))
    assert(a === expect)
    assert(b === expect)
  }

  test("multi-column key: secondary column breaks primary ties") {
    val d = Seq(("b", 2L), ("a", 9L), ("b", 1L), ("a", 3L)).toDF("k", "id")
    val got = GlobalOrder.rowNumbered(d, "rn", 3, col("k"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("a", 3L, 1L), ("a", 9L, 2L), ("b", 1L, 3L), ("b", 2L, 4L)))
  }

  test("empty input yields an empty numbered frame with the added column") {
    val d = Seq.empty[Long].toDF("id")
    val out = GlobalOrder.rowNumbered(d, "rn", 4, col("id"))
    assert(out.columns.toSeq === Seq("id", "rn"))
    assert(out.count() === 0L)
  }

  test("no single-partition global sort appears in the pass-2 lineage") {
    // the whole point: the returned frame must not depend on a 1-task
    // stage. Its RDD partition count stays the requested width.
    val d = (1L to 1000L).toDF("id")
    val out = GlobalOrder.rowNumbered(d, "rn", 8, col("id"))
    assert(out.rdd.getNumPartitions === 8)
  }

  test("prefixSummed emits the inclusive weight prefix in key order") {
    val d = Seq((30L, 2L), (10L, 1L), (20L, 4L), (40L, 3L)).toDF("k", "w")
    val got = GlobalOrder.prefixSummed(d, "w", "cw", 3, col("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(10L -> 1L, 20L -> 5L, 30L -> 7L, 40L -> 10L))
  }

  test("prefixSummed rejects a non-long weight column at the call") {
    val d = Seq((1L, 2), (2L, 3)).toDF("k", "w")
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.prefixSummed(d, "w", "cw", 2, col("k"))
    }
    assert(e.getMessage.contains("LongType"), e.getMessage)
  }
}

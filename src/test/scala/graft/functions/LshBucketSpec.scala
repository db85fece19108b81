package graft.functions

import graft.SparkSpec
import graft.ext.Similarity

import org.apache.spark.sql.functions._

class LshBucketSpec extends SparkSpec {
  import spark.implicits._

  // deterministic float vectors with positive and negative components,
  // varied dims (the corpus is 64-dim; edges exercise short/empty)
  private def vec(seed: Int, dim: Int): Seq[Float] =
    (0 until dim).map(i => (((seed * 31 + i * 7) % 17) - 8) / 3.0f)

  // NO empty vectors here: the HOF reference itself THROWS on them
  // (sequence(1, 0) counts down into element_at(emb, 1)); the corpus
  // never contains one and the native form's empty behavior is pinned
  // in its own test below.
  private val rows: Seq[(Long, Seq[Float])] =
    (0 until 40).map(s => (s.toLong, vec(s, 64))) ++
      Seq((100L, vec(3, 1)), (101L, vec(4, 5)))

  test("native LshBucket equals the HOF fold (static form, 8 planes)") {
    val df = rows.toDF("vec_id", "embedding")
    val out = df.select(
      Similarity.lshBucket(col("embedding"), 8).as("native"),
      Similarity.lshBucketHof(col("embedding"), 8).as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // both paths must produce a spread of buckets, not a constant
    assert(out.map(_.getLong(0)).distinct.length > 4)
  }

  test("native LshBucketDyn equals the HOF fold across widths and offsets") {
    val df = rows.toDF("vec_id", "embedding")
    for (b <- Seq(0, 1, 3, 10); off <- Seq(0, 37, 111)) {
      val out = df.select(
        Similarity.lshBucketDyn(col("embedding"), lit(b), lit(off)).as("native"),
        Similarity.lshBucketDynHof(col("embedding"), lit(b), lit(off)).as("hof"))
        .collect()
      out.foreach(r => assert(r.getLong(0) == r.getLong(1), s"b=$b off=$off $r"))
    }
  }

  test("null array, null element and null plane count match the HOF forms") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f), Some(3)),
      (2L, null.asInstanceOf[Seq[Float]], Some(3)),
      (3L, Seq(1.0f, -2.0f), None))
      .toDF("vec_id", "embedding", "b")
    val out = df.select(
      Similarity.lshBucketDyn(col("embedding"), col("b"), lit(0)).as("native"),
      Similarity.lshBucketDynHof(col("embedding"), col("b"), lit(0)).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    // null element: HOF zeroes every plane (null d -> otherwise branch)
    val withNullEl = Seq((1L, Seq[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("vec_id", "embedding")
    val r2 = withNullEl.select(
      Similarity.lshBucket(col("embedding"), 8).as("native"),
      Similarity.lshBucketHof(col("embedding"), 8).as("hof")).head()
    assert(r2.getLong(0) == r2.getLong(1) && r2.getLong(0) == 0L)
  }

  test("empty vector: all plane sums are 0.0 >= 0, so every bit sets") {
    // (the HOF form errors out on this input; it cannot occur in the
    // corpus — pinned here so the native semantics are explicit)
    val got = Seq((1L, Seq.empty[Float])).toDF("vec_id", "embedding")
      .select(Similarity.lshBucket(col("embedding"), 4)).head().getLong(0)
    assert(got == 15L)
  }

  test("more than 63 planes is rejected: at analysis for a literal, in the task for a column") {
    val df = Seq((1L, Seq(1.0f, -2.0f), 64)).toDF("vec_id", "embedding", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Similarity.lshBucket(col("embedding"), 64))
    }
    val e = intercept[Exception] {
      df.select(Similarity.lshBucketDyn(col("embedding"), col("b"), lit(0))).collect()
    }
    assert(e.getMessage.contains("at most 63 planes"), e.getMessage)
    // 63 planes still fit: every bit set on the empty-sum edge stays non-negative
    val ok = Seq((1L, Seq.empty[Float])).toDF("vec_id", "embedding")
      .select(Similarity.lshBucket(col("embedding"), 63)).head().getLong(0)
    assert(ok == Long.MaxValue)
  }

  test("graft_lsh_bucket registers as a SQL function") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_lsh_bucket(array(cast(1.0 as float), cast(-2.0 as float)), 4, 0) AS b")
      .head().getLong(0)
    val want = Seq((1L, Seq(1.0f, -2.0f))).toDF("vec_id", "embedding")
      .select(Similarity.lshBucketHof(col("embedding"), 4)).head().getLong(0)
    assert(got == want)
  }
}

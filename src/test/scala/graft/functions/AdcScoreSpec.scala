package graft.functions

import graft.SparkSpec

import org.apache.spark.sql.functions._

class AdcScoreSpec extends SparkSpec {
  import spark.implicits._

  private def hof(m: Int) =
    aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, s) =>
      acc + element_at(element_at(col("lut"), s),
        element_at(col("codes"), s) + 1))

  test("native AdcScore equals the sequence-fold HOF, serial IEEE order") {
    // deterministic LUTs with mixed-sign doubles; codes span the range
    val rows = (0 until 20).map { r =>
      val lut = (0 until 8).map(s =>
        (0 until 16).map(c => ((r * 31 + s * 7 + c) % 23 - 11) / 7.0))
      val codes = (0 until 8).map(s => (r + s * 3) % 16)
      (r.toLong, lut, codes)
    }
    val out = rows.toDF("id", "lut", "codes")
      .select(graft.functions.AdcScore(col("lut"), col("codes")).as("native"),
        hof(8).as("hof")).collect()
    out.foreach { r =>
      // bit-identical, not approximately equal
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
    }
  }

  test("null lut or codes yields null, like the HOF") {
    val df = Seq(
      (1L, Some(Seq(Seq(1.0, 2.0))), Some(Seq(0))),
      (2L, None: Option[Seq[Seq[Double]]], Some(Seq(0))),
      (3L, Some(Seq(Seq(1.0, 2.0))), None: Option[Seq[Int]]))
      .toDF("id", "lut", "codes")
    val out = df.select(graft.functions.AdcScore(col("lut"), col("codes")).as("n"),
      hof(1).as("h")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("lut and codes of different lengths yield null") {
    val lut = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val out = Seq((1L, lut, Seq(0)), (2L, lut, Seq(0, 1, 1)), (3L, lut, Seq(1, 0)))
      .toDF("id", "lut", "codes")
      .select(graft.functions.AdcScore(col("lut"), col("codes")).as("a"))
      .collect()
    assert(out(0).isNullAt(0), "short codes")
    assert(out(1).isNullAt(0), "long codes")
    assert(out(2).getDouble(0) == 5.0)
  }

  test("graft_adc_score registers as a SQL function") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT graft_adc_score(array(array(1.5d, 2.5d), array(10.0d, 20.0d)), array(1, 0)) AS a")
      .head().getDouble(0)
    assert(got == 12.5)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Materialize

/** Contiguous global row numbering in a total key order — the scalable
  * form of `row_number() OVER (ORDER BY …)`, whose empty-PARTITION-BY
  * window Spark plans as a SINGLE-partition sort: one task receives the
  * entire table, which is exactly the shape that cannot run at 100 TB.
  * (`monotonically_increasing_id` scales but is neither contiguous nor
  * order-respecting; RDD `zipWithIndex` is this algorithm without the
  * ordering step.)
  *
  * Two-pass partition-offset scheme instead: range-repartition on the
  * keys (so partition p holds a contiguous key range, every range before
  * it strictly smaller), sort within partitions, then (pass 1) count
  * rows per partition — O(#partitions) driver metadata, the documented
  * collect exception — and (pass 2) assign offset(p) + local position
  * with one per-partition counter. No global sort, no single-task stage;
  * the data moves through exactly one exchange (the range repartition).
  *
  * The assignment is IMPERATIVE per-partition logic (a running counter),
  * so pass 2 is `mapPartitionsWithIndex` — the genuine use-case for the
  * RDD escape hatch. The sorted input is stored once with
  * [[graft.core.Materialize.once]]: both passes read the materialized
  * sorted layout (without it pass 2 would recompute the upstream plan,
  * and a recomputation is not even guaranteed to produce the same
  * partition-internal order for tied keys). EAGER, and the returned
  * frame reads that handle — run the caller inside a
  * [[graft.core.Materialize.scope]] to free it once the numbering has
  * been consumed.
  *
  * Numbers are 1-based and CONTIGUOUS (1..N), independent of the chosen
  * partition count. They are deterministic iff `keys` is a total order
  * (no ties); with ties, tied rows receive distinct but arbitrary
  * consecutive numbers — pass a unique tiebreaker column last.
  */
object GlobalOrder {

  def rowNumbered(df: DataFrame, outCol: String, numPartitions: Int,
                  keys: Column*): DataFrame =
    offsetScan(df, None, outCol, numPartitions, keys)

  /** Weighted twin of [[rowNumbered]]: rows carry a positive long
    * weight (`weightCol`) standing for a RUN of identical keys, and
    * `outCol` receives the INCLUSIVE cumulative weight in global key
    * order — i.e. the run's last rank in the expanded multiset. A
    * caller that pre-aggregates duplicate keys (weight = multiplicity)
    * selects the k-th order STATISTIC of the expanded multiset from
    * the row where `outCol - weight < k <= outCol`, while the exchange
    * carries one row per distinct key instead of one per element
    * (guide §2.3: aggregate before you shuffle). Same two-pass
    * partition-offset scheme, same handle contract. */
  def prefixSummed(df: DataFrame, weightCol: String, outCol: String,
                   numPartitions: Int, keys: Column*): DataFrame = {
    val wType = df.schema(weightCol).dataType
    require(wType == LongType,
      s"prefixSummed needs a LongType weight column, '$weightCol' is ${wType.sql}")
    offsetScan(df, Some(weightCol), outCol, numPartitions, keys)
  }

  /** Both passes. Each row adds its weight (1 without `weightCol`) to a
    * running counter started at its partition's offset. */
  private def offsetScan(df: DataFrame, weightCol: Option[String],
      outCol: String, numPartitions: Int, keys: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "GlobalOrder needs at least one ordering key")
    val spark = df.sparkSession
    val sorted = Materialize.once(df.repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*))
    // pass 1: per-partition weight sums → cumulative offsets. O(#parts)
    // rows reach the driver — metadata, not data.
    val counts = sorted.groupBy(spark_partition_id().as("pid"))
      .agg(sum(weightCol.fold(lit(1L))(col)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = (counts.keys.maxOption.getOrElse(-1) + 1) max numPartitions
    val offsets = new Array[Long](nParts)
    var acc = 0L
    for (p <- offsets.indices) { offsets(p) = acc; acc += counts.getOrElse(p, 0L) }
    val bc = spark.sparkContext.broadcast(offsets)
    val wIdx = weightCol.fold(-1)(sorted.schema.fieldIndex)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    // pass 2: running counter from the partition's offset, over the SAME
    // materialized partitions pass 1 counted.
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = bc.value(pid)
      it.map { row =>
        c += (if (wIdx < 0) 1L else row.getLong(wIdx))
        Row.fromSeq(row.toSeq :+ c)
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}

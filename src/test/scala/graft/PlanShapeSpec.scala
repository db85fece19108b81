package graft

import graft.core.Materialize
import graft.queries.Parity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape regressions: the properties that keep 100 TB scans cheap
  * must hold structurally, not by luck — filters reach the parquet
  * reader, projection prunes the read schema, broadcast hints stick,
  * and hot paths stay inside whole-stage codegen. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def scanLines(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString
      .split('\n').toSeq.filter(_.contains("FileScan parquet"))

  test("filter + projection push into the parquet scan") {
    val q = Parity.table(spark, sf, "lineitem")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val scan = scanLines(q).head
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"), scan)
    val schema = scan.split("ReadSchema: ").last
    assert(schema.contains("l_orderkey") && schema.contains("l_quantity"), schema)
    assert(!schema.contains("l_comment") && !schema.contains("l_extendedprice"),
      s"unpruned read schema: $schema")
  }

  test("aggregation reads only the referenced columns") {
    val scan = scanLines(Parity.a1Aggregates(spark, sf)).head
    val schema = scan.split("ReadSchema: ").last
    assert(!schema.contains("l_comment") && !schema.contains("l_partkey"),
      s"a1 should not read unused wide columns: $schema")
  }

  test("j1 dimension join broadcasts the small side") {
    val plan = Parity.j1LeftJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("scalar suite runs in a single whole-stage codegen stage over the scan") {
    val plan = Parity.scalarSuite(spark, sf).queryExecution.executedPlan.toString
    // '*(1)' prefixes mark whole-stage-codegen'd operators in toString.
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("Exchange"), s"scalar suite must be exchange-free:\n$plan")
  }

  test("global top-N plans TakeOrderedAndProject, not a full sort") {
    val plan = Parity.topSpenders(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"top-N must not shuffle:\n$plan")
  }

  test("tpch_q3 broadcasts the dim and takes top-k without a global sort") {
    val plan = Parity.tpchQ3(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("GlobalLimit"), s"top-k fell back to sort+limit:\n$plan")
  }

  test("tpch_q21 reads the fact once; one exchange feeds both agg and windows") {
    val plan = Parity.tpchQ21(spark, sf).queryExecution.executedPlan.toString
    val factScans = plan.split('\n')
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"q21 must not self-join back into a second lineitem scan ($factScans):\n$plan")
    // the orderkey repartition serves the (orderkey,suppkey) groupBy AND
    // the per-order windows: exactly 2 exchanges total (fact + final
    // s_name rollup), no extra window re-shuffle
    val exchanges = plan.split('\n').count(l => l.trim.startsWith("+- Exchange")
      || l.trim.startsWith(":- Exchange") || l.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"q21 planned $exchanges exchanges (want ≤2):\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("tpch_q15 argmax joins hash-to-hash, never a nested loop") {
    val plan = Parity.tpchQ15(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"max-revenue equality must stay an equi-join:\n$plan")
  }

  test("tpch_q7 broadcasts all dims; only the fact joins shuffle") {
    val plan = Parity.tpchQ7(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"nation-pair disjunction must not degrade to a non-equi join:\n$plan")
  }

  test("tpch_q8 computes the market-share ratio in one aggregate pass") {
    val q = Parity.tpchQ8(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // conditional sum + total sum fold in the SAME HashAggregate — a
    // self-join of two aggregations would scan and shuffle twice
    assert(scanLines(q).count(_.contains("lineitem")) == 1,
      s"q8 must read the fact once:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("multi-distinct aggregation plans through Expand, not N scans") {
    val q = Parity.a7MultiDistinct(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    assert(scanLines(q).size == 1,
      s"multi-distinct should read the fact once:\n$plan")
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    val dir = Parity.tmp("planshape-dpp", sf)
    Parity.table(spark, sf, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    import spark.implicits._
    // DPP wants a *selective* predicate on the dim side (a Filter that
    // survives optimization — local relations get constant-folded, so
    // the dim must be file-backed); the broadcast exchange is then
    // reused as the runtime partition filter for free.
    val dimDir = Parity.tmp("planshape-dpp-dim", sf)
    Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("label") === "finished")
    val q = spark.read.parquet(dir)
      .join(broadcast(dim), col("o_orderstatus") === col("status"))
      .select("o_orderkey", "label")
    // The fact side has no static predicate on the partition column; the
    // planner must insert a runtime (dynamicpruning) partition filter fed
    // by the dim — without DPP a 100 TB fact would be scanned in full.
    val scan = scanLines(q).head
    assert(scan.contains("dynamicpruning"), s"no runtime partition filter:\n$scan")
    assert(q.count() == Parity.table(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F").count())
  }

  test("runtime bloom filter from a selective dim prunes the fact-side scan") {
    // Shuffle-join twin of the DPP test: when the fact is NOT partitioned
    // on the join key, the only runtime pruning available is an injected
    // bloom filter built from the selective (filtered) creation side and
    // pushed into the fact scan as might_contain — at 100 TB this is the
    // difference between shuffling the whole fact and shuffling the ~1%
    // that can match. Thresholds are production-sized (10 MB creation /
    // 10 GB application), so the test scales them down and restores.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "10MB")
      conf.set(keys(1), "1KB")
      conf.set(keys(2), "-1") // force a shuffle join: broadcast joins use DPP instead
      val dim = Parity.table(spark, sf, "orders")
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      val fact = Parity.table(spark, sf, "lineitem")
      val q = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      assert(q.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("shingle self-join computes the postings exchange once (ReuseExchange)") {
    // jaccardPairs joins the exploded postings with themselves; the
    // barrier repartition makes both sides the IDENTICAL exchange, so at
    // 100 TB (where neither side broadcasts) the shingle derivation runs
    // once, not twice. Disable broadcast to get the at-scale plan, and
    // execute so AQE finalizes before inspecting.
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "-1"))
      val q = graft.queries.Extensions.ngramJaccard(spark, sf)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The declarative complement to ops/Skew salting: when one key
    // dwarfs the others, AQE re-plans the sort-merge join to split the
    // oversized partition instead of letting one task run for hours.
    // Production thresholds are 256MB; scale them down and restore.
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "16KB")
      conf.set(keys(1), "8KB")
      conf.set(keys(2), "2")
      conf.set(keys(3), "-1")
      conf.set(keys(4), "-1")
      // key 0 carries ~100k rows, the rest 1 each — a canonical hot key
      val left = spark.range(0, 100000).select(
        when(col("id") < 99000, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 200).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() drives THIS dataset's query execution, so its AQE plan
      // finalizes (a write would execute a separate wrapped plan)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("native as-of join over co-bucketed tables plans exchange-free") {
    // The custom operator composes with bucketing exactly like a built-in
    // sort-merge join: its ClusteredDistribution requirement is satisfied
    // by the bucketed scans' HashPartitioning, so a 100 TB as-of
    // enrichment against a co-bucketed quote table pays ZERO shuffle.
    import spark.implicits._
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 15L, "t3"))
      .toDF("key", "ts", "trade")
    val quotes = Seq((1L, 5L, 100.0), (1L, 15L, 101.0), (2L, 10L, 200.0))
      .toDF("key", "qts", "px")
    val base = Parity.tmp("planshape-bucketed-asof", sf)
    graft.ops.Bucketing.writeBucketed(trades, "asof_trades", s"$base/t", Seq("key"), 4)
    graft.ops.Bucketing.writeBucketed(quotes, "asof_quotes", s"$base/q", Seq("key"), 4)
    val q = graft.ext.AsOf.joinBackwardNative(
      spark.table("asof_trades"), spark.table("asof_quotes"),
      keys = Seq("key"), leftTs = "ts", rightTs = "qts",
      payload = Seq("px"), tiebreak = "qts")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed as-of must not shuffle:\n$plan")
    assert(q.select("key", "ts", "px").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 15L, 200.0)))
  }

  test("interval sweeps and session features run on a single exchange") {
    // the scale claim these operators make: every window pass and the
    // downstream aggregations share ONE hash exchange on the key — a
    // second exchange here is a plan regression, not a tuning matter
    for (name <- Seq("x_interval_union", "x_session_features")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = plan.split('\n').count(_.contains("Exchange"))
      assert(exchanges == 1, s"$name plans $exchanges exchanges:\n$plan")
    }
    // x_concurrency unions two scans before its single sweep exchange
    val plan = SparkEntry.queries("x_concurrency")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.split('\n').count(_.contains("Exchange")) == 1, plan)
  }

  // ---- iterative graph loop bodies: the edge list never re-shuffles ----
  // The contract all iterative graph ops rely on: localCheckpoint
  // preserves the checkpointed plan's hash partitioning, and every
  // round's state aggregate comes out hash-partitioned on the join key
  // with the same partition count — so the per-round message join plans
  // with NO Exchange on either side, and the only per-round shuffle is
  // the message-merge aggregation itself. A regression here (losing the
  // repartition, a checkpoint that forgets partitioning, a join key
  // rename that breaks alias tracking) re-shuffles O(E) per round at
  // 100 TB; these pins catch it at plan time.

  /** Shuffle exchanges only — BroadcastExchange of the O(V) state is
    * legitimate at any scale (the edge list still never moves). */
  private def nShuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .split('\n').count(_.contains("Exchange hashpartitioning"))

  /** Disable auto-broadcast so the pins exercise the 100 TB path: with a
    * state table too big to broadcast, the loop joins must plan as
    * CO-PARTITIONED joins (zero exchanges), not fall back to reshuffling
    * the edge list every round. */
  private def noBroadcast[T](f: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try f finally spark.conf.set(k, prev)
  }

  private def graphEdges =
    spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (2L, 6L))).toDF("a", "b")

  test("bfs loop body shuffles only the min-merge, never the edges") {
    import graft.core.Materialize
    import graft.ext.Graph
    noBroadcast {
      val und = Graph.undBySrc(graphEdges)
      // state as every round ≥ 2 sees it: hash-partitioned on v by its own
      // aggregation, layout preserved through the checkpoint
      val dist = Materialize.once(und.select(col("u").as("v"))
        .distinct().select(col("v"), lit(0L).as("dist")), Some("v"))
      val round = Graph.bfsRound(dist, und)
      assert(nShuffles(round) == 1,
        s"bfs round must have exactly the min-merge exchange:\n${round.queryExecution.executedPlan}")
      Materialize.free(und); Materialize.free(dist)
    }
  }

  test("sssp loop body shuffles only the min-merge, never the edges") {
    import graft.core.Materialize
    import graft.ext.Graph
    noBroadcast {
      val und = Graph.undBySrc(graphEdges.withColumn("w", lit(2L)),
        extra = Seq("w"))
      val cost = Materialize.once(und.select(col("u").as("v"))
        .distinct().select(col("v"), lit(0L).as("cost")), Some("v"))
      val round = Graph.ssspRound(cost, und)
      assert(nShuffles(round) == 1,
        s"sssp round must have exactly the min-merge exchange:\n${round.queryExecution.executedPlan}")
      Materialize.free(und); Materialize.free(cost)
    }
  }

  test("label-propagation loop body shuffles only its two aggregations") {
    import graft.core.Materialize
    import graft.ext.Graph
    noBroadcast {
      val und = Graph.undBySrc(graphEdges)
      // steady-state round shape: label is its own attribute (round ≥ 2);
      // round 1's label ≡ node aliasing even skips the message-count
      // exchange, so it is not the shape to pin
      val labels = Materialize.once(
        und.groupBy(col("u").as("node")).agg(min(col("v")).as("label")),
        Some("node"))
      val round = Graph.lpRound(labels, und)
      // (v, label) plurality counts + per-v argmax; message join and adopt
      // join are both co-partitioned
      assert(nShuffles(round) == 2,
        s"lp round must have exactly its two aggregation exchanges:\n${round.queryExecution.executedPlan}")
      Materialize.free(und); Materialize.free(labels)
    }
  }

  test("k-core degree update shuffles only the lost-count merge") {
    import graft.core.Materialize
    import graft.ext.Graph
    noBroadcast {
      val und = Graph.undBySrc(graphEdges, key = "v")
      val deg = Materialize.once(
        und.groupBy("u").agg(count(lit(1)).as("deg")), Some("u"))
      val next = Graph.kcoreNextDeg(deg, und, k = 3)
      assert(nShuffles(next) == 1,
        s"k-core round must have exactly the lost-count exchange:\n${next.queryExecution.executedPlan}")
      Materialize.free(und); Materialize.free(deg)
    }
  }

  test("pageRank plans iters message-merge exchanges and nothing else") {
    import graft.ext.Graph
    noBroadcast {
      val pr = Graph.pageRank(graphEdges, iters = 3)
      assert(nShuffles(pr) == 3,
        s"pageRank loop must shuffle only the per-round rank merge:\n${pr.queryExecution.executedPlan}")
    }
  }

  test("partition-pruned read scans only the selected partition") {
    val dir = Parity.tmp("planshape-part", sf)
    Parity.table(spark, sf, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    val scan = scanLines(q).head
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderstatus"), scan)
    // count the fraction actually read: only the F partition's rows
    val all = Parity.table(spark, sf, "orders").count()
    val f = q.count()
    assert(f > 0 && f < all)
  }

  test("statistics-driven join reorder: the selective dim joins first; rule-off control keeps declared order") {
    import graft.plans.NdvJoinOrderRule
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    // Execution order of the two dim joins in x_stats_join_order's plan:
    // the DEEPER Join node runs first. Identify each join by which dim
    // key its condition references.
    def firstJoined(withRule: Boolean): String = {
      val saved = spark.experimental.extraOptimizations
      try {
        spark.experimental.extraOptimizations =
          if (withRule) saved :+ NdvJoinOrderRule(spark) else saved
        val df = graft.queries.Extensions.statsJoinOrder(spark, sf)
        var best: (Int, String) = (-1, "none")
        def walk(p: LogicalPlan, d: Int): Unit = {
          p match {
            case j: Join =>
              val refs = j.condition.toSeq.flatMap(_.references.toSeq).map(_.name).toSet
              val key = if (refs.contains("p_partkey")) "part"
                else if (refs.contains("o_orderkey")) "orders" else "other"
              if (d > best._1) best = (d, key)
            case _ =>
          }
          p.children.foreach(walk(_, d + 1))
        }
        walk(df.queryExecution.optimizedPlan, 0)
        best._2
      } finally { spark.experimental.extraOptimizations = saved }
    }
    // declared order joins orders first (the deepest join); the rule
    // must flip the filtered part dim (fan-out ~0.05 from sidecar row
    // count x range selectivity / key NDV) ahead of it
    assert(firstJoined(withRule = false) == "orders",
      "control: declared order must put the orders join first")
    assert(firstJoined(withRule = true) == "part",
      "sidecar statistics must reorder the selective part join first")
    // and the reordered plan computes identical rows (cheap at sf0.001)
    val rows = graft.queries.Extensions.statsJoinOrder(spark, sf)
      .orderBy("o_orderstatus").collect().map(_.toString).toSeq
    val saved = spark.experimental.extraOptimizations
    val expected = try {
      spark.experimental.extraOptimizations = saved :+ NdvJoinOrderRule(spark)
      graft.queries.Extensions.statsJoinOrder(spark, sf)
        .orderBy("o_orderstatus").collect().map(_.toString).toSeq
    } finally { spark.experimental.extraOptimizations = saved }
    assert(rows == expected)
  }
}

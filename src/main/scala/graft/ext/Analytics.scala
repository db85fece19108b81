package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType}

import graft.core.Materialize

/** Event-log analytics: cohort retention and ordered conversion funnels —
  * the product-analytics queries a training-data pipeline's telemetry
  * side runs at the same scale as the corpus side.
  *
  * Scale posture: both operators are single-key-shuffle designs. Cohort
  * retention folds each user's week set on the map side of ONE user_id
  * exchange (collect_set is bounded by #distinct weeks per user, not
  * events); the funnel computes all three stage timestamps in one
  * user_id-partitioned window pipeline — Spark reuses the exchange across
  * the three window passes, so the raw event table is shuffled once.
  */
object Analytics {

  /** 2-D skyline (Pareto frontier): rows not DOMINATED on (maximize x,
    * maximize y) — other.x ≥ x ∧ other.y ≥ y with at least one strict.
    * The classic sort-based algorithm, distributed in two phases:
    *
    * 1. LOCAL skyline per hash bucket: within each bucket, order by
    *    (x desc, y desc) and keep rows whose y strictly exceeds the
    *    running max of all earlier rows — an O(n log n) windowed pass
    *    that never materializes the quadratic dominance pair space.
    *    ANY disjoint partitioning is correct here: a global skyline row
    *    is undominated in every subset containing it, so it always
    *    survives its bucket; hash bucketing costs one narrow projection
    *    (no global sort, unlike range bucketing).
    * 2. MERGE: phase 1's survivors (≤ per-bucket skyline × #buckets,
    *    small) go through the same windowed pass globally — correct
    *    because dominance is transitive: a row dominated by a dropped
    *    row is also dominated by whichever survivor dropped it.
    *
    * The pass runs over DISTINCT (x, y) pairs — on distinct pairs, every
    * earlier row in (x desc, y desc) order has x' > x, or x' = x with
    * y' > y, so "y ≤ running max" is exactly dominance; duplicate points
    * (mutually non-dominating, all skyline members) re-enter via the
    * final semi-join. */
  def skyline2D(df: DataFrame, x: String, y: String,
                buckets: Int = 32): DataFrame = {
    def pass(d: DataFrame, part: Seq[String]): DataFrame = {
      val w0 = if (part.isEmpty) Window.orderBy(col(x).desc, col(y).desc)
               else Window.partitionBy(part.map(col): _*)
                 .orderBy(col(x).desc, col(y).desc)
      val w = w0.rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("_ymax", max(col(y)).over(w))
        .filter(col("_ymax").isNull || col(y) > col("_ymax"))
        .drop("_ymax")
    }
    val pairs = df.select(col(x), col(y)).distinct()
      .withColumn("_bk", pmod(hash(col(x), col(y)), lit(buckets)))
    val frontier = pass(pass(pairs, Seq("_bk")).drop("_bk"), Nil)
    df.join(frontier, Seq(x, y), "left_semi")
  }

  /** Weekly cohort retention over an event log.
    *
    * cohort_week = ISO week (Monday-truncated) of the user's first event;
    * week_offset = whole weeks since the cohort week; n_users = distinct
    * users from that cohort active in that offset week.
    *
    * One wide shuffle on user_id; the second groupBy runs over
    * (cohort, offset) cardinality — O(#weeks²) rows, trivial at any SF.
    */
  def cohortRetention(events: DataFrame, ts: String = "ts",
                      user: String = "user_id"): DataFrame = {
    val weeks = events
      .select(col(user), date_trunc("week", col(ts)).cast(DateType).as("week"))
      .groupBy(col(user))
      .agg(collect_set(col("week")).as("weeks"))
      .select(col(user), array_min(col("weeks")).as("cohort_week"),
        explode(col("weeks")).as("week"))
    weeks
      .groupBy(col("cohort_week"),
        expr("datediff(week, cohort_week) div 7").cast(LongType).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Z-score outlier gate: rows whose `value` sits more than `zThresh`
    * standard deviations from their group's mean, with the score
    * attached. The per-group moments are EXACT integer sums (n, Σx, Σx²
    * — `value` must be integral); mean/var/z are then per-row IEEE
    * arithmetic in a fixed expression order, and sqrt is
    * correctly-rounded by IEEE 754 in both engines (unlike exp/ln —
    * which is why z-scores oracle cleanly and log-likelihoods wouldn't).
    * One keyed aggregation + a broadcast join back: group cardinality is
    * tiny next to the data, so the stats side always broadcasts. */
  def zOutliers(df: DataFrame, value: String, group: String,
                zThresh: Double = 2.0): DataFrame = {
    val stats = df.groupBy(group).agg(
      count(lit(1)).as("n"),
      sum(col(value)).as("s1x"),
      sum(col(value) * col(value)).as("s2x"))
    df.join(broadcast(stats), Seq(group))
      .withColumn("mean", col("s1x").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("z",
        (col(value).cast(DoubleType) - col("mean")) /
          sqrt(col("s2x").cast(DoubleType) / col("n").cast(DoubleType)
            - col("mean") * col("mean")))
      .filter(abs(col("z")) > lit(zThresh))
      .drop("n", "s1x", "s2x", "mean")
  }

  /** Exact-deterministic per-group OLS fit (y on x) + r² from DECIMAL
    * moment sums — the statistical-aggregate class (corr/covar/regr_*)
    * done so the result hashes identically across engines: the five
    * moment sums are exact decimals (order-independent), cast to double
    * ONCE, and slope/intercept/r² are then a fixed scalar IEEE
    * expression tree (a double-summed covariance is execution-order-
    * dependent; this is not). r² avoids sqrt by squaring the numerator.
    * Scale shape: one keyed hash aggregate — moment sums are the classic
    * mergeable partial state, so map-side combine does the heavy
    * lifting and the shuffle carries six numbers per group. */
  def olsFit(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    val xd = col(x).cast("decimal(18,2)")
    val yd = col(y).cast("decimal(18,2)")
    val m = df.groupBy(group).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(xd).cast(DoubleType).as("sx"),
      sum(yd).cast(DoubleType).as("sy"),
      sum(xd * xd).cast(DoubleType).as("sxx"),
      sum(yd * yd).cast(DoubleType).as("syy"),
      sum(xd * yd).cast(DoubleType).as("sxy"))
    m.withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("n"))
      .withColumn("r2",
        ((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
      .select(col(group), col("slope"), col("intercept"), col("r2"))
  }

  /** Recency-weighted per-key value aggregate — the feature-engineering
    * staple (recent behavior counts more). Weight = 1/(1 + whole days
    * before the key's latest event): an exact-rational decay whose IEEE
    * division is bit-stable across engines (exponential decay is not —
    * libm exp differs in the last ulp). The weighted sum is a SERIAL
    * left fold in (ts, id) order — deterministic under any partitioning,
    * and exactly DuckDB's `list(... ORDER BY) → list_reduce`. The window
    * max and the fold group share one key exchange; state per key is the
    * event list (bounded by per-key activity — at 100 TB swap the
    * collect for a two-pass cumulative window if single keys run hot). */
  def harmonicDecaySum(events: DataFrame, ts: String = "ts",
                       key: String = "user_id", id: String = "event_id",
                       value: String = "value"): DataFrame = {
    val byKey = Window.partitionBy(key)
    events
      .select(col(key), col(id), col(value), col(ts).cast(LongType).as("tse"))
      .withColumn("max_tse", max(col("tse")).over(byKey))
      .withColumn("w",
        expr(s"$value / (1.0 + CAST((max_tse - tse) div 86400 AS DOUBLE))"))
      .groupBy(key)
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          array_sort(collect_list(struct(col("tse"), col(id), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("decayed_sum"))
  }

  /** Max concurrent intervals per key — the classic +1/−1 boundary sweep
    * (peak concurrent sessions / connections / jobs), distributed as ONE
    * key-partitioned window pass instead of a per-key sort on the driver.
    *
    * Each interval [start, end) emits (start, +1) and (end, −1); the
    * running sum of deltas in (t, delta) order is the concurrency level,
    * with ends at t processed BEFORE starts at t (delta −1 < +1), so
    * back-to-back intervals never double-count. The cumulative sum uses
    * the default RANGE frame deliberately: rows tied on (t, delta) all
    * see the same cumulative value, so the result is deterministic under
    * any partitioning without a unique tiebreak column.
    *
    * Scale shape: one exchange on `key`; the peak extraction reuses the
    * same partitioning (a whole-partition max window + filter), so fact
    * size only affects the in-partition sort. Skew lives in single hot
    * keys; at 100 TB a hot key splits by time range with per-range
    * offsets merged in a second tiny pass (same algebra — the sweep sum
    * is prefix-decomposable). */
  def maxConcurrency(intervals: DataFrame, key: String = "event_type",
                     start: String = "start_s", end: String = "end_s"): DataFrame = {
    val deltas = intervals
      .select(col(key), col(start).cast(LongType).as("t"), lit(1).as("delta"))
      .unionAll(intervals
        .select(col(key), col(end).cast(LongType).as("t"), lit(-1).as("delta")))
    val sweep = Window.partitionBy(key).orderBy(col("t"), col("delta"))
    val byKey = Window.partitionBy(key)
    deltas
      .withColumn("conc", sum(col("delta")).over(sweep))
      .withColumn("mx", max(col("conc")).over(byKey))
      .where(col("conc") === col("mx"))
      .groupBy(col(key))
      .agg(max(col("mx")).cast(LongType).as("max_concurrent"),
        min(col("t")).as("first_peak_epoch"))
  }

  /** Union length of (possibly overlapping) intervals per key — total
    * covered time, merged-island count, and raw interval count: the
    * uptime/coverage aggregate naive `sum(end − start)` overstates.
    *
    * Gaps-and-islands with an explicit ROWS frame: prev_max_end = running
    * max of `end` over all EARLIER intervals in (start, id) order; an
    * interval opens a new island iff its start exceeds that max. Island
    * ids are the running count of openers; per-island coverage is
    * max(end) − min(start). The order key includes the unique `id` so
    * the ROWS frames are deterministic.
    *
    * Scale shape: both windows and both aggregations share ONE exchange
    * on `key` (the island groupBy is a prefix of the window partitioning
    * plus a derived column). State is O(1) per row — no per-key collects. */
  def intervalUnion(intervals: DataFrame, key: String = "user_id",
                    start: String = "start_s", end: String = "end_s",
                    id: String = "event_id"): DataFrame = {
    val order = Window.partitionBy(key).orderBy(col("s"), col(id))
    val prev = order.rowsBetween(Window.unboundedPreceding, -1)
    val runSum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    intervals
      .select(col(key), col(id),
        col(start).cast(LongType).as("s"), col(end).cast(LongType).as("e"))
      .withColumn("prev_max_e", max(col("e")).over(prev))
      .withColumn("opens",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("opens")).over(runSum))
      .groupBy(col(key), col("island"))
      .agg(count(lit(1)).as("n_iv"), (max(col("e")) - min(col("s"))).as("cover"))
      .groupBy(col(key))
      .agg(sum(col("n_iv")).as("n_intervals"),
        max(col("island")).as("n_islands"),
        sum(col("cover")).as("covered_s"))
  }

  /** Per-EVENT session features — the event-level enrichment behind
    * sequence models and churn features: session id, position within the
    * session, seconds since session start, seconds since the previous
    * event. The session rollup ([[graft.streaming.EventStreams.sessionize]])
    * aggregates these away; models need them row-wise.
    *
    * Scale shape: every quantity is a RUNNING aggregate over ONE user_id
    * exchange. The naive form re-windows over (user, session_id) — a
    * second shuffle on a derived key — but per-session windows collapse
    * into running ones because session starts are monotone within a user:
    * session start = running max of gap-opener timestamps, position =
    * row_number minus the opener's row_number. One exchange, four window
    * passes that share it. */
  def sessionFeatures(events: DataFrame, gapSeconds: Long = 1800,
                      ts: String = "ts", user: String = "user_id",
                      id: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(user).orderBy(col("tse"), col(id))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(user), col(id), col(ts).cast(LongType).as("tse"))
      .withColumn("prev_tse", lag(col("tse"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_tse").isNull ||
          col("tse") - col("prev_tse") > gapSeconds, 1L).otherwise(0L))
      .withColumn("rn", row_number().over(w))
      .withColumn("session_seq", sum(col("is_new")).over(run))
      .withColumn("sess_start",
        max(when(col("is_new") === 1L, col("tse"))).over(run))
      .withColumn("sess_start_rn",
        max(when(col("is_new") === 1L, col("rn"))).over(run))
      .select(col(user), col(id), col("session_seq"),
        (col("rn") - col("sess_start_rn") + 1L).cast(LongType).as("event_idx"),
        (col("tse") - col("sess_start")).as("secs_in_session"),
        (col("tse") - col("prev_tse")).as("secs_since_prev"))
  }

  /** Ordered three-stage conversion funnel (signup → click → purchase),
    * grouped by signup cohort week. A stage only counts if it happens at
    * or after the previous stage's first completion — the strict-order
    * semantics `count distinct per type` gets wrong.
    *
    * All three stage timestamps come from whole-partition min-windows over
    * the same user_id partitioning: one exchange, three in-partition
    * passes, no self-joins of the event table.
    */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("signup", "click", "purchase"),
             ts: String = "ts", user: String = "user_id",
             eventType: String = "event_type"): DataFrame = {
    require(stages.nonEmpty)
    val byUser = Window.partitionBy(user)
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val cond: Column =
        if (i == 0) col(eventType) === stage
        else col(eventType) === stage && col(ts) >= col(s"stage${i - 1}_ts")
      df.withColumn(s"stage${i}_ts", min(when(cond, col(ts))).over(byUser))
    }
    val perUser = staged
      .select(col(user) +: stages.indices.map(i => col(s"stage${i}_ts")): _*)
      .distinct()
      .where(col("stage0_ts").isNotNull)
    val counts = stages.indices.map(i =>
      count(col(s"stage${i}_ts")).as(s"n_${stages(i)}"))
    perUser
      .groupBy(date_trunc("week", col("stage0_ts")).cast(DateType).as("cohort_week"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("conv",
        col(s"n_${stages.last}").cast(DoubleType) /
          col(s"n_${stages.head}").cast(DoubleType))
  }

  /** Consecutive k=3 event-type sequences per user (sequential-pattern
    * support counting, the PrefixSpan-lite a product/behavior model
    * features on): two lead windows over ONE user exchange (Spark reuses
    * the partitioning across both), then a keyed rollup with occurrence
    * and distinct-user support. Output is O(types³) patterns, data-size
    * independent. */
  def seqPatterns(events: DataFrame, ts: String = "ts",
      user: String = "user_id", eventType: String = "event_type",
      tieBreak: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(user).orderBy(col(ts), col(tieBreak))
    events
      .select(col(user), col(ts), col(tieBreak), col(eventType).as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col(user)).as("n_users"))
  }

  /** Rolling z-score anomaly gate over an ordered integer series: each
    * row is judged against the exact moments of its `lookback` PRECEDING
    * rows (exclusive — the row never judges itself). Integer-exact core:
    * with s1 = Σx, s2 = Σx² over the frame, z = (x·n − s1) /
    * sqrt(n·s2 − s1²) — the numerator and radicand stay longs, so the
    * metric is one correctly-rounded sqrt + one division (the
    * [[zOutliers]] portability argument, windowed). Rows with var = 0 or
    * n < minN are never flagged. One partition exchange; the three frame
    * sums share a single window spec. */
  def rollingAnomaly(df: DataFrame, group: String, order: Seq[String],
      xCol: String, lookback: Int = 100, minN: Int = 30,
      zThresh: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order.map(col): _*)
      .rowsBetween(-lookback, -1)
    val x = col(xCol)
    val framed = df
      .withColumn("n_win", count(x).over(w))
      .withColumn("s1", sum(x).over(w))
      .withColumn("s2", sum(x * x).over(w))
      .filter(col("n_win") >= minN &&
        col("n_win") * col("s2") - col("s1") * col("s1") > 0L)
      .withColumn("z",
        (x * col("n_win") - col("s1")).cast(DoubleType) /
          sqrt((col("n_win") * col("s2") - col("s1") * col("s1"))
            .cast(DoubleType)))
    framed.filter(abs(col("z")) > lit(zThresh))
  }

  /** Exponentially-weighted moving average (α = 1/2) folded serially
    * over each group's ordered hourly series: s_t = x_t/2 + s_{t-1}/2,
    * seeded with the first value. Halving is EXACT in IEEE doubles, and
    * the fold order is pinned by sort_array, so the final level is
    * bit-portable (the `x_seasonal` serial-fold convention). The series
    * is collected per group — bounded by #hours, not #events (the hourly
    * rollup holds the weight); thousands of independent series scale
    * out across the group exchange. */
  def ewmaLevels(events: DataFrame, ts: String = "ts",
      group: String = "event_type", value: String = "value"): DataFrame = {
    val hourly = events
      .select(col(group), expr(s"unix_timestamp($ts) div 3600").as("hr"),
        col(value).cast("decimal(18,2)").as("v"))
      .groupBy(col(group), col("hr")).agg(sum("v").as("vd"))
      .select(col(group), col("hr"), col("vd").cast(DoubleType).as("x"))
    hourly.groupBy(col(group))
      .agg(sort_array(collect_list(struct(col("hr"), col("x")))).as("s"))
      .select(col(group), size(col("s")).cast(LongType).as("n_hours"),
        expr("aggregate(s, CAST(NULL AS DOUBLE), (acc, p) -> " +
          "CASE WHEN acc IS NULL THEN p.x " +
          "ELSE 0.5 * p.x + 0.5 * acc END)").as("ewma"))
  }

  /** One-sided upper CUSUM changepoint detector per group over the
    * hourly centi-unit series — S_t = max(0, S_{t−1} + x_t − c) with c
    * the group's floored mean hourly total. The recursion is rewritten
    * CLOSED-FORM so no serial fold is needed: with prefix sums
    * P_t = Σ_{i≤t}(x_i − c) (and virtual P_0 = 0),
    * S_t = P_t − min(0, min_{j≤t} P_j) — two window aggregates on ONE
    * ordered frame, ALL integer arithmetic (x and c are centi longs, c
    * by integer division), so the detector is bit-portable with no
    * float in sight. Rows with S above `threshold` flag a sustained
    * upward shift (the change-detection monitor a pipeline runs on
    * volume/price telemetry).
    *
    * Scale shape: one keyed hourly rollup (mergeable counts), a
    * broadcast of per-group references, and one group exchange carrying
    * both running windows; thousands of series scale out, one series is
    * inherently sequential but streams through the frame. */
  def cusum(events: DataFrame, ts: String = "ts",
      group: String = "event_type", value: String = "value",
      threshold: Long = 100000L): DataFrame = {
    val hourly = events
      .select(col(group),
        expr(s"(unix_timestamp($ts) - pmod(unix_timestamp($ts), 3600)) " +
          "div 3600").as("hr"),
        round(col(value) * lit(100.0), 0).cast(LongType).as("s"))
      .groupBy(col(group), col("hr")).agg(sum("s").as("x"))
    // integer FLOOR division on both bucketing and the reference mean:
    // Spark `div` truncates toward zero while DuckDB `//` floors, so a
    // negative sum (refund/credit-heavy group) or pre-epoch timestamp
    // would put the two engines one apart. (a - pmod(a, b)) div b is
    // exact floor division for b > 0 in pure long arithmetic — no
    // doubles anywhere, so the result is bit-portable by construction.
    val ref = hourly.groupBy(col(group))
      .agg(expr("(sum(x) - pmod(sum(x), count(1))) div count(1)").as("c"))
    val w = Window.partitionBy(group).orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly.join(broadcast(ref), Seq(group))
      .withColumn("p", sum(col("x") - col("c")).over(w))
      .withColumn("s_cusum", col("p") - least(min(col("p")).over(w), lit(0L)))
      .withColumn("flagged", col("s_cusum") > lit(threshold))
      .select(col(group), col("hr"), col("x"), col("c"),
        col("s_cusum"), col("flagged"))
  }

  /** Kaplan–Meier survival estimator over (duration, isEvent) subjects:
    * at each distinct duration t with ≥1 observed event,
    * S(t) = Π_{t' ≤ t} (1 − d(t')/n(t')) with d = events AT t' and
    * n = subjects still at risk (duration ≥ t'; censored subjects leave
    * the risk set without an event) — the churn/retention curve.
    *
    * The running product has no log-free window form, so the per-time
    * table (cardinality = distinct event times, inherently small — a
    * survival curve is read by humans and can be time-bucketed first)
    * collapses to one sorted factor array and each row folds its own
    * prefix slice: deterministic order, O(T²) scalar multiplies on
    * T = #times, bit-replayable via list_reduce. The subject-level
    * aggregation (building durations and risk counts) stays fully
    * distributed; only the T-row curve is single-group. */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
      isEventCol: String): DataFrame = {
    val t = subjects.select(col(durationCol).as("t"),
      col(isEventCol).as("ev"))
    val byTime = t.groupBy("t")
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("leaving"))
    // n at risk at t = total − subjects with duration < t; both ride the
    // same single-partition window over the T-row curve table (no
    // driver action, no second scan)
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val curve = byTime
      .withColumn("n_risk",
        sum("leaving").over(wAll) - coalesce(sum("leaving").over(w), lit(0L)))
      .filter(col("d") > 0)
      .select(col("t"), col("d"), col("n_risk"),
        (lit(1.0) - col("d").cast(DoubleType) / col("n_risk").cast(DoubleType))
          .as("factor"))
    curve.groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("d"),
        col("n_risk"), col("factor")))).as("rows"))
      .select(posexplode(col("rows")).as(Seq("i", "r")), col("rows"))
      .select(col("r.t").as("t"), col("r.d").as("d"),
        col("r.n_risk").as("n_risk"),
        aggregate(
          transform(slice(col("rows"), lit(1), col("i") + lit(1)),
            x => x("factor")),
          lit(1.0), (a, x) => a * x).as("survival"))
  }

  /** RFM (recency / frequency / monetary) quintile scoring per user —
    * the classic CRM segmentation, deterministic across engines: each
    * metric is exact (max epoch, count, decimal sum), and the quintile
    * is NTILE(5) over a TOTALLY ordered ranking (user id breaks ties),
    * so bucket boundaries can't drift with partitioning. The three
    * global NTILE windows run over one row per user — #users rows, far
    * below event cardinality; at extreme user counts the same scores
    * would ride [[graft.ops.GlobalOrder]]'s range-partitioned ranks. */
  def rfmScores(events: DataFrame, ts: String = "ts",
      user: String = "user_id", value: String = "value"): DataFrame = {
    val perUser = events.groupBy(col(user))
      .agg(max(unix_timestamp(col(ts))).as("last_epoch"),
        count(lit(1)).as("n_events"),
        sum(col(value).cast("decimal(18,2)")).as("mon_dec"))
      .select(col(user), col("last_epoch"), col("n_events"),
        col("mon_dec").cast(DoubleType).as("monetary"))
    val r = ntile(5).over(Window.orderBy(col("last_epoch").desc, col(user)))
    val f = ntile(5).over(Window.orderBy(col("n_events").desc, col(user)))
    val m = ntile(5).over(Window.orderBy(col("monetary").desc, col(user)))
    perUser
      .withColumn("r_score", r.cast(LongType))
      .withColumn("f_score", f.cast(LongType))
      .withColumn("m_score", m.cast(LongType))
      .withColumn("rfm",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }

  /** U-shaped (position-based) multi-touch attribution: every
    * conversion distributes an integer credit of 100 over its preceding
    * touch events inside the lookback window — 100 to a lone touch,
    * 50/50 for a pair, else 40 first / 40 last / 20 split across the
    * middles by integer division with the remainder going to the
    * EARLIEST middles (deterministic, no fractional credit ever). Rows
    * are (conversion, touch, channel, rank, credit); the per-conversion
    * credits always sum to exactly 100 (AnalyticsSpec pins it).
    *
    * Scale shape: conversions ⋈ touches is a user-keyed equi-join with
    * a time-range residual — fanout is bounded by per-user activity in
    * the lookback, never a pair space across users; the rank/count
    * windows ride one conversion-keyed exchange. Ties on touch time
    * break by touch id (portable total order). */
  def attributionUShaped(events: DataFrame, touchTypes: Seq[String],
      convType: String = "purchase", lookbackDays: Int = 3,
      ts: String = "ts", user: String = "user_id",
      id: String = "event_id"): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col(user).as("u"), col(id).as("conv_id"), col(ts).as("cts"))
    val touch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col(user).as("u"), col(id).as("touch_id"),
        col("event_type").as("channel"), col(ts).as("tts"))
    val joined = conv.join(touch, Seq("u"))
      .filter(col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr(s"INTERVAL $lookbackDays DAYS"))
    val wOrd = Window.partitionBy("conv_id").orderBy(col("tts"), col("touch_id"))
    val wAll = Window.partitionBy("conv_id")
    joined
      .withColumn("rnk", row_number().over(wOrd).cast(LongType))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("credit",
        when(col("n") === 1L, 100L)
          .when(col("n") === 2L, 50L)
          .when(col("rnk") === 1L || col("rnk") === col("n"), 40L)
          .otherwise(expr("CAST(20 AS BIGINT) div (n - 2)") +
            when(col("rnk") - 1L <= pmod(lit(20L), col("n") - 2L), 1L)
              .otherwise(0L)))
      .select(col("u").as(user), col("conv_id"), col("touch_id"),
        col("channel"), col("rnk"), col("n").as("n_touches"), col("credit"))
  }

  /** Mann–Kendall trend test per group (Mann 1945; Kendall 1975): the
    * nonparametric "is this series trending" statistic over a keyed
    * series `(group, order, value)`. S = Σ_{i<j} sign(x_j − x_i) and the
    * tie-corrected var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) are pure
    * integers (order-immune); the continuity-corrected z is one
    * sqrt+division chain, null when var18 = 0 (constant series or
    * n < 2). Pair space is per-group O(T²) over the ORDER axis — use on
    * time-bucketed series where T is bounded by span, not data volume. */
  def mannKendall(series: DataFrame, group: String, order: String,
      value: String): DataFrame = {
    val hc = Materialize.once(series.select(col(group).as("g"),
      col(order).as("o"), col(value).as("x")))
    val s = hc.as("a").join(hc.as("b"),
        col("a.g") === col("b.g") && col("a.o") < col("b.o"))
      .select(col("a.g").as("g"),
        when(col("b.x") > col("a.x"), 1L)
          .when(col("b.x") < col("a.x"), -1L).otherwise(0L).as("sgn"))
      .groupBy("g").agg(sum(col("sgn")).as("s_stat"))
    val n = hc.groupBy("g").agg(count(lit(1)).as("n_points"))
    val ties = hc.groupBy("g", "x").agg(count(lit(1)).as("t"))
      .groupBy("g")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    val sigma = sqrt(col("var18").cast(DoubleType) / lit(18.0))
    s.join(n, "g").join(ties, "g")
      .withColumn("var18",
        expr("n_points * (n_points - 1) * (2 * n_points + 5)")
          - col("tie_term"))
      .withColumn("z",
        when(col("var18") <= 0, lit(null).cast(DoubleType))
          .when(col("s_stat") > 0,
            (col("s_stat").cast(DoubleType) - lit(1.0)) / sigma)
          .when(col("s_stat") < 0,
            (col("s_stat").cast(DoubleType) + lit(1.0)) / sigma)
          .otherwise(lit(0.0)))
      .withColumnRenamed("g", group)
  }

  /** Theil–Sen slope per group — the robust trend ESTIMATE beside
    * [[mannKendall]]'s trend TEST: the median of all pairwise slopes
    * (x_j − x_i)/(o_j − o_i) over a keyed integer series. Median is
    * pinned as explicit ORDER STATISTICS, not an engine quantile
    * built-in (Spark `percentile` and DuckDB `quantile_cont` interpolate
    * with different op orders — the sampled-quantiles lesson): ranks
    * k = (m+1) div 2 and (m+2) div 2 under a total (slope, o_i, o_j)
    * order, median = (low + high)/2.0 — exact when m is odd because
    * (a + a)/2 = a in IEEE. Pair space is per-group O(T²) over the
    * order axis, bounded by span like [[mannKendall]].
    *
    * EAGER: the pair space is built, ranked and reduced at CALL time,
    * even if the caller never runs the returned frame, and the ≤ 2
    * median rows per group are collected to the driver (driver memory
    * grows with the GROUP count). Every intermediate it stored is freed
    * before it returns; the result is a local relation. */
  def theilSen(series: DataFrame, group: String, order: String,
      value: String): DataFrame = {
    val spark = series.sparkSession
    val (schema, rows) = Materialize.scope(spark) {
      val hc = Materialize.once(series.select(col(group).as("g"),
        col(order).as("o"), col(value).as("x")))
      // Median = order STATISTIC of the pairwise-slope multiset: ranks
      // (m+1) div 2 and (m+2) div 2 select slope VALUES only — the
      // (oi, oj) provenance of a selected pair never reaches the output.
      // So duplicate slope values collapse BEFORE any exchange: one
      // map-side-partial aggregation to (g, slope, multiplicity) — on an
      // hourly-count series most pairs repeat few distinct ratios
      // (Δx/Δo over small integer deltas; r13 measured 7.9M pairs → 47k
      // distinct (g, slope) runs at sf0.1) — then a weighted global
      // prefix sum in (g, slope) order
      // ([[graft.ops.GlobalOrder.prefixSummed]]) gives each run its
      // last rank `cw` in the expanded multiset. The exchanges carry the
      // distinct runs, not the O(T² per group) pair space (guide §2.3
      // "aggregate before you shuffle"); rank-k selection is the row
      // with cw − w < k ≤ cw. Value-identical to numbering every pair:
      // tied slopes are interchangeable for value selection, and slope
      // here is never NaN (oj > oi) nor −0.0 (integer numerator).
      val slopes = hc.as("a").join(hc.as("b"),
          col("a.g") === col("b.g") && col("a.o") < col("b.o"))
        .select(col("a.g").as("g"),
          ((col("b.x") - col("a.x")).cast(DoubleType) /
            (col("b.o") - col("a.o")).cast(DoubleType)).as("slope"))
        .groupBy("g", "slope").agg(count(lit(1)).as("w"))
      val p = spark.sessionState.conf.numShufflePartitions
      val summed = graft.ops.GlobalOrder.prefixSummed(
        slopes, "w", "cw", p, col("g"), col("slope"))
      val targets = summed.groupBy("g")
        .agg(sum(col("w")).as("m"), min(col("cw") - col("w")).as("off"))
        .select(col("g"), col("m"),
          (col("off") + expr("(m + 1) div 2")).as("t1"),
          (col("off") + expr("(m + 2) div 2")).as("t2"))
      val medians = summed.join(broadcast(targets), Seq("g"))
        .filter((col("cw") - col("w") < col("t1") && col("t1") <= col("cw")) ||
          (col("cw") - col("w") < col("t2") && col("t2") <= col("cw")))
        .select(col("g"), col("m"), col("slope"))
      // Eagerly pull the ≤2 median rows per group (bounded by GROUP count —
      // the documented metadata-collect exception); the scope then frees
      // the O(T²) pairwise-slope run table GlobalOrder stored and the input
      // snapshot — the largest intermediates in the op, which left to the
      // ContextCleaner pin block-manager storage for the session's life
      // (r12 advice). The returned frame is a local relation — nothing
      // downstream can re-read the freed lineage.
      (medians.schema, medians.collect().toIndexedSeq)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .groupBy("g")
      .agg(max(col("m")).as("n_pairs"),
        ((min(col("slope")) + max(col("slope"))) / lit(2.0)).as("slope_med"))
      .withColumnRenamed("g", group)
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Materialize

/** Model-evaluation and distribution-drift metrics over event logs — the
  * audits an ML platform runs beside every training-data refresh: ROC
  * AUC for "is this score still ranking the label", calibration bins for
  * "do predicted rates match observed", KS / PSI for "did the feature
  * distribution move between reference and current windows", and
  * chi-square association for "are these two categoricals still
  * dependent". The reference pipeline has no evaluation surface (it ends
  * at gold marts); these extend the engine the way `x_drift`/`x_lift`
  * do, as first-class oracle-checked queries.
  *
  * Numeric portability contract (the house rule from [[Analytics.olsFit]]
  * and `x_lm_score`): every metric is derived from EXACT integer counts
  * or decimal sums, with double arithmetic confined to a fixed per-row
  * scalar expression order and at most one division chain per output —
  * ln/exp never appear (not bit-portable across engines); sqrt is
  * correctly-rounded IEEE and allowed. Scores enter as centi-units
  * (`round(value*100)` as long) so ties and cumulative counts are
  * integer-exact.
  *
  * Scale posture: every operator is one or two keyed hash aggregations
  * whose partial states are mergeable counts (map-side combine carries
  * the weight), followed by windows over per-group DISTINCT-score
  * cardinality — orders of magnitude smaller than the event table. No
  * operator materializes per-row pair spaces or collects data rows.
  */
object MlEval {

  /** Centi-unit integer score: exact ties, exact cumulative counts. */
  private def centi(c: String): org.apache.spark.sql.Column =
    round(col(c) * lit(100.0), 0).cast(LongType)

  /** One-vs-rest ROC AUC per class of `labelCol`, scored by `scoreCol`,
    * with the standard tie correction (ties contribute half).
    *
    * Rank-free formulation: for positives P and negatives N of class t,
    * AUC = [ Σ_s nPos_t(s)·(2·cumNeg_t(<s) + nNeg_t(s)) ] / (2·|P|·|N|)
    * — the numerator is an exact integer (Mann-Whitney U doubled), so
    * the whole metric is one integer-ratio division. All classes ride
    * one (score)-keyed count aggregate: nNeg_t(s) = nTot(s) − nPos_t(s),
    * so adding classes costs no extra scan — the per-class windows run
    * over |distinct scores| rows only. */
  def aucOneVsRest(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val counts = df
      .select(col(labelCol).as("label"), centi(scoreCol).as("s"))
      .groupBy("label", "s").agg(count(lit(1)).as("n_ls"))
    val perScore = counts.groupBy("s").agg(sum("n_ls").as("n_s"))
    // per class and score: positives at s, negatives at s (= total − pos)
    val joined = counts.join(perScore, Seq("s"))
      .select(col("label"), col("s"), col("n_ls").as("n_pos_s"),
        (col("n_s") - col("n_ls")).as("n_neg_s"))
    // a class with zero events at score s still owes cumNeg the total
    // count there; handle by cumulating TOTAL minus class-positives:
    // cumNeg_t(<s) = cumTot(<s) − cumPos_t(<s). Both cumulate within the
    // class's own row set, so re-attach per-score totals seen by class t
    // only — scores where t has no positives contribute no numerator
    // term, and their negatives are captured through cumTot below.
    val wAll = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    val totCum = perScore
      .withColumn("cum_tot_below", coalesce(sum("n_s").over(wAll), lit(0L)))
    val wCls = Window.partitionBy("label").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = joined.join(totCum.select("s", "cum_tot_below"), Seq("s"))
      .withColumn("cum_pos_below",
        coalesce(sum("n_pos_s").over(wCls), lit(0L)))
      .withColumn("cum_neg_below", col("cum_tot_below") - col("cum_pos_below"))
      .withColumn("u2_term",
        col("n_pos_s") * (lit(2L) * col("cum_neg_below") + col("n_neg_s")))
    terms.groupBy("label")
      .agg(sum("n_pos_s").as("n_pos"), sum("u2_term").as("u2"))
      .crossJoin(broadcast(df.groupBy().agg(count(lit(1)).as("n_all"))))
      .select(col("label"), col("n_pos"),
        (col("n_all") - col("n_pos")).as("n_neg"),
        // a class covering all (or no) rows has no pos/neg pair to rank
        // — AUC is undefined there; null, never NaN (the
        // classificationReport convention for vacuous ratios)
        when(col("n_pos") > 0 && col("n_all") - col("n_pos") > 0,
          col("u2").cast(DoubleType) /
            (lit(2.0) * (col("n_pos") * (col("n_all") - col("n_pos")))
              .cast(DoubleType))).as("auc"))
  }

  /** Precision–recall curve: one point per distinct score threshold s
    * (predict positive when score ≥ s), descending-score cumulative
    * counts giving exact-integer tp / fp / fn at every operating point —
    * the threshold-picking artifact AUC alone can't provide (AUC ranks;
    * the curve tells you WHERE to cut). `prec`/`rec` are each a single
    * bigint-ratio division (the portability contract above).
    *
    * Scale shape: one hash aggregate to distinct centi-scores (mergeable
    * counts), then a window over |distinct scores| rows only — the
    * score domain is bounded (centi-units of a bounded metric), so the
    * single-partition window is over a tiny table, never the events. */
  def prCurve(df: DataFrame, positive: org.apache.spark.sql.Column,
      scoreCol: String): DataFrame = {
    val counts = df
      .select(centi(scoreCol).as("s"),
        when(positive, 1L).otherwise(0L).as("pos"))
      .groupBy("s").agg(sum("pos").as("n_pos_s"), count(lit(1)).as("n_s"))
    val wDesc = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = df.groupBy()
      .agg(sum(when(positive, 1L).otherwise(0L)).as("n_pos_all"))
    counts
      .withColumn("tp", sum("n_pos_s").over(wDesc))
      .withColumn("pp", sum("n_s").over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("s").as("threshold"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("n_pos_all") - col("tp")).as("fn"),
        (col("tp").cast(DoubleType) / col("pp").cast(DoubleType)).as("prec"),
        when(col("n_pos_all") > 0, col("tp").cast(DoubleType) /
          col("n_pos_all").cast(DoubleType)).as("rec"))
  }

  /** Split-conformal prediction threshold per group: the k-th smallest
    * nonconformity score (here |centi-score − group lower median|) with
    * k = ceil((n+1)·α) for coverage α — the distribution-free "how wide
    * must the interval be to cover 90%" readout. Everything is integer
    * rank selection: the lower median is the rank-((n−1) div 2 + 1)
    * value, residuals are integer differences, and q_hat is the value
    * at integer rank k (null when k > n — coverage unattainable at this
    * n, never silently clamped).
    *
    * Scale shape: everything rides DISTINCT-value masses — one hash
    * aggregate to (group, centi-score) counts, cumulative windows over
    * distinct scores / distinct residuals only (the AUC convention; a
    * row-level rank window would make a whole group the serial
    * dimension at 100 TB). Value-at-rank-k over masses ≡ the row form:
    * the k-th smallest value is the least value whose cumulative count
    * reaches k — the oracle IS the row-level reference form, so the
    * hash match proves the mass form computes the identical ranks. */
  def conformalThreshold(df: DataFrame, groupCol: String, scoreCol: String,
      alphaNum: Int = 9, alphaDen: Int = 10): DataFrame = {
    val counts = df.select(col(groupCol).as("grp"), centi(scoreCol).as("s"))
      .groupBy("grp", "s").agg(count(lit(1)).as("c"))
    val wS = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = counts
      .withColumn("cum", sum("c").over(wS))
      .withColumn("n", sum("c").over(Window.partitionBy("grp")))
      .filter(col("cum") >= expr("(n - 1) div 2 + 1"))
      .groupBy("grp").agg(max("n").as("n"), min("s").as("med"))
    val kExpr = s"((n + 1) * $alphaNum + ${alphaDen - 1}) div $alphaDen"
    val resMass = counts.join(broadcast(med), Seq("grp"))
      .groupBy(col("grp"), abs(col("s") - col("med")).as("r"))
      .agg(sum("c").as("c"))
    val wR = Window.partitionBy("grp").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = resMass
      .withColumn("cum", sum("c").over(wR))
      .join(broadcast(med), Seq("grp"))
      .filter(col("cum") >= expr(kExpr))
      .groupBy("grp").agg(min("r").as("qhat_centi"))
    med.join(qhat, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n"), expr(kExpr).as("k"),
        col("med").as("med_centi"), col("qhat_centi"))
  }

  /** Pairwise Pearson correlation of per-group hourly activity — the
    * feature-correlation matrix over event-type count series. Series
    * value = events per (group, hour); pairs correlate over their
    * CO-ACTIVE hours (hours where both series have at least one event —
    * a defined discrete semantic; zero-filling a global spine is the
    * caller's variant). Numerator and both variance terms are exact
    * integer cross-moments, accumulated through decimal(38,0) so hot
    * series (n·Σxy past Long) can never WRAP silently — the emitted
    * BIGINT columns go through a checked cast that raises exactly where
    * DuckDB's overflow-checked BIGINT arithmetic raises, so the two
    * engines fail the same way instead of a wraparound surfacing as a
    * confusing hash mismatch. (The r numerator n·sxy can still exceed
    * BIGINT range in the oracle while decimal absorbs it here — that
    * divergence surfaces as a loud oracle ERROR, never a silent drift.)
    * The final r is the house sqrt·sqrt division in one mirrored
    * expression, null for constant series. One (group, hour) aggregate,
    * one hour-keyed pair join over per-hour group rows. */
  def corrMatrix(df: DataFrame, groupCol: String, ts: String = "ts"): DataFrame = {
    val h = df
      .select(col(groupCol).as("g"), date_trunc("hour", col(ts)).as("hr"))
      .groupBy("g", "hr").agg(count(lit(1)).as("x"))
    val pairs = h.as("a")
      .join(h.as("b"),
        col("a.hr") === col("b.hr") && col("a.g") < col("b.g"))
      .select(col("a.g").as("g_a"), col("b.g").as("g_b"),
        col("a.x").cast("decimal(38,0)").as("x"),
        col("b.x").cast("decimal(38,0)").as("y"))
    // BIGINT-range-checked cast: exact decimal in, raise (like DuckDB's
    // checked BIGINT ops) instead of wrapping when a moment leaves range.
    def asLong(c: org.apache.spark.sql.Column, nm: String) = {
      val lim = lit(Long.MaxValue).cast("decimal(38,0)")
      when(c <= lim && c >= -lim, c.cast(LongType))
        .otherwise(raise_error(concat(
          lit(s"corrMatrix: $nm overflows BIGINT: "), c.cast("string")))
          .cast(LongType)).as(nm)
    }
    pairs.groupBy("g_a", "g_b")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_dec"),
        sum("x").as("sx_dec"), sum("y").as("sy_dec"),
        sum(col("x") * col("y")).as("sxy_dec"),
        sum(col("x") * col("x")).as("sxx_dec"),
        sum(col("y") * col("y")).as("syy_dec"))
      .withColumn("vx_dec", col("n_dec") * col("sxx_dec") - col("sx_dec") * col("sx_dec"))
      .withColumn("vy_dec", col("n_dec") * col("syy_dec") - col("sy_dec") * col("sy_dec"))
      .select(col("g_a"), col("g_b"), col("n_dec").cast(LongType).as("n"),
        asLong(col("sx_dec"), "sx"), asLong(col("sy_dec"), "sy"),
        asLong(col("sxy_dec"), "sxy"),
        asLong(col("vx_dec"), "vx"), asLong(col("vy_dec"), "vy"),
        when(col("vx_dec") > 0 && col("vy_dec") > 0,
          (col("n_dec") * col("sxy_dec") - col("sx_dec") * col("sy_dec")).cast(DoubleType) /
            (sqrt(col("vx_dec").cast(DoubleType)) *
              sqrt(col("vy_dec").cast(DoubleType)))).as("r"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group: the max CDF gap
    * between the reference and current samples of `scoreCol`, split by
    * `isRef`. Integer-exact: D = max_s |cumRef(s)·nCur − cumCur(s)·nRef|
    * / (nRef·nCur) — the numerator stays a long, one final division.
    * The max runs over distinct scores within each group partition. */
  def ksDrift(df: DataFrame, groupCol: String, scoreCol: String,
      isRef: org.apache.spark.sql.Column): DataFrame = {
    val counts = df
      .select(col(groupCol).as("grp"), centi(scoreCol).as("s"), isRef.as("r"))
      .groupBy("grp", "s")
      .agg(sum(when(col("r"), 1L).otherwise(0L)).as("n_ref_s"),
        sum(when(col("r"), 0L).otherwise(1L)).as("n_cur_s"))
    // Running CDFs and group totals ride the SAME grp partitioning: the
    // ordered window and the whole-partition total reuse one exchange.
    val w = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGrp = Window.partitionBy("grp")
    counts
      .withColumn("cum_ref", sum("n_ref_s").over(w))
      .withColumn("cum_cur", sum("n_cur_s").over(w))
      .withColumn("tot_ref", sum("n_ref_s").over(wGrp))
      .withColumn("tot_cur", sum("n_cur_s").over(wGrp))
      .withColumn("gap_num",
        abs(col("cum_ref") * col("tot_cur") - col("cum_cur") * col("tot_ref")))
      .groupBy("grp")
      .agg(max("tot_ref").as("n_ref"), max("tot_cur").as("n_cur"),
        max("gap_num").as("d_num"))
      .select(col("grp").as(groupCol), col("n_ref"), col("n_cur"),
        (col("d_num").cast(DoubleType) /
          (col("n_ref") * col("n_cur")).cast(DoubleType)).as("ks_stat"))
  }

  /** Reliability (calibration) bins: bucket the score, report per bin the
    * observed positive rate and mean score — the curve a calibration
    * monitor plots. frac_pos and mean_score are single divisions of
    * exact longs. */
  def calibrationBins(df: DataFrame, labelIsPos: org.apache.spark.sql.Column,
      scoreCol: String, binWidthCenti: Long): DataFrame = {
    df.select(centi(scoreCol).as("s"), labelIsPos.as("y"))
      .groupBy(floor(col("s") / lit(binWidthCenti)).cast(LongType).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum("s").as("sum_s"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType)).as("frac_pos"),
        (col("sum_s").cast(DoubleType) /
          (lit(100.0) * col("n").cast(DoubleType))).as("mean_score"))
  }

  /** Population-stability-index inputs per (group, bin), in the RATIONAL
    * form (the `x_bm25`/`x_tfidf` convention): PSI's per-bin term is
    * (p_cur − p_ref)·ln(p_cur/p_ref), but ln is not bit-portable, so
    * emit p_ref, p_cur, their difference, and the UN-logged ratio — the
    * true PSI is one client-side log away, and each column is a single
    * division of exact integer counts. Bins with a zero side keep their
    * counts and null the ratio (the monitor's smoothing policy decides,
    * not the engine). */
  def psiBins(df: DataFrame, groupCol: String, scoreCol: String,
      isRef: org.apache.spark.sql.Column, binWidthCenti: Long): DataFrame = {
    val binned = df
      .select(col(groupCol).as("grp"),
        floor(centi(scoreCol) / lit(binWidthCenti)).cast(LongType).as("bin"),
        isRef.as("r"))
      .groupBy("grp", "bin")
      .agg(sum(when(col("r"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("r"), 0L).otherwise(1L)).as("n_cur"))
    val totals = binned.groupBy("grp")
      .agg(sum("n_ref").as("tot_ref"), sum("n_cur").as("tot_cur"))
    binned.join(broadcast(totals), Seq("grp"))
      .select(col("grp").as(groupCol), col("bin"), col("n_ref"), col("n_cur"),
        (col("n_ref").cast(DoubleType) / col("tot_ref").cast(DoubleType))
          .as("p_ref"),
        (col("n_cur").cast(DoubleType) / col("tot_cur").cast(DoubleType))
          .as("p_cur"),
        (col("n_cur").cast(DoubleType) / col("tot_cur").cast(DoubleType) -
          col("n_ref").cast(DoubleType) / col("tot_ref").cast(DoubleType))
          .as("p_diff"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          (col("n_cur") * col("tot_ref")).cast(DoubleType) /
            (col("n_ref") * col("tot_cur")).cast(DoubleType))
          .as("ratio"))
  }

  /** Chi-square association between two categoricals + Cramér's V.
    * Expected counts and per-cell components are fixed-order double
    * arithmetic on exact longs; the component SUM goes through
    * decimal(38,12) (order-independent, unlike a double sum), is cast
    * back to double once, and V = sqrt(chi2 / (N·min(r−1, c−1))) uses
    * only correctly-rounded IEEE ops. Output: one row per cell with its
    * component, plus the table-level chi2/V on every row (a broadcast
    * singleton join — the analyst slices either way). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val observed = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_obs"))
    val aTot = observed.groupBy("a").agg(sum("n_obs").as("n_a"))
    val bTot = observed.groupBy("b").agg(sum("n_obs").as("n_b"))
    val n = observed.groupBy().agg(sum("n_obs").as("n"),
      count_distinct(col("a")).as("r"), count_distinct(col("b")).as("c"))
    // DENSIFY: chi-square sums over every r×c cell — a (a,b) combination
    // with zero observations still contributes expected²/expected. The
    // grid is marginal-cardinality sized (r×c rows, both sides already
    // aggregated), so the cross join is a broadcast of two tiny frames,
    // never a data-sized product.
    val cells = broadcast(aTot).crossJoin(broadcast(bTot))
      .join(observed, Seq("a", "b"), "left")
      .withColumn("n_ab", coalesce(col("n_obs"), lit(0L))).drop("n_obs")
    val withComp = cells
      .crossJoin(broadcast(n))
      .withColumn("expected",
        (col("n_a") * col("n_b")).cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("component",
        (col("n_ab").cast(DoubleType) - col("expected")) *
          (col("n_ab").cast(DoubleType) - col("expected")) / col("expected"))
    val chi2 = withComp.groupBy()
      .agg(sum(col("component").cast("decimal(38,12)")).as("chi2_dec"))
      .select(col("chi2_dec").cast(DoubleType).as("chi2"))
    withComp.crossJoin(broadcast(chi2))
      .select(col("a").as(aCol), col("b").as(bCol), col("n_ab"),
        col("expected"), col("component"), col("chi2"),
        // a single-valued column ⇒ least(r−1, c−1) = 0: association is
        // undefined (there is nothing to vary against) — null, not the
        // NaN/Infinity the raw divide would emit
        when(least(col("r") - 1, col("c") - 1) > 0,
          sqrt(col("chi2") / (col("n") * least(col("r") - 1, col("c") - 1))
            .cast(DoubleType))).as("cramers_v"))
  }

  /** Per-class classification quality report from (actual, predicted)
    * pairs: tp/fp/fn counts plus precision, recall, and F1 — each a
    * SINGLE integer-ratio division (F1 = 2·tp / (2·tp + fp + fn), never
    * the P/R chain, so no compounded rounding). Classes appearing only
    * as predictions or only as actuals still get a row (full outer on
    * the two marginals); undefined ratios (zero denominators) stay null
    * rather than NaN. One (actual, predicted)-keyed count aggregate —
    * cells are O(classes²) — then marginal joins on class cardinality. */
  def classificationReport(df: DataFrame, actualCol: String,
      predictedCol: String): DataFrame = {
    val cells = df.groupBy(col(actualCol).as("actual"),
        col(predictedCol).as("predicted"))
      .agg(count(lit(1)).as("n"))
    val tp = cells.filter(col("actual") === col("predicted"))
      .select(col("actual").as("class"), col("n").as("tp"))
    val actTot = cells.groupBy(col("actual").as("class"))
      .agg(sum("n").as("n_actual"))
    val predTot = cells.groupBy(col("predicted").as("class"))
      .agg(sum("n").as("n_predicted"))
    actTot.join(predTot, Seq("class"), "full_outer")
      .join(tp, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_predicted") - col("tp"))
      .withColumn("fn", col("n_actual") - col("tp"))
      .withColumn("precision",
        when(col("n_predicted") > 0,
          col("tp").cast(DoubleType) / col("n_predicted").cast(DoubleType)))
      .withColumn("recall",
        when(col("n_actual") > 0,
          col("tp").cast(DoubleType) / col("n_actual").cast(DoubleType)))
      .withColumn("f1",
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2L) * col("tp")).cast(DoubleType) /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast(DoubleType)))
  }

  /** Two-proportion A/B z-test: conversion rates per variant plus the
    * pooled-variance z statistic — the experiment-readout primitive.
    * Counts are exact longs; the z expression is one fixed-order scalar
    * chain (divisions, one sqrt — all correctly-rounded IEEE, mirrored
    * op-for-op in the oracle). Input: one row per subject with a
    * variant column and a boolean conversion. One keyed count
    * aggregation; the two variant rows then meet in a broadcast-sized
    * self-join keyed by nothing (2 rows). */
  def abTest(df: DataFrame, variantCol: String,
      converted: org.apache.spark.sql.Column,
      variantA: String, variantB: String): DataFrame = {
    val counts = df
      .select(col(variantCol).as("v"), converted.as("y"))
      .filter(col("v").isin(variantA, variantB))
      .groupBy("v")
      .agg(count(lit(1)).as("n"), sum(when(col("y"), 1L).otherwise(0L)).as("c"))
    val a = counts.filter(col("v") === variantA)
      .select(col("n").as("n_a"), col("c").as("conv_a"))
    val b = counts.filter(col("v") === variantB)
      .select(col("n").as("n_b"), col("c").as("conv_b"))
    a.crossJoin(broadcast(b))
      .withColumn("rate_a", col("conv_a").cast(DoubleType) / col("n_a").cast(DoubleType))
      .withColumn("rate_b", col("conv_b").cast(DoubleType) / col("n_b").cast(DoubleType))
      .withColumn("diff", col("rate_a") - col("rate_b"))
      .withColumn("pooled",
        (col("conv_a") + col("conv_b")).cast(DoubleType) /
          (col("n_a") + col("n_b")).cast(DoubleType))
      .withColumn("z",
        col("diff") / sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
          (lit(1.0) / col("n_a").cast(DoubleType) +
            lit(1.0) / col("n_b").cast(DoubleType))))
      .drop("pooled")
  }

  /** CUPED variance-reduction readout (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments") over per-unit
    * (covariate x, metric y) pairs — "how much experiment variance does
    * this pre-period covariate remove". Pure moment algebra, no per-unit
    * adjusted values: θ = cov/var(x) and the adjusted variance is
    * var(y)·(1 − ρ²) closed-form, so one scan of integer (centi) pairs →
    * exact decimal moments → two mirrored IEEE chains. The vx/vy/cov
    * READOUT is a double (one correctly-rounded decimal→double cast,
    * mirrored by the oracle's HUGEINT→DOUBLE): the centered moments grow
    * ~N²·v², so the r11 100×-rows campaign blew the former checked-BIGINT
    * readout at 3.7e19 — a loud raise, caught by the guard as designed,
    * but a readout type that structurally cannot survive scale. The
    * internal algebra (and θ/ρ² which divide the exact decimals) is
    * unchanged — only the reporting columns round, identically in both
    * engines. */
  def cuped(units: DataFrame): DataFrame = {
    val d = units.select(col("x").cast("decimal(38,0)").as("x"),
      col("y").cast("decimal(38,0)").as("y"))
    d.agg(count(lit(1)).cast("decimal(38,0)").as("n_dec"),
        sum("x").as("sx_dec"), sum("y").as("sy_dec"),
        sum(col("x") * col("y")).as("sxy_dec"),
        sum(col("x") * col("x")).as("sxx_dec"),
        sum(col("y") * col("y")).as("syy_dec"))
      .withColumn("vx_dec",
        col("n_dec") * col("sxx_dec") - col("sx_dec") * col("sx_dec"))
      .withColumn("vy_dec",
        col("n_dec") * col("syy_dec") - col("sy_dec") * col("sy_dec"))
      .withColumn("cov_dec",
        col("n_dec") * col("sxy_dec") - col("sx_dec") * col("sy_dec"))
      // Overflow sentinel: under default non-ANSI mode a decimal(38,0)
      // sum or product that exceeds 1e38 silently becomes NULL, while
      // the oracle's HUGEINT RAISES — past the next scale horizon the
      // engines would diverge silently. A null moment with n > 0 can
      // only mean decimal overflow (or an all-null metric column, which
      // the same raise surfaces rather than reporting null statistics),
      // so turn it back into a loud failure, matching the oracle's.
      .select(col("n_dec").cast(LongType).as("n_units"),
        checkedMoment(col("vx_dec"), "vx").cast(DoubleType).as("vx"),
        checkedMoment(col("vy_dec"), "vy").cast(DoubleType).as("vy"),
        checkedMoment(col("cov_dec"), "cov").cast(DoubleType).as("cov"),
        when(col("vx_dec") > 0,
          col("cov_dec").cast(DoubleType) / col("vx_dec").cast(DoubleType))
          .as("theta"),
        when(col("vx_dec") > 0 && col("vy_dec") > 0,
          (col("cov_dec").cast(DoubleType) * col("cov_dec").cast(DoubleType)) /
            (col("vx_dec").cast(DoubleType) * col("vy_dec").cast(DoubleType)))
          .as("rho2"))
      .withColumn("var_ratio", lit(1.0) - col("rho2"))
  }

  /** Loud readout for a decimal(38,0) centered moment: null with n > 0
    * is the non-ANSI decimal-overflow sentinel — raise instead of
    * emitting a silently-wrong null (the oracle's HUGEINT raises at the
    * same magnitude). */
  private def checkedMoment(m: Column, name: String): Column =
    when(col("n_dec") > 0 && m.isNull,
      raise_error(lit(s"cuped: decimal(38,0) moment '$name' overflowed " +
        "(centered moments grow ~N^2*v^2); the DuckDB oracle's HUGEINT " +
        "raises at the same point — scale the centi units down")))
      .otherwise(m)

  /** Pair-counting evaluation of a predicted clustering against gold
    * labels — pairwise precision/recall/F1 plus the adjusted Rand index
    * (Rand 1971; Hubert & Arabie 1985), the standard dedup/ER quality
    * readout. Integer-exact by construction: every building block is a
    * sum of C(n, 2) binomials over the (pred, gold) contingency cells
    * (order-free integer aggregation), and each metric is one fixed IEEE
    * expression over those four integers. Scale shape: one group-by to
    * cells (≤ #items rows), three re-aggregations of the cell table,
    * then 1-row broadcast crosses into the single-row readout. */
  def pairwiseClusterMetrics(items: DataFrame, predCol: String,
      goldCol: String): DataFrame = {
    val cells = Materialize.once(items.groupBy(col(predCol).as("pred"),
      col(goldCol).as("gold")).agg(count(lit(1)).as("n")))
    val tp = cells.agg(sum(expr("n * (n - 1) div 2")).as("tp_pairs"))
    val pp = cells.groupBy("pred").agg(sum(col("n")).as("np"))
      .agg(sum(expr("np * (np - 1) div 2")).as("pred_pairs"))
    val gp = cells.groupBy("gold").agg(sum(col("n")).as("ng"))
      .agg(sum(expr("ng * (ng - 1) div 2")).as("gold_pairs"))
    val tot = cells.agg(sum(col("n")).as("nn"))
      .select(expr("nn * (nn - 1) div 2").as("total_pairs"))
    def d(c: String) = col(c).cast(DoubleType)
    // Degenerate clusterings (all-singleton pred or gold → 0 pairs) yield
    // null, not 0/0 = NaN — the cuped/ndcgBinary denominator convention.
    tp.join(broadcast(pp)).join(broadcast(gp)).join(broadcast(tot))
      .withColumn("precision",
        when(col("pred_pairs") > 0, d("tp_pairs") / d("pred_pairs")))
      .withColumn("recall",
        when(col("gold_pairs") > 0, d("tp_pairs") / d("gold_pairs")))
      .withColumn("f1",
        when(col("pred_pairs") + col("gold_pairs") > 0,
          lit(2.0) * d("tp_pairs") / (d("pred_pairs") + d("gold_pairs"))))
      .withColumn("exp_idx",
        when(col("total_pairs") > 0,
          d("pred_pairs") * d("gold_pairs") / d("total_pairs")))
      .withColumn("ari",
        when((d("pred_pairs") + d("gold_pairs")) / lit(2.0) =!= col("exp_idx"),
          (d("tp_pairs") - col("exp_idx")) /
            ((d("pred_pairs") + d("gold_pairs")) / lit(2.0) - col("exp_idx"))))
  }

  /** Per-cluster B-cubed decomposition — the item-averaged metric that
    * global B-cubed needs a cross-row double sum for, kept hash-exact by
    * emitting it at CLUSTER grain: a pred cluster's B-cubed precision is
    * Σ_g n_pg² / n_p² (its items' average within-cluster purity), a gold
    * cluster's B-cubed recall the mirror; integer moments (sz, ssq) plus
    * ONE division per row. Both sides ride one pass with a `side` tag.
    * Gold keys are stringified so the two sides union on one type. */
  def bcubedPerCluster(items: DataFrame, predCol: String,
      goldCol: String): DataFrame = {
    val cells = Materialize.once(items.groupBy(col(predCol).as("pred"),
      col(goldCol).as("gold")).agg(count(lit(1)).as("n")))
    def roll(side: String, key: org.apache.spark.sql.Column) =
      cells.groupBy(key.as("key"))
        .agg(sum(col("n")).as("sz"), sum(col("n") * col("n")).as("ssq"))
        .select(lit(side).as("side"), col("key"), col("sz"), col("ssq"),
          (col("ssq").cast(DoubleType) /
            (col("sz") * col("sz")).cast(DoubleType)).as("bcubed"))
    roll("pred", col("pred"))
      .unionByName(roll("gold", col("gold").cast("string")))
  }

  /** NDCG with binary relevance over a pre-ranked retrieval table
    * (q_id, rank ∈ 1..k, rel ∈ {0, 1}). The discount table arrives as
    * DECIMAL-LITERAL strings (weights 1/log2(rank+1) and their cumulative
    * sums): both engines parse the same strings into identical doubles,
    * so no libm log enters either plan. DCG is a serial fold over the
    * rank-sorted gains; IDCG a literal lookup on the relevant count
    * (ideal ranking puts all hits first); NDCG one mirrored division.
    * Output is one row per query. */
  def ndcgBinary(ranked: DataFrame, weights: Seq[String],
      cumWeights: Seq[String]): DataFrame = {
    val gain = weights.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (w, i)) =>
      when(col("rel") === 1L && col("rank") === (i + 1), lit(w.toDouble))
        .otherwise(acc)
    }
    val idcg = cumWeights.zipWithIndex.foldLeft(
        lit(null).cast(DoubleType): org.apache.spark.sql.Column) {
      case (acc, (c, i)) =>
        when(col("n_rel") === (i + 1), lit(c.toDouble)).otherwise(acc)
    }
    ranked.withColumn("gain", gain)
      .groupBy("q_id")
      .agg(sum(col("rel")).as("n_rel"),
        aggregate(sort_array(collect_list(struct(col("rank"), col("gain")))),
          lit(0.0), (a, x) => a + x.getField("gain")).as("dcg"))
      .withColumn("idcg", idcg)
      .withColumn("ndcg", when(col("n_rel") > 0, col("dcg") / col("idcg")))
  }

  /** Average precision (the MAP building block) with binary relevance
    * over the same pre-ranked table [[ndcgBinary]] takes: AP = (Σ over
    * hit positions of precision@i) / n_rel. precision@i is an integer
    * ratio (cumulative hits / rank) — ONE division per hit row; the sum
    * over a query's ≤ k rows is a serial fold in rank order; the final
    * normalization one more division. The cumulative-hit window is
    * per-query (≤ k rows), never global. */
  def avgPrecisionBinary(ranked: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy("rank")
    ranked.withColumn("cum", sum(col("rel")).over(w))
      .withColumn("p_at_i",
        when(col("rel") === 1L,
          col("cum").cast(DoubleType) / col("rank").cast(DoubleType))
          .otherwise(lit(0.0)))
      .groupBy("q_id")
      .agg(sum(col("rel")).as("n_rel"),
        aggregate(
          sort_array(collect_list(struct(col("rank"), col("p_at_i")))),
          lit(0.0), (a, x) => a + x.getField("p_at_i")).as("sum_p"))
      .withColumn("ap",
        when(col("n_rel") > 0, col("sum_p") / col("n_rel").cast(DoubleType)))
  }

  /** Fleiss' kappa for exactly THREE raters (Fleiss 1971) — chance-
    * corrected agreement over `labels` rows carrying columns r1, r2, r3.
    * Integer until three mirrored divisions: with R = 3, the per-item
    * Σ_j n_ij² collapses CLOSED-FORM to 3 + 2·#equal-pairs (no unpivot
    * needed for the numerator), so P̄ = (Σssq − 3N)/(6N); the chance
    * term P_e = Σ_j c_j²/(9N²) comes from one label-marginal rollup;
    * kappa = (P̄ − P_e)/(1 − P_e). One scan + a |labels|-row marginal,
    * broadcast 1-row cross into the readout. */
  def fleissKappa3(labels: DataFrame): DataFrame = {
    val lbl = Materialize.once(labels)
    def eq(a: String, b: String) = when(col(a) === col(b), 1L).otherwise(0L)
    val tot = lbl
      .withColumn("ssq",
        lit(3L) + lit(2L) * (eq("r1", "r2") + eq("r1", "r3") + eq("r2", "r3")))
      .agg(count(lit(1)).as("n_docs"), sum(col("ssq")).as("s_sq"))
    val c2 = lbl.select(explode(array(col("r1"), col("r2"), col("r3"))).as("l"))
      .groupBy("l").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("c2"))
    tot.join(broadcast(c2))
      .withColumn("pbar",
        (col("s_sq") - lit(3L) * col("n_docs")).cast(DoubleType) /
          (lit(6L) * col("n_docs")).cast(DoubleType))
      .withColumn("pe", col("c2").cast(DoubleType) /
        (lit(9L) * col("n_docs") * col("n_docs")).cast(DoubleType))
      .withColumn("kappa", (col("pbar") - col("pe")) / (lit(1.0) - col("pe")))
  }

  /** Per-entity Herfindahl concentration / Simpson diversity over a
    * categorical: hhi = Σ_t n_t² / N² (one integer-ratio division),
    * diversity = 1 − hhi. The per-user behavioral-mix feature a
    * training pipeline derives from telemetry. Two keyed aggregations,
    * both mergeable-count shaped. */
  def categoricalConcentration(df: DataFrame, entity: String,
      category: String): DataFrame = {
    df.groupBy(col(entity), col(category)).agg(count(lit(1)).as("n_t"))
      .groupBy(col(entity))
      .agg(sum("n_t").as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("n_t") * col("n_t")).as("sum_sq"))
      .select(col(entity), col("n_events"), col("n_types"),
        (col("sum_sq").cast(DoubleType) /
          (col("n_events") * col("n_events")).cast(DoubleType)).as("hhi"))
      .withColumn("simpson_diversity", lit(1.0) - col("hhi"))
  }
}

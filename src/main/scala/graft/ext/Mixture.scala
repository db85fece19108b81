package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Materialize

/** Corpus mixture construction: deterministic sampling of documents per
  * source up to a token budget — how a training run draws "x% web, y%
  * code, z% papers" from a curated lake without materializing a shuffle
  * of the whole corpus.
  *
  * Selection is by deterministic pseudo-random priority (a multiplicative
  * hash of doc_id), so the sample is reproducible run-over-run and
  * engine-independent — no `rand()`, which would break both the oracle
  * and any resumable-ingest story.
  *
  * Scale design (100 TB): the exact form below runs one window sort per
  * source shard (sources partition the sort — no global ordering). At
  * real corpus scale you run the same selection as a two-pass threshold:
  * (1) approximate the per-source priority cutoff from a sample
  * (`percentile_approx` of priority weighted by tokens), (2) filter
  * `priority <= cutoff` — a scan-only plan with no window at all; the
  * exact window form remains the per-shard tiebreak inside the cutoff
  * bucket. [[MixtureSpec]] asserts the two agree within sampling error.
  */
object Mixture {

  /** Knuth's multiplicative-hash constant mod the TextKit prime — cheap,
    * order-destroying, and identical arithmetic in DuckDB. The id is
    * reduced mod P BEFORE the multiply: (P−1)·C ≈ 2.7e18 stays inside
    * Long, while a raw 100 TB-range id times C overflows ANSI
    * arithmetic (the x_overlap_join sf1 lesson). Identical values for
    * every id < P, so all existing oracles are unchanged. */
  def priority(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (id % lit(TextKit.P)) * lit(2654435761L) % lit(TextKit.P)

  /** Per-source token-budget sample: walk each source's docs in
    * (priority, doc_id) order, keep docs while the running token total
    * stays within `budgetPerSource`. Emits the kept docs with their
    * selection bookkeeping (n_tokens, priority, cum_tokens). */
  def tokenBudgetMix(docs: DataFrame, budgetPerSource: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("priority", "doc_id")
    docs
      .select(col("doc_id"), col("source"),
        size(TextKit.words(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("priority", priority(col("doc_id")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerSource)
      .select("doc_id", "source", "n_tokens", "priority", "cum_tokens")
  }

  /** Temperature-scaled source mixture (the mT5/CCNet re-balancing):
    * source d with tok_d tokens gets share s_d = tok_d^α / Σ_k tok_k^α,
    * so α < 1 up-samples small sources relative to their natural
    * proportion (α = 1 is proportional, α = 0 is uniform); each doc is
    * then kept by a deterministic Bernoulli draw at rate
    * min(1, B·s_d / tok_d) against its priority hash.
    *
    * The oracle-contract α is 0.5: sqrt is an exactly-rounded IEEE op
    * on both engines, where a general pow(x, α) is libm-approximated
    * and may differ in the last ulp. The cross-source denominator is a
    * source-name-ordered fold (sum order pinned — the x_seasonal
    * pattern), every other step is a single mirrored expression.
    *
    * Scale shape: one grouped rollup to source level (dimension-sized),
    * a broadcast of the per-source rate table back onto the corpus, and
    * a scan-only filter — no window, no global sort; the selection is
    * reproducible run-over-run and resumable per shard. */
  def temperatureMix(docs: DataFrame, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val base = docs.select(col("doc_id"), col("source"),
      size(TextKit.words(col("text"))).cast(LongType).as("n_tokens"))
    val src = base.groupBy("source")
      .agg(sum(col("n_tokens")).as("tok"))
      .withColumn("sq", sqrt(col("tok").cast(DoubleType)))
    val denom = src.agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("sq")))),
        lit(0.0), (a, x) => a + x.getField("sq")).as("denom"))
    val rates = src.crossJoin(broadcast(denom))
      .withColumn("share", col("sq") / col("denom"))
      .withColumn("rate", least(lit(1.0),
        lit(budgetTokens.toDouble) * col("share") / col("tok").cast(DoubleType)))
      .select("source", "share", "rate")
    base.join(broadcast(rates), Seq("source"))
      .filter(priority(col("doc_id")).cast(DoubleType) <
        col("rate") * lit(TextKit.P.toDouble))
      .select("doc_id", "source", "n_tokens", "share", "rate")
  }

  /** The scan-only scale path: selection by a precomputed per-source
    * priority cutoff (no window). Used with a cutoff estimated from a
    * sample; exactness at the boundary is traded for a plan that is pure
    * filter-after-scan. */
  def thresholdMix(docs: DataFrame, cutoffs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(TextKit.words(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("priority", priority(col("doc_id")))
      .join(broadcast(cutoffs), Seq("source"))
      .filter(col("priority") <= col("cutoff"))
      .select("doc_id", "source", "n_tokens", "priority")

  // ------------------------------------------------------ shard planning

  /** Canonical per-doc ordering for shard assignment: a deterministic
    * hash shuffle (so shards are an unbiased slice of the source, not a
    * crawl-order run), bucketed for the distributed prefix sum. The
    * order key is (bucket, h, doc_id) — IDENTICAL in the windowed twin
    * and the two-phase plan, which is what makes them bit-equal. */
  private def shardBase(docs: DataFrame): DataFrame = {
    val h = TextKit.polyHash(
      concat(lit("shard-v1:"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), col("source"),
      size(TextKit.words(col("text"))).cast(LongType).as("n_tokens"),
      h.as("h"), (h % 256).as("b"))
  }

  /** Training-shard planner, single-window reference form: walk each
    * source's docs in canonical hash order, running token sum, shard =
    * tokens-before `div` budget — the "pack the dataloader's shards to
    * ~N tokens each" step between curation and training. One window
    * per source; the serial dimension is a whole source. */
  def shardPlanWindow(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("b", "h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shardBase(docs)
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard_id", expr(s"start div ${budget}L"))
  }

  /** Training-shard planner, two-phase distributed prefix sum — the
    * 100 TB form. A source's docs never pass through one sort: phase 1
    * computes per-(source, bucket) token totals (256 rows per source),
    * phase 2 turns them into bucket offsets with a window over that
    * TINY table, phase 3 adds within-bucket running sums (window
    * partitioned source×bucket — 256× the parallelism of the reference
    * form) plus the broadcast offset. Same (bucket, h, doc_id) order ⇒
    * bit-identical `start`/`shard_id` to [[shardPlanWindow]] (pinned by
    * CurationOpsSpec; the contract oracle IS the windowed form). */
  def shardPlan(docs: DataFrame, budget: Long): DataFrame = {
    val base = shardBase(docs)
    val offsets = base.groupBy("source", "b")
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("off", coalesce(
        sum(col("btot")).over(Window.partitionBy("source").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "b", "off")
    val wIn = Window.partitionBy("source", "b").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(offsets), Seq("source", "b"))
      .withColumn("start", col("off") + col("cum_in") - col("n_tokens"))
      .withColumn("shard_id", expr(s"start div ${budget}L"))
  }

  /** Shard manifest rollup: the artifact a training job reads — one row
    * per (source, shard) with its doc count and token payload. */
  def shardManifest(docs: DataFrame, budget: Long): DataFrame =
    shardPlan(docs, budget)
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))

  /** Token-weighted (PPS) systematic sample: lay all docs on one token
    * axis in the canonical hash order (the [[shardBase]] key, so the
    * axis order is an unbiased shuffle, not crawl order) and keep every
    * doc whose token interval crosses a `stride` boundary — each doc is
    * picked with probability ∝ its token mass, exactly one pick per
    * stride of corpus tokens, zero randomness. The eval-set / held-out
    * draw that complements [[tokenBudgetMix]] (which takes a PREFIX per
    * source; this takes an even comb across the whole corpus).
    *
    * A doc heavier than `stride` can cross SEVERAL boundaries; it still
    * emits one row, with `n_ticks` = boundaries crossed as its sampling
    * multiplicity (PPS weight) and `tick` = the FIRST crossed boundary
    * — so Σ n_ticks = ⌊total/stride⌋ exactly, while tick values after a
    * mega-doc skip the boundaries it absorbed.
    *
    * All-integer: selection is `end div stride > start div stride`,
    * `tick` (1-based index of the first crossed boundary) is start div
    * stride + 1, and `n_ticks` is the div difference itself.
    * Two-phase distributed prefix sum exactly as
    * [[shardPlan]] — per-bucket totals (256 rows) → window over the tiny
    * offset table → within-bucket running sums; no global sort ever. */
  def systematicSample(docs: DataFrame, stride: Long): DataFrame = {
    val base = shardBase(docs)
    val offsets = base.groupBy("b").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("off", coalesce(
        sum(col("btot")).over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "off")
    val wIn = Window.partitionBy("b").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(offsets), Seq("b"))
      .withColumn("end_tok", col("off") + col("cum_in"))
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .filter(expr(s"end_tok div ${stride}L") >
        expr(s"start_tok div ${stride}L"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("start_tok"),
        expr(s"start_tok div ${stride}L + 1L").as("tick"),
        expr(s"end_tok div ${stride}L - start_tok div ${stride}L")
          .as("n_ticks"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "Doremi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * iterated multiplicative-weights updates driven by a per-domain
    * excess-loss signal, with clipping and per-round renormalization.
    * Where the paper's Hedge step is w·exp(η·loss), this uses the
    * LINEAR Hedge variant w·(1 + η·(loss − 1)) — same fixed point,
    * no libm exp (the oracle contract). Clipping to [floorW, capW]
    * before renormalizing is what makes the rounds genuinely interact:
    * a domain pinned at the cap redistributes mass to the others
    * through the normalizer.
    *
    * `domains` carries one row per domain (domainCol, lossCol, …) —
    * tiny by construction, so each round is a broadcast of the 1-row
    * normalizer into the ≤ |domains|-row table; the heavy lifting
    * (computing the loss signal) happens upstream at corpus scale.
    * The normalizer sum is a SERIAL LEFT-FOLD over the domain-sorted
    * rows (the fsEm convention), so no summation-order drift can reach
    * the division. */
  def multiplicativeWeights(domains: DataFrame, domainCol: String,
      lossCol: String, rounds: Int, eta: Double, floorW: Double,
      capW: Double): DataFrame = {
    val s = domains.agg(count(lit(1)).as("s"))
    var cur = domains.join(broadcast(s))
      .withColumn("w", lit(1.0) / col("s").cast("double"))
      .drop("s")
    for (_ <- 1 to rounds) {
      val raw = cur.withColumn("raw",
        least(greatest(col("w") * (lit(1.0) + lit(eta) * (col(lossCol) - lit(1.0))),
          lit(floorW)), lit(capW)))
      val z = raw.agg(
        aggregate(sort_array(collect_list(struct(col(domainCol), col("raw")))),
          lit(0.0), (a, x) => a + x.getField("raw")).as("z"))
      val next = Materialize.once(raw.join(broadcast(z))
        .withColumn("w", col("raw") / col("z"))
        .drop("raw", "z"))
      Materialize.free(cur)
      cur = next
    }
    cur
  }
}

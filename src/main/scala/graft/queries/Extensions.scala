package graft.queries

import graft.core.Materialize
import graft.ext.{Analytics, AsOf, Dedup, DuckSql, Graph, Mixture, MlEval, Multimodal, Par, RangeJoin, Similarity, TextKit}
import graft.ops.{Bucketing, GlobalOrder, Skew}
import graft.streaming.EventStreams

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType}

/** North-star extension queries: training-data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal, streaming
  * rollups) over the `documents` / `embeddings` / `events` tables, each
  * with an exact DuckDB oracle (SURVEY.md §7.6).
  *
  * Determinism contract shared with the oracles: integer polynomial
  * hashing mod 1e9+7 (see [[graft.ext.TextKit]]/[[graft.ext.DuckSql]]),
  * serial left-fold double arithmetic for embeddings, and int/int → double
  * division only. */
object Extensions {
  import Parity.table

  /** The documents/embeddings tables arrive as one small parquet file =
    * ONE scan partition; an immediate key-spread repartition parallelizes
    * the expression-heavy per-row stages (hashing, folds) across all
    * cores. At real scale the scan arrives pre-split and this spread is a
    * no-op to remove. */
  private[graft] def docs(spark: SparkSession, sfDir: String): DataFrame =
    Par.spread(table(spark, sfDir, "documents"), col("doc_id"))
  private[graft] def emb(spark: SparkSession, sfDir: String): DataFrame =
    Par.spread(table(spark, sfDir, "embeddings"), col("vec_id"))

  // ------------------------------------------------------- text analysis
  /** Token counting: whitespace tokens, distinct tokens, exact avg len. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = TextKit.words(col("text"))
    docs(spark, sfDir).select(
      col("doc_id"),
      size(w).cast(LongType).as("n_tokens"),
      length(col("text")).cast(LongType).as("n_chars_obs"),
      size(array_distinct(w)).cast(LongType).as("n_distinct"),
      aggregate(transform(w, x => length(x).cast(LongType)), lit(0L), _ + _)
        .as("sum_token_len"))
      .withColumn("avg_token_len",
        col("sum_token_len").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Heaps-law vocabulary growth curve: distinct-token count at every
    * power-of-two corpus-token checkpoint, walking docs in doc_id
    * (ingest) order — the "is the corpus still contributing new
    * vocabulary" health readout a crawl pipeline watches to decide when
    * a source is mined out. Each token's FIRST global position comes
    * from a two-phase prefix sum (order-PRESERVING `doc_id div 65536`
    * buckets — per-bucket totals, a window over that tiny table, then
    * within-bucket windows, the [[graft.ext.Mixture.shardPlan]] shape)
    * plus the posexplode ordinal; the checkpoint ladder derives from
    * the corpus total via shiftleft, no floats. Count-per-checkpoint is
    * a ≤26-row broadcast against first positions. TTR at each
    * checkpoint is the house single mirrored division. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), TextKit.words(col("text")).as("ws"))
      .withColumn("n_tok", size(col("ws")).cast(LongType))
      .withColumn("bk", expr("doc_id div 65536L"))
    val offsets = base.groupBy("bk").agg(sum("n_tok").as("btot"))
      .withColumn("off", coalesce(
        sum("btot").over(Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bk", "off")
    val wIn = Window.partitionBy("bk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val positioned = base
      .withColumn("cum_in", sum("n_tok").over(wIn))
      .join(broadcast(offsets), Seq("bk"))
      .withColumn("start", col("off") + col("cum_in") - col("n_tok"))
    val firsts = positioned
      .select(col("start"), posexplode(col("ws")).as(Seq("p", "w")))
      .groupBy("w").agg(min(col("start") + col("p") + 1L).as("first_pos"))
    val cps = base.groupBy().agg(sum("n_tok").as("total"))
      .select(col("total"), explode(sequence(lit(6), lit(40))).as("j"))
      .select(col("total"),
        expr("shiftleft(CAST(1 AS BIGINT), j)").as("checkpoint"))
      .filter(col("checkpoint") <= col("total"))
      .select(col("checkpoint"))
    firsts.join(broadcast(cps), col("first_pos") <= col("checkpoint"))
      .groupBy("checkpoint")
      .agg(count(lit(1)).as("n_distinct"))
      .select(col("checkpoint"), col("n_distinct"),
        (col("n_distinct").cast(DoubleType) /
          col("checkpoint").cast(DoubleType)).as("ttr"))
  }

  /** BPE-ish regex token counting — the sub-word-style segmentation a
    * training pipeline budgets with, next to [[tokenStats]]'s whitespace
    * tokens: letter runs, digit runs and punctuation runs, each
    * optionally space-prefixed (GPT-2-style pre-tokenizer; the
    * contraction rule is elided so the pattern stays identical across
    * Java regex and DuckDB's RE2). */
  def bpeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
    docs(spark, sfDir)
      .select(col("doc_id"),
        expr(s"regexp_extract_all(text, '$pat', 0)").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_bpe"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_bpe_distinct"))
  }

  /** BPE tokenizer training over the documents corpus: the first 6 merge
    * rules (see [[graft.ext.TextKit.bpeTrainMerges]] for the distributed
    * shape — dedupe words once, then per round one keyed pair count, a
    * 1-row argmax collect, and a shuffle-free fold rewrite). */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    TextKit.bpeTrainMerges(docs(spark, sfDir), k = 6)

  /** Per-doc sub-word token counts under the trained 6-merge vocabulary
    * (train on the deduped words, broadcast the vocabulary back). */
  def bpeEncodeQ(spark: SparkSession, sfDir: String): DataFrame =
    TextKit.bpeEncode(docs(spark, sfDir), k = 6)

  /** Bigram language-model fluency scoring — the CCNet/LLaMA-style
    * "perplexity filter" op: train add-one-smoothed bigram probabilities
    * on the corpus itself, then score every document's token sequence.
    * p(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V).
    *
    * Output carries SUFFICIENT STATISTICS, not perplexity: the per-doc
    * likelihood product (serial fold in token order — each multiply is
    * one correctly-rounded IEEE op, so the oracle reproduces it
    * bit-for-bit; log/pow are NOT bit-portable across engines and the
    * perplexity prod^(-1/n) is a trivial client-side step), the bigram
    * count, and the weakest transition min_p (the boilerplate/garbage
    * detector). A long-enough incoherent doc underflows the product to
    * exactly 0.0 — identically in both engines, and "0" is precisely the
    * filter verdict such a doc deserves.
    *
    * Scale shape: token explode → two keyed count aggregations (the LM),
    * a vocabulary-size scalar broadcast, one shuffle join of corpus
    * bigrams against the bigram table, and a per-doc rollup. No driver
    * state; the model lives in the cluster as tables — at 100 TB you'd
    * persist c1/c2 once and re-score increments. */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame =
    lmScoreDf(docs(spark, sfDir))

  /** [[lmScore]] over an explicit (doc_id, text) frame (spec fixture). */
  def lmScoreDf(d: DataFrame): DataFrame = {
    val toks = d
      .select(col("doc_id"), array_compact(transform(
        split(lower(col("text")), "[^a-z]+"),
        x => when(length(x) > 0, x))).as("ws"))
    val grams = toks.filter(size(col("ws")) > 1)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 1), j =>
          struct(j.as("pos"), element_at(col("ws"), j).as("w1"),
            element_at(col("ws"), j + 1).as("w2")))).as("g"))
      .select(col("doc_id"), col("g.pos"), col("g.w1"), col("g.w2"))
    val tokens = toks.select(explode(col("ws")).as("w"))
    val uni = tokens.groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    grams
      .join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .join(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        ((col("c2") + 1).cast(DoubleType) /
          (col("c1") + col("v")).cast(DoubleType)).as("p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        min(col("p")).as("min_p"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("p")))),
            s => s("p")),
          lit(1.0), (acc, x) => acc * x).as("lm_likelihood"))
  }

  /** Repetition signal: share of the most frequent bigram in all bigram
    * occurrences per doc (Gopher-style repetitiveness gate; high ratio =
    * template/boilerplate). Both aggregations shuffle on doc_id. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), explode(TextKit.wordNgrams(col("text"), 2)).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        sum(col("n")).as("n_bigrams"),
        max(col("n")).as("top_n"))
      .withColumn("top_ratio",
        col("top_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType))

  /** PII scrubbing: count + redact emails and phone numbers — the
    * pre-training privacy pass every large text corpus gets. Patterns
    * stay inside the RE2 ∩ Java-regex common subset (no backreferences,
    * no lookaround) so Spark and the DuckDB oracle match byte-for-byte;
    * a deterministic fraction of rows gets synthetic PII appended so the
    * redaction path is exercised on every run. Pure per-row codegen'd
    * string work — no shuffle, scales linearly. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("text2", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1 555 01"),
            lpad((col("doc_id") % 100).cast(StringType), 2, "0"),
            lit(" 2368"))).otherwise(lit(""))))
      .select(
        col("doc_id"),
        regexp_count(col("text2"), lit(emailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("text2"), lit(phoneRe)).cast(LongType).as("n_phones"),
        regexp_replace(regexp_replace(col("text2"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"))

  /** Quality scoring: stopword ratio + length heuristics → band. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val w = TextKit.words(col("text"))
    docs(spark, sfDir).select(
      col("doc_id"), col("n_chars"),
      size(w).cast(LongType).as("n_tokens"),
      size(filter(w, x => x.isin("the", "a"))).cast(LongType).as("stop_hits"))
      .withColumn("stop_ratio",
        col("stop_hits").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("quality_band",
        when(col("stop_ratio") >= lit(0.15), "boilerplate")
          .when(col("n_chars") >= 300, "long")
          .otherwise("ok"))
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "in"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et"))

  /** Language ID: stopword-marker scoring, argmax with deterministic
    * lexicographic tiebreak, 'und' when nothing matches; reported as a
    * (true lang, predicted) contingency rollup. */
  /** Per-doc language prediction (marker-stopword argmax, 'und' on zero
    * signal) — the stage both [[langId]]'s contingency rollup and
    * [[langIdEval]]'s quality report consume. */
  private def langPredicted(spark: SparkSession, sfDir: String): DataFrame = {
    val w = TextKit.words(col("text"))
    val scored = docs(spark, sfDir).select(Seq(col("doc_id"), col("lang")) ++
      langMarkers.map { case (l, ms) =>
        size(filter(w, x => x.isin(ms: _*))).cast(LongType).as(s"s_$l") }: _*)
    val m = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = langMarkers.foldLeft(when(m === 0, "und")) {
      case (acc, (l, _)) => acc.when(col(s"s_$l") === m, l) }
    scored.withColumn("predicted", pred)
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame =
    langPredicted(spark, sfDir)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"), sum(col("s_en")).as("sum_s_en"))

  /** Precision/recall/F1 of the lang-id stage against the corpus's true
    * lang column ([[MlEval.classificationReport]] composed over
    * [[langPredicted]]) — the eval suite applied to one of the engine's
    * own pipeline stages rather than a synthetic rule. */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.classificationReport(langPredicted(spark, sfDir), "lang", "predicted")

  /** Document fingerprinting: full-text rolling hash + winnowing-style
    * min of char-5-gram hashes. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val g = TextKit.gramHashes(col("text"), 5)
    docs(spark, sfDir).select(
      col("doc_id"),
      TextKit.polyHash(col("text")).as("text_hash"),
      array_min(g).as("fp_min"),
      size(array_distinct(g)).cast(LongType).as("n_grams_distinct"))
  }

  /** Per-doc 24-bit SimHash value. */
  def simhashDocs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simHashed(docs(spark, sfDir))

  // --------------------------------------------------------------- dedup
  /** Docs ∪ planted exact copies (doc_id+100000 for doc_id % 7 == 0) —
    * the corpus itself has no byte-identical dups. */
  private def docsWithDups(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  /** Exact dedup: sha256(text) groups with copies. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactGroups(docsWithDups(spark, sfDir))

  /** Exact n-gram Jaccard near-dup pairs (ground truth for MinHash). */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairs(docs(spark, sfDir), 0.5)

  /** MinHash estimator fidelity — "measure, don't guess" for the LSH
    * stack: on every TRUE near-dup pair (exact Jaccard ≥ 0.5, the
    * [[ngramJaccard]] ground truth), compare the k=64 signature-agreement
    * estimate (agree/k — the unbiased estimator [[Dedup.minHashNearDups]]
    * gates on) against the exact similarity. The per-pair |error| is the
    * empirical check of the ±1/√k sampling bound that justifies the
    * production two-stage verify. Integer agree counts + two mirrored
    * divisions keep the doubles bit-identical cross-engine; the oracle
    * replays shingle→polyHash→64 affine permutations→minima in SQL, so
    * one wrong constant anywhere in the signature path breaks the hash.
    * Scale shape: pair set is the (already-bounded) exact near-dup
    * relation; signatures join by doc key — two broadcastable-or-keyed
    * joins, no new pair space. */
  def minhashFidelity(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val sigs = Dedup.signatureIndex(d).select(col("doc_id"), col("sig"))
    Dedup.jaccardPairs(d, 0.5)
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .withColumn("agree", aggregate(
        zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .select(col("a"), col("b"), col("inter"),
        col("jaccard").as("exact_j"), col("agree"),
        (col("agree").cast(DoubleType) / lit(64.0)).as("est_j"),
        abs(col("agree").cast(DoubleType) / lit(64.0) - col("jaccard"))
          .as("abs_err"))
  }

  /** Dedup impact report per source — the "what did dedup buy us" line
    * every curation run reads before training: over the planted-copy
    * corpus ([[docsWithDups]]), docs/tokens before vs after exact dedup
    * (keeper = min doc_id per identical text — the [[exactDedup]]
    * convention) and the kept-token fraction. One text-keyed aggregate +
    * one source-keyed rollup; at 100 TB the text key becomes sha256 but
    * the shape is unchanged. */
  def dedupImpact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docsWithDups(spark, sfDir).select(col("doc_id"), col("source"),
      col("text"), size(TextKit.words(col("text"))).cast(LongType).as("t"))
    val keep = d.groupBy("text").agg(min("doc_id").as("keeper"))
    d.join(keep, Seq("text"))
      .groupBy("source").agg(
        count(lit(1)).as("docs_before"),
        sum(col("t")).as("tokens_before"),
        sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
          .as("docs_after"),
        sum(when(col("doc_id") === col("keeper"), col("t")).otherwise(0L))
          .as("tokens_after"))
      .withColumn("pct_tokens_kept",
        col("tokens_after").cast(DoubleType)
          / col("tokens_before").cast(DoubleType))
  }

  /** Cross-source duplicate matrix — inter-source contamination: for
    * every unordered source pair, how many distinct texts appear in
    * BOTH (the governance readout behind "source B is a scrape of
    * source A"). Distinct (text, source) first (one keyed dedup), then
    * a text-keyed self-join that only pairs sources, never documents —
    * output is bounded by distinct-text × source-pair structure, not
    * corpus copy counts. */
  def crossSourceDup(spark: SparkSession, sfDir: String): DataFrame = {
    // Planted "mirror" source (every 3rd doc re-hosted verbatim) — the
    // corpus itself has no cross-source byte dups, and a vacuously empty
    // gate proves nothing (the kaplan-meier lesson).
    val d = docs(spark, sfDir)
    val ts = d.select(col("text"), col("source"))
      .unionByName(d.filter(col("doc_id") % 3 === 0)
        .select(col("text"), lit("mirror").as("source")))
      .distinct()
    ts.as("x").join(ts.as("y"),
        col("x.text") === col("y.text") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Per-doc n-gram novelty — curriculum/quality signal: the fraction of
    * a doc's distinct 3-gram shingles whose FIRST corpus occurrence
    * (min doc_id over the posting) is this doc. High novelty = new
    * content; near-zero = recombination of seen text. Same postings
    * table as the Jaccard family (shingle-keyed min + one doc-keyed
    * join); integer counts + one division. */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingled(docs(spark, sfDir)).filter(col("nsh") > 0)
    val ex = sh.select(col("doc_id"), col("nsh"),
      explode(col("shingles")).as("shingle"))
    val firsts = ex.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    ex.join(firsts, Seq("shingle"))
      .groupBy(col("doc_id"), col("nsh"))
      .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
        .as("n_first"))
      .select(col("doc_id"), col("nsh").cast(LongType).as("nsh"), col("n_first"),
        (col("n_first").cast(DoubleType) / col("nsh").cast(DoubleType))
          .as("novelty"))
  }

  /** PPJoin prefix-filtered exact Jaccard — same result set as
    * [[ngramJaccard]] (same threshold, same oracle) from a candidate
    * space keyed on rare-prefix tokens only. */
  def ppjoinJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairsPrefix(docs(spark, sfDir), 0.5)

  /** Exact Jaccard with the hot-shingle df cap — the corpus-scale form
    * (candidate generation skips shingles present in > 100 docs). */
  def jaccardCapped(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairsCapped(docs(spark, sfDir), 0.5, maxDf = 100)

  /** Containment near-dup: every 9th doc's word-boundary PREFIX joins the
    * corpus under a shifted id (the truncated-re-crawl case) — its
    * shingles are a strict subset of the original's, so containment is
    * 1.0 while Jaccard sits near the length ratio. The asymmetric
    * measure flags exactly these doc-inside-doc pairs. */
  def containmentDup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val w = split(col("text"), " ")
    val prefixes = d.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000).as("doc_id"),
        array_join(slice(w, lit(1),
          greatest(lit(1), floor(size(w) / lit(2)).cast("int"))), " ").as("text"))
    Dedup.containmentPairs(
      d.select("doc_id", "text").unionByName(prefixes), 0.9, maxDf = 100)
  }

  /** Benchmark decontamination: flag training docs whose shingle sets
    * overlap a held-out evaluation set (every 97th doc stands in for the
    * benchmark). The standard LLM-pipeline gate against test-set leakage:
    * a doc sharing many n-grams with the benchmark is dropped or audited
    * before training. Scale design: the benchmark side is tiny by
    * construction (eval sets are thousands of docs vs a 100 TB corpus),
    * so its distinct shingles BROADCAST and the corpus postings stream
    * through a map-side hash probe — one shuffle for the per-doc count,
    * no pair space, no corpus self-join. Per-doc shingles are distinct,
    * so count(*) after the probe IS the distinct-overlap count. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = docs(spark, sfDir)
      .select(col("doc_id"), TextKit.wordShingles(col("text"), 3).as("shingles"))
      .withColumn("nsh", size(col("shingles")).cast("long"))
      .transform(Par.spread(_, col("doc_id")))
    val ex = sh.select(col("doc_id"), col("nsh"), explode(col("shingles")).as("shingle"))
    val bench = ex.filter(col("doc_id") % 97 === 0).select("shingle").distinct()
    ex.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("shingle"))
      .groupBy("doc_id", "nsh")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_hits"), col("nsh"),
        (col("n_hits").cast("double") / col("nsh").cast("double")).as("overlap"),
        (col("n_hits") >= 5).as("contaminated"))
  }

  /** Image-header probe over synthesized container bytes: each doc gets
    * a REAL PNG/JPEG/GIF header (dimensions derived from doc_id), and
    * [[Multimodal.probeImageHeader]] parses them back partition-locally
    * — actual byte parsing, not a stub. The oracle recomputes the
    * dimension formula directly, so a parser bug (endianness, offset,
    * marker walk) breaks the hash match. This is the production cheap
    * gate: width/height/format filtering reads tens of header bytes per
    * asset, no image library, no full decode, no shuffle of payloads. */
  def imageProbe(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val fmt = (id % 3) match {
        case 0 => "png"
        case 1 => "jpeg"
        case _ => "gif"
      }
      graft.ext.MediaRow(id, fmt, Multimodal.synthesizeImage(
        fmt, (id % 507 + 1).toInt, (id % 281 + 1).toInt))
    }
    Multimodal.probeImages(media).toDF()
      .select("doc_id", "format", "width", "height", "ok")
  }

  /** Perceptual image hashing over a REAL pixel decode
    * ([[graft.ext.Multimodal.aHash64]]): complete synthetic PNGs (real
    * zlib + CRC chunks, block-constant 8×8 pixel grid seeded by doc_id)
    * decoded by the JDK's ImageIO — inflate + filter reconstruction, an
    * actual decoder in the loop, not a header peek — then average-hashed
    * to the 64-bit near-dup signature. Because the blocks are constant,
    * the expected hash is a closed-form function of doc_id: the oracle
    * recomputes it without any image code, so a single wrong pixel
    * anywhere in synthesis or decode breaks the hash match. */
  def imageHash(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      graft.ext.MediaRow(id, "png", Multimodal.synthesizePngFull(id))
    }
    Multimodal.imageHashes(media).toDF()
      .select("doc_id", "ahash_hi", "ahash_lo", "mean_gray", "ok")
  }

  /** Image NEAR-DUP relation — SimHash-style banding over the perceptual
    * hash ([[imageHash]]'s pipeline, completed to dedup): every 5 docs
    * share a base image (seed = doc_id div 5), four of them with one
    * 8×8 block's gray shifted — visually "the same photo, small edit".
    *
    * Output-bound by construction (the r7 sf1 lesson: a corpus heavy in
    * EXACT copies made the doc-level pair listing ~N² — 84.6M rows at
    * 10× rows): docs collapse to DISTINCT signatures first (one keyed
    * agg, O(N)), banding and Hamming verification run over signatures
    * only, and exact-copy multiplicity surfaces as `docs_a`/`docs_b`
    * counts instead of materialized pairs. Rows:
    *   - (a, b, hamming, docs_a, docs_b), a<b: near-dup signature pair
    *     (representative = min doc_id per signature), Hamming ≤ 6;
    *   - (a, a, 0, n, n), n>1: an exact-duplicate group.
    * Every doc-level duplicate pair is recoverable by expansion, but the
    * result size scales with DISTINCT-signature near-dup structure, not
    * with corpus copy count. The 64-bit aHash splits into 4×16-bit
    * bands; candidates must agree on ≥1 (positional) band — never
    * all-pairs. The oracle replays hash formula, collapse, banding, and
    * verify in SQL — decode, hashing, and pairing algebra pinned. */
  def imageNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val pert = (id % 5).toInt
      graft.ext.MediaRow(id, "png", Multimodal.synthesizePngFull(
        id / 5,
        if (pert == 0) -1 else ((pert * 11) % 64),
        96))
    }
    // Materialize the distinct-signature table (tiny: one row per
    // distinct hash) before fanning it out four ways: the band
    // self-join plans one side as a BroadcastExchange, which
    // ReuseExchange cannot unify with the shuffle-side subtree, so
    // without the barrier the synthesize+decode pass over the full
    // corpus ran TWICE (r13 StageProf: 2× 5000-row decode stages).
    val sigs = Materialize.once(Multimodal.imageHashes(media).toDF()
      .groupBy(col("ahash_hi").as("hi"), col("ahash_lo").as("lo"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs")))
    // band identity includes POSITION (posexplode ordinal): equal values
    // in different band slots are not a candidate signal. The full hash
    // rides along so the Hamming gate runs map-side on the raw band-join
    // output (bit_count is a codegen intrinsic; only survivors reach the
    // dedup).
    val bands = sigs.select(col("rep"), col("hi"), col("lo"),
      posexplode(array(
        col("lo") % 65536,
        expr("shiftright(lo, 16) % 65536"),
        col("hi") % 65536,
        expr("shiftright(hi, 16) % 65536"))))
      .toDF("rep", "hi", "lo", "band_idx", "band_val")
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("a"), col("y.rep").as("b"),
        (expr("bit_count(x.hi ^ y.hi)") + expr("bit_count(x.lo ^ y.lo)"))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
      .join(sigs.select(col("rep").as("a"), col("n_docs").as("docs_a")), "a")
      .join(sigs.select(col("rep").as("b"), col("n_docs").as("docs_b")), "b")
      .select("a", "b", "hamming", "docs_a", "docs_b")
    val groups = sigs.filter(col("n_docs") > 1)
      .select(col("rep").as("a"), col("rep").as("b"),
        lit(0L).as("hamming"), col("n_docs").as("docs_a"),
        col("n_docs").as("docs_b"))
    pairs.unionByName(groups)
  }

  /** Incremental image near-dup ([[graft.ext.Multimodal
    * .imageNearDupsIncremental]]): the batch-vs-standing-corpus form of
    * [[imageNearDup]]. The corpus's aHash signature index (decode +
    * hash + distinct-signature collapse + 4×16-bit banding) is built
    * ONCE and persisted as a catalog table; the timed query decodes
    * ONLY the new batch's bytes and band-joins against the read-back
    * index — batch cost O(batch bytes), never a corpus re-decode (the
    * text-side `d_incremental` pattern applied to the genuinely
    * per-byte image stage). Corpus = doc_id % 7 ≠ 0, batch = the
    * multiples of 7, over the same shared-base perturbation scheme as
    * [[imageNearDup]] so real cross-set near-dups exist. */
  def imageIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def mediaFor(ids: DataFrame): Dataset[graft.ext.MediaRow] =
      ids.select(col("doc_id")).as[Long].map { id =>
        val pert = (id % 5).toInt
        graft.ext.MediaRow(id, "png", Multimodal.synthesizePngFull(
          id / 5,
          if (pert == 0) -1 else ((pert * 11) % 64),
          96))
      }
    val d = docs(spark, sfDir)
    val cat = new graft.core.TableCatalog(Parity.tmp("imgidx", sfDir))
    Parity.setupOnce("imgidx", sfDir) {
      cat.overwrite(
        Multimodal.imageSignatureIndex(
          mediaFor(d.filter(col("doc_id") % 7 =!= 0))),
        "img.sigidx")
    }
    Multimodal.imageNearDupsIncremental(
      cat.read(spark, "img.sigidx"),
      mediaFor(d.filter(col("doc_id") % 7 === 0)))
  }

  /** MP4 sample-table statistics ([[graft.ext.Multimodal
    * .probeMp4Samples]]): synthesized ISO-BMFF files with a REAL
    * moov→trak→mdia→minf→stbl chain holding stts timing runs and stsz
    * per-sample sizes, walked back by the generic guarded box parser —
    * frames, decode ticks, payload bytes, biggest sample: the pre-decode
    * video triage a curation pipeline needs before any codec. Every
    * number is a closed form of doc_id (formula oracle). */
  def videoStatsQ(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      graft.ext.MediaRow(id, "mp4", Multimodal.synthesizeMp4Samples(id))
    }
    Multimodal.videoStats(media).toDF()
      .select("doc_id", "n_samples", "total_ticks", "total_bytes",
        "max_bytes", "ok")
  }

  /** Audio fingerprinting over a REAL PCM decode
    * ([[graft.ext.Multimodal.audioFingerprint]]): complete WAVs with
    * actual square-wave samples (period/amplitude from doc_id), decoded
    * by the guarded chunk-walk + LE16 extractor, then framed into the
    * zero-crossing signature. Crossings land exactly at multiples of the
    * period, so the oracle recomputes every per-frame count — and the
    * rolling fold over them — in closed form with zero audio code. */
  def audioFp(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      graft.ext.MediaRow(id, "wav", Multimodal.synthesizeWavPcm(id))
    }
    Multimodal.audioFingerprints(media).toDF()
      .select("doc_id", "mean_abs", "n_crossings", "fp_hash", "ok")
  }

  /** WAV-header probe, the audio sibling of [[imageProbe]]: synthesized
    * RIFF headers (channels/rate/size from a doc_id formula) parsed back
    * by the real chunk walker; formula oracle. */
  def audioProbe(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      graft.ext.MediaRow(id, "audio", Multimodal.synthesizeWav(
        channels = (id % 2 + 1).toInt,
        sampleRate = (8000 + (id % 5) * 8000).toInt,
        bits = 16,
        dataBytes = ((id % 1000 + 1) * 4).toInt))
    }
    Multimodal.probeAudio(media).toDF()
      .select("doc_id", "channels", "sample_rate", "bits", "data_bytes", "ok")
  }

  /** MP4-header probe, the video sibling: synthesized ftyp+moov/mvhd
    * parsed back by the real box walker; formula oracle (duration_ms =
    * ticks scaled by timescale in exact integer arithmetic). */
  def videoProbe(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = docs(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      graft.ext.MediaRow(id, "video", Multimodal.synthesizeMp4(
        brand = if (id % 2 == 0) "isom" else "mp42",
        timescale = (600 + (id % 4) * 600).toInt,
        duration = ((id % 7200 + 1) * 600).toInt))
    }
    Multimodal.probeVideo(media).toDF()
      .select("doc_id", "brand", "timescale", "duration", "duration_ms", "ok")
  }

  /** MinHash+LSH candidates, exact-verified at j >= 0.8. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minHashNearDups(docs(spark, sfDir), 0.8)

  /** SimHash near-dup pairs (bigram features), Hamming <= 3 via exact
    * band join. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simHashPairs(docs(spark, sfDir), 3, bits = 28)

  /** Embedding-cosine near-dup pairs, CANDIDATE-BOUNDED: label buckets
    * subdivided by corpus-size-adaptive LSH cells
    * ([[Similarity.semanticNearDupPairs]], 4 tables), exact cosine
    * verify per distinct candidate. Re-anchored in r11 from the
    * all-pairs-within-label form ([[Similarity.nearDupPairs]]): that
    * contract shape was quadratic in corpus size BY CONSTRUCTION (27×
    * wall at 30× rows, 900× candidates) — a standing scale-killer in
    * every full campaign. At the driver SF the adaptive bit count is 0
    * and the output (pairs AND cos values) is bit-identical to the
    * all-pairs form; at scale the candidate space is O(N·cell·tables). */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semanticNearDupPairs(emb(spark, sfDir), 0.4)

  // ---------------------------------------------------------- similarity
  /** Brute-force cosine top-5 for query vectors vec_id < 20. */
  def annTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), 5)
  }

  /** Hard negatives: top-3 nearest different-label vectors per query
    * ([[Similarity.hardNegatives]]) — contrastive-training mining. */
  def hardNegativesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 20), 3)
  }

  /** Same top-5, selected by the typed bounded-heap Aggregator (partial
    * aggregation; bounded shuffle) instead of a window sort. */
  def annTopKAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    Similarity.bruteForceTopKAgg(e, e.filter(col("vec_id") < 20), 5)
  }

  /** IVF top-5 (10 deterministic centroids, 2 probes). */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), nList = 10, nProbe = 2, k = 5)
  }

  /** TRAINED IVF quantizer under the hard gate: 3 exact-fold Lloyd
    * iterations over 8 seed cells, emitting the full assignment table
    * (vec → cell). The DuckDB oracle replays the identical iterations
    * (same fold order, same tiebreaks) as unrolled CTE layers. */
  def annIvfTrained(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.trainedAssignments(emb(spark, sfDir), nList = 8, iters = 3)

  /** PQ / ADC top-5: 8 subspaces × 16 codewords over the 64-dim unit
    * vectors (8-byte codes, 32× compression); queries score candidates
    * through a per-query lookup table — the compressed-domain scan. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pqTopK(emb(spark, sfDir), nQueries = 20, k = 5)

  /** Corpus-wide bigram frequency table, top 100 by (count desc, bigram).
    * Top-k runs as sort+limit (`TakeOrderedAndProject`: per-partition
    * heaps, driver merges k rows), NOT a global window — an unpartitioned
    * window drags the entire frequency table onto one partition, which is
    * exactly the plan that dies at corpus scale. The rank column is then
    * assigned on the 100 surviving rows, where a single partition is the
    * correct shape. */
  def ngramFreq(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs(spark, sfDir)
      .select(explode(TextKit.wordNgrams(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)
    top.withColumn("rnk",
      row_number().over(Window.orderBy(col("n").desc, col("bigram"))))
  }

  /** Exact interpolated percentiles of doc length per language — both
    * engines use linear interpolation over the sorted values (Spark
    * `percentile`, DuckDB `quantile_cont`), computed from integer inputs
    * so the IEEE arithmetic matches bit-for-bit. */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).groupBy("lang").agg(
      count(lit(1)).as("n"),
      expr("percentile(n_chars, 0.5)").as("p50_chars"),
      expr("percentile(n_chars, 0.9)").as("p90_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))

  /** Quantiles from a DETERMINISTIC hash sample — the approximate-
    * quantile plan that survives 100 TB: exact interpolated quantiles
    * are a global sort per group, but exact quantiles OF A SAMPLE whose
    * membership is a set function of the data (keep iff
    * polyHash(doc_id) ≡ 0 mod 4) cost one scan + a small-group sort,
    * are mergeable (the sample of a union is the union of samples —
    * unlike GK/KLL sketches, no order-sensitive compaction), and
    * reproduce bit-for-bit on any engine with the hash. The oracle runs
    * the same sample: the check pins the DETERMINISM claim, the
    * accuracy claim is standard Bernoulli-sample rank error. */
  def sampledQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Interpolated quantiles computed from ONE pinned expression rather
    // than engine built-ins (Spark `percentile` vs DuckDB `quantile_cont`
    // interpolate with different op orders — last-ulp divergence under
    // the exact string compare): rank the sample per group, pick the two
    // integer endpoints at floor/ceil((n-1)q), and interpolate with the
    // same literal arithmetic on both engines. The rank fractions are
    // exact integer numerators ((n-1) mod 2 over 2; 9(n-1) mod 10 over
    // 10), so every input to the one double expression is an integer.
    val s = docs(spark, sfDir)
      .filter(TextKit.polyHash(
        concat(lit("qsamp-v1:"), col("doc_id").cast("string"))) % 4 === 0)
    val ranked = s
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy("n_chars")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    def at(rank: org.apache.spark.sql.Column) =
      min(when(col("rn") === rank, col("n_chars")))
    val lo50r = expr("(n - 1) DIV 2 + 1")
    val hi50r = expr("n DIV 2 + 1")
    val lo90r = expr("((n - 1) * 9) DIV 10 + 1")
    val hi90r = expr("((n - 1) * 9 + 9) DIV 10 + 1")
    def interp(lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
        fnum: org.apache.spark.sql.Column, fden: Double) =
      lo.cast("double") + (hi - lo).cast("double") * (fnum.cast("double") / lit(fden))
    ranked.groupBy("lang").agg(
        count(lit(1)).as("n_sample"),
        at(lo50r).as("lo50"), at(hi50r).as("hi50"),
        at(lo90r).as("lo90"), at(hi90r).as("hi90"),
        min(col("n_chars")).as("min_s"),
        max(col("n_chars")).as("max_s"))
      .select(col("lang"), col("n_sample"),
        interp(col("lo50"), col("hi50"),
          (col("n_sample") - 1) % 2, 2.0).as("p50_s"),
        interp(col("lo90"), col("hi90"),
          ((col("n_sample") - 1) * 9) % 10, 10.0).as("p90_s"),
        col("min_s"), col("max_s"))
  }

  /** Token-WEIGHTED length quantiles per language — "the median TOKEN
    * lives in a doc this long", the budget-centric twin of the
    * row-centric percentiles (one mega-doc moves these; it barely moves
    * row quantiles). Discrete weighted quantile, all-integer: rank docs
    * by (n_chars, doc_id), cumulate token weights, and pick the doc
    * whose cumulative interval contains the target mass
    * t_q = (W·q) div 1 + 1 — no interpolation between discrete docs, so
    * there is no double anywhere. Zero-token docs can never be picked
    * (their cum interval is empty), which is the right semantics for a
    * token-mass quantile.
    *
    * Scale shape: cumulates DISTINCT-length masses, not docs — docs at
    * one length are contiguous in the (n_chars, doc_id) order, so the
    * target-containment pick over length masses selects the same
    * n_chars as the per-doc reference form (which is what the oracle
    * replays); the window runs over |distinct lengths| rows only. */
  def weightedQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val masses = docs(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        size(TextKit.words(col("text"))).cast(LongType).as("w"))
      .groupBy("lang", "n_chars")
      .agg(sum("w").as("w"), count(lit(1)).as("nd"))
    val wOrd = Window.partitionBy("lang").orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("lang")
    val c = masses
      .withColumn("cum", sum("w").over(wOrd))
      .withColumn("wt", sum("w").over(wAll))
    def pick(target: org.apache.spark.sql.Column) =
      min(when(col("cum") - col("w") < target && target <= col("cum"),
        col("n_chars")))
    c.groupBy("lang").agg(
      max("wt").as("w_total"),
      sum("nd").as("n_docs"),
      pick(expr("wt div 2 + 1")).as("q50_w"),
      pick(expr("(wt * 9) div 10 + 1")).as("q90_w"))
  }

  /** Lag-1 autocorrelation of the hourly event-count series per type —
    * the seasonality/persistence readout next to [[seasonalDecompose]]
    * and the drift family: r ≈ 1 flags a sticky series (load follows
    * load), r ≈ 0 noise, r < 0 alternation. Consecutive-hour pairs come
    * from a self-equi-join on (type, hr−3600) — hours with no events
    * form no pair, a defined and engine-portable gap rule. All Pearson
    * sums are EXACT (long counts; decimal(28) for the integer
    * products, immune to double merge order), the final r is a handful
    * of mirrored IEEE ops, and zero-variance series emit null, not NaN.
    *
    * Scale shape: one keyed rollup to (type, hour) — dimension-sized —
    * then a self-join and aggregate on the tiny hourly table; nothing
    * downstream of the first rollup scales with event volume. */
  def autocorrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val hc = Parity.events(spark, sfDir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hr"))
      .agg(count(lit(1)).as("x"))
    val pairs = hc.as("c").join(hc.as("p"),
        col("c.event_type") === col("p.event_type") &&
          col("c.hr") === col("p.hr") + 3600)
      .select(col("c.event_type").as("event_type"),
        col("c.x").as("x"), col("p.x").as("y"))
    val sums = pairs.groupBy("event_type").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast("decimal(28,0)")).as("sxy"),
      sum((col("x") * col("x")).cast("decimal(28,0)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(28,0)")).as("syy"))
    val nd = col("n_pairs").cast(DoubleType)
    val (sxd, syd) = (col("sx").cast(DoubleType), col("sy").cast(DoubleType))
    val vx = nd * col("sxx").cast(DoubleType) - sxd * sxd
    val vy = nd * col("syy").cast(DoubleType) - syd * syd
    sums.select(col("event_type"), col("n_pairs"),
      when(vx > 0 && vy > 0,
        (nd * col("sxy").cast(DoubleType) - sxd * syd) / sqrt(vx * vy))
        .as("r_lag1"))
  }

  /** Random-hyperplane LSH ANN top-5 for query vectors vec_id < 20. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    Similarity.lshTopK(e, e.filter(col("vec_id") < 20), nPlanes = 8, k = 5)
  }

  /** Recall@5 of every approximate ANN method against the brute-force
    * ground truth ([[Similarity.recallAtK]]) — the tuning readout an ANN
    * deployment lives by: nProbe / nPlanes / codebook size each trade
    * recall for scan fraction, and this query is the measured side of
    * that trade. One row per method (ivf / lsh / pq). At corpus scale
    * the ground truth comes from a brute-force pass over a small query
    * SAMPLE — recall estimation never needs exact top-k for all queries. */
  def annRecallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
    // Materialize the ground truth once: each recallAtK branch reads
    // `exact` twice (semi-join probe + the per-query denominator), so
    // without the barrier the full brute-force scan-score-rank subtree
    // ran SIX times (r13 StageProf). 100 rows — storing them is free.
    val exact = Materialize.once(Similarity.bruteForceTopK(e, q, 5))
    Similarity.recallAtK(exact,
        Similarity.ivfTopK(e, q, nList = 10, nProbe = 2, k = 5), "ivf", 5)
      .unionByName(Similarity.recallAtK(exact,
        Similarity.lshTopK(e, q, nPlanes = 8, k = 5), "lsh", 5))
      .unionByName(Similarity.recallAtK(exact,
        Similarity.pqTopK(e, nQueries = 20, k = 5), "pq", 5))
  }

  /** Composed curation pipeline — the flagship training-data flow:
    * quality gate → language gate → near-dup removal (drop the higher
    * doc_id of each trigram-Jaccard >= 0.8 pair) → surviving-corpus
    * rollup per language. Pair generation uses the df-capped form: at
    * corpus scale a boilerplate shingle shared by 10⁶ docs would turn
    * the uncapped postings self-join quadratic on one key. */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val w = TextKit.words(col("text"))
    val gated = d
      .withColumn("n_tokens", size(w).cast(LongType))
      .withColumn("stop_hits", size(filter(w, x => x.isin("the", "a"))).cast(LongType))
      .filter(col("n_chars") >= 60 &&
        col("stop_hits").cast(DoubleType) / col("n_tokens").cast(DoubleType) < 0.4)
    val dropIds = Dedup.jaccardPairsCapped(gated, 0.8, maxDf = 100)
      .select(col("b").as("doc_id")).distinct()
    gated.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Curation with transitively-correct dedup: same gates as
    * [[curationPipeline]], but the drop set comes from
    * [[Dedup.duplicateClusters]] — every non-canonical member of a
    * duplicate CLUSTER drops, where the pairwise rule keeps a doc that
    * is only transitively similar to the cluster minimum. */
  def curationCc(spark: SparkSession, sfDir: String): DataFrame = {
    val w = TextKit.words(col("text"))
    val gated = docs(spark, sfDir)
      .withColumn("n_tokens", size(w).cast(LongType))
      .withColumn("stop_hits", size(filter(w, x => x.isin("the", "a"))).cast(LongType))
      .filter(col("n_chars") >= 60 &&
        col("stop_hits").cast(DoubleType) / col("n_tokens").cast(DoubleType) < 0.4)
    val clusters = Dedup.duplicateClusters(
      Dedup.jaccardPairsCapped(gated, 0.8, maxDf = 100))
    val drops = clusters.filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    gated.join(drops, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Curation funnel observability: survivor counts after each gate
    * (length → stopword-ratio → near-dup) in ONE pass over the corpus —
    * the run report a curation job emits so ops can see where documents
    * die. Flags ride as boolean columns; the only extra work over the
    * pipeline itself is the conditional-count aggregate. */
  /** Per-source dataset card — the corpus-level report a training run
    * reads before mixing sources: volume (docs, chars), language
    * histogram (sorted `lang:count` string — deterministic, unlike a
    * mode/top-1 under ties), exact-duplicate copy count
    * (docs − distinct texts), and mean doc length. Two keyed
    * aggregations (per-(source,lang) counts roll up into the histogram;
    * the base rollup carries a distinct-agg) joined on the small
    * source dimension — at 100 TB the text-distinct becomes a
    * sha256-distinct but the shape is unchanged. */
  /** Daily rollup over the `graft_dates` TVF spine — the zero-filled
    * calendar report (days with no activity still appear): the date
    * spine comes from the injected table-valued function (a Project
    * over Spark's distributed Range node), left-joined to the fact.
    * `register` is idempotent, so the query is session-independent. */
  def dateSpineRollup(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    Parity.events(spark, sfDir).createOrReplaceTempView("graft_spine_events")
    spark.sql(
      """SELECT s.d, count(e.event_id) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_value
         FROM graft_dates('2023-12-25', '2024-02-05') s
         LEFT JOIN graft_spine_events e ON CAST(e.ts AS DATE) = s.d
         GROUP BY s.d""")
  }

  /** Funnel stage latency — median and p90 seconds from signup to the
    * first at-or-after click, by signup cohort week: the time-to-convert
    * percentile report that turns the funnel's counts into "how long
    * does conversion take". Same one-exchange window chain as the
    * funnel (both stage timestamps from min-windows over user_id);
    * exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the equivalence `x_percentiles` pins). */
  def stageLatency(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
    val per = Parity.events(spark, sfDir)
      .withColumn("su",
        min(when(col("event_type") === "signup", col("ts"))).over(byUser))
      .withColumn("cl",
        min(when(col("event_type") === "click" && col("ts") >= col("su"),
          col("ts"))).over(byUser))
      .select(col("user_id"), col("su"), col("cl")).distinct()
      .filter(col("su").isNotNull && col("cl").isNotNull)
      .select(date_trunc("week", col("su")).cast(DateType).as("cohort_week"),
        (unix_timestamp(col("cl")) - unix_timestamp(col("su"))).as("delay_s"))
    per.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_conv"),
        expr("percentile(delay_s, 0.5)").as("p50_s"),
        expr("percentile(delay_s, 0.9)").as("p90_s"))
  }

  /** Revenue concentration (Gini coefficient + top-decile share) over
    * per-customer order totals — the inequality audit behind "how
    * concentrated is our revenue / corpus" questions. Every moment is an
    * EXACT decimal sum (per-customer totals, grand total, rank-weighted
    * total via one ascending-rank window), cast to double once, and the
    * Gini/Pareto ratios are then a fixed IEEE expression — the same
    * exactness discipline as the OLS/z-score aggregates, so the oracle
    * hashes bit-identically.
    *
    * The global revenue rank uses [[graft.ops.GlobalOrder.rowNumbered]]
    * (range-repartition + partition offsets), NOT an empty-PARTITION-BY
    * window — `row_number() OVER (ORDER BY …)` plans a single-partition
    * sort, the one shape that cannot run when the per-key rollup is
    * itself large (ranking 10⁹ customers). Key tiebreak keeps the rank
    * total and both engines' results identical. */
  def revenueConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Parity.table(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val ranked = graft.ops.GlobalOrder
      .rowNumbered(per, "r", numPartitions = 8,
        col("rev").asc, col("o_custkey").asc)
      .withColumn("rw", col("rev") * col("r"))
    val cnt = per.agg(count(lit(1)).as("n_cust"))
    val m = ranked.crossJoin(broadcast(cnt))
      .groupBy(col("n_cust"))
      .agg(
        sum(col("rev")).cast(DoubleType).as("total"),
        sum(col("rw")).cast(DoubleType).as("rank_weighted"),
        sum(when(col("r") > (col("n_cust") * 9) / 10, col("rev")))
          .cast(DoubleType).as("top_decile_rev"))
    m.select(col("n_cust"), col("total"),
      ((lit(2.0) * col("rank_weighted")) /
        (col("n_cust").cast(DoubleType) * col("total")) -
        (col("n_cust").cast(DoubleType) + 1.0) /
          col("n_cust").cast(DoubleType)).as("gini"),
      (col("top_decile_rev") / col("total")).as("top_decile_share"))
  }

  /** Inter-arrival burstiness per user — the temporal-regularity feature
    * (bots fire metronomically, humans in bursts): coefficient of
    * variation of the whole-second gaps between consecutive events.
    * Gaps from one lag window on the user exchange; moments are EXACT
    * integer sums folded to variance in one fixed IEEE expression (the
    * z-score discipline), sqrt is correctly rounded — so the doc-level
    * double hashes identically cross-engine. */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tse"), col("event_id"))
    Parity.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tse"))
      .withColumn("gap", col("tse") - lag(col("tse"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("s1"),
        sum(col("gap") * col("gap")).as("s2"))
      .filter(col("s1") > 0)
      .select(col("user_id"), col("n_gaps"),
        (col("s1").cast(DoubleType) / col("n_gaps").cast(DoubleType))
          .as("mean_gap_s"),
        (sqrt(col("s2").cast(DoubleType) / col("n_gaps").cast(DoubleType) -
          (col("s1").cast(DoubleType) / col("n_gaps").cast(DoubleType)) *
            (col("s1").cast(DoubleType) / col("n_gaps").cast(DoubleType))) /
          (col("s1").cast(DoubleType) / col("n_gaps").cast(DoubleType)))
          .as("cv"))
  }

  /** Type-token ratio per document — the lexical-diversity quality
    * signal (template/spam text repeats tokens; natural prose doesn't):
    * distinct words over total words, both exact integers per row, one
    * scan, no shuffle at all. */
  def typeTokenRatio(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_types"))
      .withColumn("ttr",
        col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType))

  /** Rolling 7-day distinct active users per day — the "rolling MAU/WAU"
    * metric, computed the only way that scales: sliding-window DISTINCT
    * doesn't decompose (window functions can't dedupe), so each (user,
    * active day) CONTRIBUTES itself to the 7 window-end days it counts
    * toward — one bounded explode (×7), one distinct, one count. The
    * horizon cutoff broadcasts a single max-day row. At 100 TB this is
    * |distinct user-days| × 7 shuffle rows, versus the unbounded state
    * of a naive 7-day self-join. */
  def rollingActives(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Parity.events(spark, sfDir)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val contrib = ud
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("wday"))
      .distinct()
    val horizon = ud.agg(max(col("day")).as("max_day"))
    contrib.crossJoin(broadcast(horizon))
      .filter(col("wday") <= col("max_day"))
      .groupBy(col("wday")).agg(count(lit(1)).as("mau7"))
  }

  /** Benford first-digit audit of order totals — the forensic
    * data-quality screen for fabricated or truncated numeric feeds:
    * exact counts per leading digit plus the observed share (one IEEE
    * division of exact integers). A single scan + 9-row rollup. */
  def benfordDigits(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Parity.table(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(substring(col("o_totalprice").cast("decimal(18,2)")
        .cast(StringType), 1, 1).as("digit"))
    val counts = t.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("share"))
  }

  /** First-order Markov transition matrix over event types — the path
    * analysis behind "what do users do next" product questions and
    * next-event baseline models: count prev→next transitions along each
    * user's (ts, id)-ordered sequence, with the row-normalized share.
    * One lag window on the user exchange, a (from,to) rollup whose
    * cardinality is O(types²), and a broadcast row-total join; the
    * share is one exact-integer IEEE division. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tse"), col("event_id"))
    val t = Parity.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tse"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = t.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    t.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast(DoubleType) / col("n_from").cast(DoubleType))
          .as("share"))
  }

  /** Deterministic per-group "reservoir" sample — k docs per source for
    * human inspection, reproducible across runs and engines: rank by the
    * md5 of the doc id (a uniform-but-deterministic stand-in for a
    * random draw) and keep the k smallest. Plans as WindowGroupLimit:
    * each task keeps a k-heap per group BEFORE the exchange, so the
    * shuffle carries O(k × groups) rows — the only sane way to sample a
    * 100 TB corpus for eyeballs. */
  def reservoirSample(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("draw"), col("doc_id"))
    docs(spark, sfDir)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast(StringType)).as("draw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("doc_id"), col("rn").cast(LongType).as("rn"))
  }

  /** Per-group quantile normalization — the rank-based feature scaling
    * (percent_rank + cume_dist of doc length within its language) that
    * maps any distribution onto [0,1] without parametric assumptions.
    * Both statistics are exact rationals of rank/count divided ONCE in
    * IEEE double, and ties share a rank, so doc-level output is
    * deterministic under any partitioning. One exchange; both window
    * functions share it. */
  def quantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("n_chars")
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
  }

  /** Event-type co-occurrence lift — association mining's support/lift
    * over "which event types does the same user trigger": distinct
    * (user, type) pairs self-joined on user (ordered, so each pair
    * counts once), with lift = P(a,b) / (P(a)·P(b)) from exact integer
    * counts in one fixed double expression. The pair space is
    * O(types²) — tiny next to the event log — and the self-join is an
    * equi-join on user, never a cross. */
  def coOccurrenceLift(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = Parity.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.toDF("user_id", "ta")
      .join(ut.toDF("user_id", "tb"), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
    val singles = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("ta"), col("n").as("n_a"))), Seq("ta"))
      .join(broadcast(singles.select(col("event_type").as("tb"), col("n").as("n_b"))), Seq("tb"))
      .crossJoin(broadcast(nUsers))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast(DoubleType) * col("n_users").cast(DoubleType) /
          (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)))
          .as("lift"))
  }

  /** Deterministic per-group mode (most frequent source per language) —
    * the exact MODE() aggregate, distributed WITHOUT a sort: count per
    * (group, value), then one struct-min per group picks (max count,
    * lexicographically-first value) — two keyed aggregations whose
    * second input is already tiny, versus the window-rank form that
    * sorts every group's full count list. Ties break on value ASC via
    * the negated-count struct ordering, so both engines agree. */
  def modePerGroup(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(min(struct((-col("n")).as("neg_n"), col("source").as("s"))).as("m"))
      .select(col("lang"), col("m.s").as("top_source"),
        (-col("m.neg_n")).as("n_docs"))

  /** Weekly growth accounting — the new / retained / resurrected /
    * churned user decomposition every growth team runs: classify each
    * user-week against the user's previous active week, and charge a
    * churn to the week AFTER an activity gap opens. One distinct over
    * (user, week), one user-partitioned window chain (first week + lag +
    * lead share the exchange), a reused-scan union for the churn branch,
    * and a final tiny (week, status) rollup — no per-week scaffolding
    * join, no driver calendars. The trailing-churn cutoff (nobody churns
    * past the observed horizon) broadcasts one max-week row. */
  def growthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weeks = Parity.events(spark, sfDir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(DateType).as("week"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    val seq = weeks
      .withColumn("first_week", min(col("week")).over(
        Window.partitionBy("user_id")))
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("next_week", lead(col("week"), 1).over(w))
    val active = seq.select(col("week"),
      when(col("week") === col("first_week"), "new")
        .when(datediff(col("week"), col("prev_week")) === 7, "retained")
        .otherwise("resurrected").as("status"))
    val horizon = weeks.agg(max(col("week")).as("max_week"))
    val churned = seq
      .filter(col("next_week").isNull ||
        datediff(col("next_week"), col("week")) > 7)
      .select(date_add(col("week"), 7).as("week"), lit("churned").as("status"))
      .crossJoin(broadcast(horizon))
      .filter(col("week") <= col("max_week"))
      .select(col("week"), col("status"))
    active.unionByName(churned)
      .groupBy(col("week"), col("status"))
      .agg(count(lit(1)).as("n_users"))
  }

  def dataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val hist = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(array_join(array_sort(collect_list(
        concat(col("lang"), lit(":"), col("n")))), ",").as("lang_hist"))
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      (count(lit(1)) - count_distinct(col("text"))).as("dup_copies"),
      (sum(col("n_chars")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("mean_chars"))
    base.join(hist, Seq("source"))
  }

  def qualityFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val w = TextKit.words(col("text"))
    val flagged = d
      .withColumn("n_tokens", size(w).cast(LongType))
      .withColumn("stop_hits", size(filter(w, x => x.isin("the", "a"))).cast(LongType))
      .withColumn("pass_len", col("n_chars") >= 60)
      .withColumn("pass_stop", col("n_chars") >= 60 &&
        col("stop_hits").cast(DoubleType) / col("n_tokens").cast(DoubleType) < 0.4)
    val drops = Dedup.jaccardPairsCapped(flagged.filter(col("pass_stop")), 0.8, maxDf = 100)
      .select(col("b").as("doc_id")).distinct().withColumn("is_dup", lit(true))
    flagged.join(drops, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("pass_len"), 1)).as("n_after_len"),
        count(when(col("pass_stop"), 1)).as("n_after_stop"),
        count(when(col("pass_stop") && col("is_dup").isNull, 1)).as("n_after_dedup"))
  }

  /** Grouped top-k through the typed bounded-heap aggregator on a plain
    * relational workload (top-3 line items by price per return flag) —
    * the same `TopKAggregator` the ANN path uses, shown general: every
    * map task reduces its slice of a group to ≤ k rows before the
    * exchange, vs a window sort shuffling every candidate. Selection
    * only (no float arithmetic), so it hash-matches the window oracle. */
  def groupTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = Parity.table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
        col("l_extendedprice").as("price"))
      .as[(String, Long, Double)]
    s.groupByKey(_._1)
      .mapValues(t => graft.functions.ScoredId(t._2, t._3))
      .agg(new graft.functions.TopKAggregator(3).toColumn.name("topk"))
      .toDF("l_returnflag", "topk")
      .select(col("l_returnflag"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("l_returnflag"), col("s.id").as("id"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("price"))
  }

  // ------------------------------------------------------ chunking/packing
  /** Fixed-size token chunking with overlap — the context-window prep
    * step every LLM training pipeline runs: each doc splits into windows
    * of `size` tokens advancing by `size - overlap`, short tails kept.
    * Pure generated expressions (sequence → explode → slice → join), no
    * shuffle at all until a consumer aggregates. */
  def chunkDocs(spark: SparkSession, sfDir: String,
      size: Int = 64, overlap: Int = 16): DataFrame = {
    val step = size - overlap
    val d = docs(spark, sfDir).select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(col("w")))
    d.select(col("doc_id"), col("w"), col("n_tokens"),
        explode(sequence(lit(0),
          greatest(lit(0), ceil((col("n_tokens") - lit(overlap)).cast("double") / step)
            .cast("int") - lit(1)))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("w"), col("chunk_id") * step + 1, lit(size)), " ")
          .as("chunk_text"),
        least(lit(size), col("n_tokens") - col("chunk_id") * step).as("chunk_tokens"))
  }

  /** Contiguous sequence packing: per language shard, docs concatenate
    * in doc_id order into a token stream sliced into `ctx`-token context
    * windows; pack_id is the window holding the doc's FIRST token (docs
    * may straddle windows — the standard concat-then-slice packing; the
    * chunker above is the long-doc path). One running token sum per
    * shard — the window is PARTITIONED (per-lang), so packing
    * parallelizes across shards instead of serializing the corpus
    * through a global window, which is also how production packing
    * shards work assignment. Docs longer than ctx truncate to ctx. */
  def packSequences(spark: SparkSession, sfDir: String, ctx: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        least(lit(ctx), org.apache.spark.sql.functions.size(split(col("text"), " ")))
          .cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")).cast("double") / ctx)
        .cast(LongType))
  }

  // -------------------------------------------------- time-series resample
  /** Daily resample + forward fill — the time-series regularization a
    * training pipeline runs before feeding models that want a fixed
    * cadence: per entity, materialize the full calendar between its
    * first and last observation (`sequence` + `explode`), left-join the
    * observed daily aggregate, and carry the last observation forward
    * across the gaps (`last(_, ignoreNulls)` over the date-ordered
    * window). Restricted to 2% of customers to keep the output
    * proportional to entities × span. Scale shape: one keyed daily agg,
    * one keyed span agg, calendar explode is generated (not shuffled),
    * and the fill window shares the entity partitioning. */
  def resampleFfill(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Parity.table(spark, sfDir, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .withColumn("d_day",
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
          .cast("long"))
      .groupBy("o_custkey", "d_day")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    val cal = daily.groupBy("o_custkey")
      .agg(min(col("d_day")).as("lo"), max(col("d_day")).as("hi"))
      .select(col("o_custkey"), explode(sequence(col("lo"), col("hi"))).as("d_day"))
    val w = Window.partitionBy("o_custkey").orderBy("d_day")
    cal.join(daily, Seq("o_custkey", "d_day"), "left")
      .withColumn("is_observed", col("spend").isNotNull)
      .withColumn("spend_ff", last(col("spend"), ignoreNulls = true).over(w))
  }

  /** Calendar gap-fill with LINEAR INTERPOLATION between observation
    * anchors — the time-series repair step downstream of [[resampleFfill]]
    * (which only carries the last value forward): each gap day gets
    * prev + (next − prev) · elapsed/span from its bracketing anchors.
    * Anchors come from two one-pass windows (running `last` ignoreNulls
    * forward, running `first` ignoreNulls backward) — no self-join, no
    * per-gap search. Leading/trailing gaps have no bracket and stay NULL.
    *
    * Scale: the window partition is one priority's calendar — bounded by
    * the date span (a few-thousand rows per key regardless of fact SF),
    * so the unbounded frames are safe; the fact collapses to per-day
    * anchors BEFORE the calendar join. The interpolation expression tree
    * is written identically in the oracle, so every double matches
    * bit-for-bit. */
  def gapFillInterp(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Parity.table(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 450000)
      .withColumn("d_day",
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long"))
      .groupBy(col("o_orderpriority"), col("d_day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
    val cal = daily.groupBy("o_orderpriority")
      .agg(min(col("d_day")).as("lo"), max(col("d_day")).as("hi"))
      .select(col("o_orderpriority"), explode(sequence(col("lo"), col("hi"))).as("d_day"))
    val w = Window.partitionBy("o_orderpriority").orderBy("d_day")
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    cal.join(daily, Seq("o_orderpriority", "d_day"), "left")
      .withColumn("prev_rev", last(col("rev"), ignoreNulls = true).over(back))
      .withColumn("prev_day",
        last(when(col("rev").isNotNull, col("d_day")), ignoreNulls = true).over(back))
      .withColumn("next_rev", first(col("rev"), ignoreNulls = true).over(fwd))
      .withColumn("next_day",
        first(when(col("rev").isNotNull, col("d_day")), ignoreNulls = true).over(fwd))
      .withColumn("rev_interp",
        when(col("rev").isNotNull, col("rev"))
          .otherwise(col("prev_rev") + (col("next_rev") - col("prev_rev")) *
            ((col("d_day") - col("prev_day")).cast("double") /
              (col("next_day") - col("prev_day")).cast("double"))))
      .select(col("o_orderpriority"), col("d_day"), col("rev"),
        col("rev").isNull.as("is_gap"), col("rev_interp"))
  }

  // ------------------------------------------------------- skew salting
  /** Two-phase salted aggregation ([[graft.ops.Skew.saltedAggregate]]):
    * hot grouping keys split across salt buckets before combining.
    * Decimal sums keep both phases exact, so the result hash-matches the
    * single-phase oracle. */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Parity.table(spark, sfDir, "lineitem").select(
      col("l_returnflag"),
      col("l_quantity").cast("decimal(18,2)").as("qty"),
      col("l_extendedprice").cast("decimal(18,2)").as("price"))
    Skew.saltedAggregate(li, Seq("l_returnflag"), Seq(
        Skew.AggSpec("qty", "sum", "sum_qty"),
        Skew.AggSpec("*", "count", "n"),
        Skew.AggSpec("price", "max", "max_price")))
      .select(col("l_returnflag"),
        col("sum_qty").cast("double").as("sum_qty"), col("n"),
        col("max_price").cast("double").as("max_price"))
  }

  /** Salted replicate join on a pathologically hot key (3-value
    * l_returnflag): the large side salts, the medium side replicates
    * ×buckets, so each hot key spreads over `buckets` reducers instead
    * of one. Result is join-identical to the unsalted form — the oracle
    * is the plain join. (A 3-row dim would broadcast in practice; the
    * query pins the mechanism for the medium-too-big-to-broadcast case.) */
  def saltedJoinQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Parity.table(spark, sfDir, "lineitem").select(
      col("l_returnflag"), col("l_quantity").cast("decimal(18,2)").as("qty"))
    val dim = Seq(("A", "accepted"), ("N", "none"), ("R", "returned"))
      .toDF("l_returnflag", "flag_label")
    Skew.saltedJoin(li, dim, Seq("l_returnflag"))
      .groupBy("flag_label")
      .agg(count(lit(1)).as("n"), sum(col("qty")).cast("double").as("sum_qty"))
  }

  // ------------------------------------------------------- dup clusters
  /** Incremental dedup — a new crawl batch against the already-ingested
    * corpus ([[Dedup.minHashNearDupsIncremental]]): every 5th doc is the
    * incoming batch (plus exact copies of every 11th doc under shifted
    * ids, the re-crawled pages), the rest is the standing corpus. Only
    * corpus×batch and batch-internal pairs form — the corpus is never
    * re-paired with itself, which is what makes per-ingest dedup
    * affordable at 100 TB. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val batch = d.filter(col("doc_id") % 5 === 0)
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 200000))
    Dedup.minHashNearDupsIncremental(corpus, batch, 0.8)
  }

  /** Near-dup pairs → connected components → canonical keeper per
    * cluster ([[Dedup.duplicateClusters]]): the transitive-closure step
    * pairwise dedup needs before it can actually drop documents. Pairs
    * come from the df-capped generator — the 100 TB-safe path. */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicateClusters(
      Dedup.jaccardPairsCapped(docs(spark, sfDir), 0.8, maxDf = 100))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_canonical"))

  /** Cross-document line-level dedup ([[Dedup.lineLevelDedup]]): drop
    * 8-word pseudo-lines shared by more than 4 documents (boilerplate),
    * keep the documents with their surviving text re-joined in order —
    * the CCNet-style pass that removes repeated headers/footers without
    * dropping whole docs. */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.lineLevelDedup(docs(spark, sfDir), w = 8, maxDf = 4)

  /** Exact duplicated-span coverage ([[Dedup.spanCoverage]]): per doc,
    * which fraction of its 40-char strided windows occur verbatim in some
    * other document — the substring-level dedup signal that catches long
    * verbatim quotes doc-level MinHash misses. */
  def spanCoverageQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.spanCoverage(docs(spark, sfDir), k = 40, stride = 10)

  /** Deterministic per-source token-budget mixture
    * ([[Mixture.tokenBudgetMix]]): each source contributes docs in
    * hash-priority order until 600 tokens — the reproducible "corpus
    * recipe" draw a training run makes against the curated lake. */
  def tokenBudgetMix(spark: SparkSession, sfDir: String): DataFrame =
    Mixture.tokenBudgetMix(docs(spark, sfDir), budgetPerSource = 600L)

  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame =
    Mixture.temperatureMix(docs(spark, sfDir), budgetTokens = 2000L)

  /** Token-budget shard manifest ([[Mixture.shardManifest]]): pack each
    * source's docs into ~200-token training shards in deterministic
    * hash order. Runs the TWO-PHASE distributed prefix-sum plan; the
    * oracle is the single-window reference form — the hash match is a
    * live proof the scale path computes the identical shard layout. */
  def shardPlanQ(spark: SparkSession, sfDir: String): DataFrame =
    Mixture.shardManifest(docs(spark, sfDir), budget = 200L)

  /** Token-weighted systematic sample ([[Mixture.systematicSample]]):
    * one deterministic pick per 4096 corpus tokens along the canonical
    * hash axis — the even-comb eval-set draw beside the per-source
    * prefix draws. */
  def systematicSampleQ(spark: SparkSession, sfDir: String): DataFrame =
    Mixture.systematicSample(docs(spark, sfDir), stride = 4096L)

  /** Per-source epoch plan — the repetition schedule a token-budget
    * training run derives when a source is smaller than its allocation
    * (the "how many times do we see each corpus" table next to the
    * mixture draws): every source gets an equal integer share of the
    * global budget; epochs = ceil(share / tokens) capped at 4 (the
    * standard repetition-harms knee); tokens_drawn = what the cap
    * actually yields; shortfall = unfilled allocation the mixer must
    * cover from elsewhere. All-integer arithmetic (DIV/MOD), so the
    * plan is bit-identical on any engine — one tiny aggregate + one
    * broadcast count, nothing scales with corpus size but the token
    * sum. */
  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val per = docs(spark, sfDir)
      .select(col("source"),
        size(TextKit.words(col("text"))).cast(LongType).as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens"))
    per.crossJoin(broadcast(per.agg(count(lit(1)).as("n_sources"))))
      .withColumn("share", expr("60000 DIV n_sources"))
      .withColumn("epochs",
        least(lit(4L), expr("(share + tokens - 1) DIV tokens")))
      .withColumn("tokens_drawn", least(col("share"), col("epochs") * col("tokens")))
      .withColumn("shortfall", col("share") - col("tokens_drawn"))
      .select("source", "n_docs", "tokens", "share", "epochs",
        "tokens_drawn", "shortfall")
  }

  /** SemDeDup-style semantic keeper selection: embedding-cosine near-dup
    * pairs → connected components → keep exactly the min-id member of
    * each semantic cluster. Emits a decision row for EVERY vector (keep =
    * not a non-canonical cluster member) — the drop list a curation pass
    * applies. r10: candidates route through
    * [[Similarity.semanticNearDupPairs]] — label cells subdivided by
    * corpus-size-adaptive LSH (4 tables), so the candidate space is
    * LINEAR in corpus size instead of the label-bucket quadratic the
    * 10×-rows campaign flagged (5.98× wall growth); at the driver SF the
    * adaptive bit count is 0 and the pair set is bit-identical to the
    * label-bucket form. */
  def semanticKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val clusters = Dedup.duplicateClusters(
      Similarity.semanticNearDupPairs(e, 0.4))
    e.select(col("vec_id")).join(clusters, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster"),
        (coalesce(col("label"), col("vec_id")) === col("vec_id")).as("keep"))
  }

  /** Per-label embedding-cluster cohesion ([[Similarity.labelCohesion]]):
    * exact-fold centroid + mean/min member cosine per label bucket. */
  def labelCohesion(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.labelCohesion(emb(spark, sfDir))

  // ---------------------------------------------------------- orc source
  /** ORC round-trip: the other columnar format Spark bundles (the
    * reference is Delta/Parquet-only; a complete engine reads both). */
  def orcScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Parity.tmp("orc", sfDir)
    Parity.setupOnce("orc", sfDir) {
      Parity.table(spark, sfDir, "supplier").write.mode("overwrite").orc(dir)
    }
    spark.read.orc(dir)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
  }

  // ------------------------------------------------------------ bucketing
  /** Co-located join over bucketed tables ([[graft.ops.Bucketing]]):
    * both sides pre-hashed into the same bucket layout on the join key,
    * so the join itself runs with zero exchanges (the write pays the
    * one-time shuffle; BucketingSpec asserts the plan shape). */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = Integer.toHexString(sfDir.hashCode)
    val ot = s"graft_bko_$tag"
    val lt = s"graft_bkl_$tag"
    Parity.setupOnce("bucketed", sfDir) {
      Bucketing.writeBucketed(
        Parity.table(spark, sfDir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        ot, Parity.tmp("bko", sfDir), Seq("o_orderkey"), 8)
      Bucketing.writeBucketed(
        Parity.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity")),
        lt, Parity.tmp("bkl", sfDir), Seq("l_orderkey"), 8)
    }
    Bucketing.readTable(spark, lt)
      .join(Bucketing.readTable(spark, ot),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  // ----------------------------------------------------------- multimodal
  /** Binary media plumbing: wrap → typed mapPartitions decode stub. */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Multimodal.decodeStub(Multimodal.toMedia(docs(spark, sfDir))).toDF()
  }

  /** Frame sampling with per-media-type dispatch (one media row → N frame
    * rows) — the decode fan-out stage of an image/video pipeline. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Multimodal.sampleFrames(Multimodal.toMedia(docs(spark, sfDir))).toDF()
  }

  /** Raw multimodal ingestion round trip through the PACKFILE layout
    * ([[graft.ext.Multimodal.landPackfiles]]): land 64-doc packfiles +
    * an (offset, length) index (executor-side writes), read the spans
    * back (file opens O(#packs), never O(#docs) — the one-file-per-doc
    * layout measured 7.08× at 10× rows, purely file-count-bound), and
    * fingerprint each payload. Oracle closes the round trip against the
    * source table's UTF-8 bytes — byte-identity through pack offsets,
    * not just counts. */
  def binaryScan(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val dir = Parity.tmp("m_binary_scan", sfDir)
    Parity.setupOnce("m_binary_scan", sfDir) {
      Multimodal.landPackfiles(Multimodal.toMedia(docs(spark, sfDir)), dir)
    }
    Multimodal.readPackfiles(spark, dir)
      .select(col("doc_id"),
        octet_length(col("content")).cast(LongType).as("n_bytes"),
        sha2(col("content"), 256).as("sha_hex"))
  }

  // --------------------------------------------------- time-series joins
  /** As-of join: each purchase picks up the user's most recent click at
    * or before the purchase time ([[graft.ext.AsOf]] — one key shuffle,
    * no range explosion). The click side is pre-reduced to one row per
    * (user, ts) so ties are deterministic in both engines. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame =
    asofShaped(spark, sfDir, AsOf.joinBackward)

  /** Same query through the native merge-sweep operator
    * ([[graft.plans.AsOfJoinExec]]) — proves the custom
    * LogicalPlan/Strategy/SparkPlan path against the identical DuckDB
    * ASOF oracle. */
  def asofNative(spark: SparkSession, sfDir: String): DataFrame =
    asofShaped(spark, sfDir, AsOf.joinBackwardNative)

  /** Same query through the broadcast (zero-left-shuffle) form. */
  def asofBroadcast(spark: SparkSession, sfDir: String): DataFrame =
    asofShaped(spark, sfDir, AsOf.joinBackwardBroadcast)

  /** Forward direction: each purchase picks up the user's FIRST click at
    * or after the purchase (follow-up attribution); DuckDB expresses it
    * as `ASOF LEFT JOIN ... ON p.ts <= c.ts`. Tie-free by the same
    * (user, ts) pre-reduction, so first-seen == max_by conventions agree. */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame =
    asofShaped(spark, sfDir, AsOf.joinForward)

  private def asofShaped(
      spark: SparkSession, sfDir: String,
      join: (DataFrame, DataFrame, Seq[String], String, String, Seq[String], String) => DataFrame)
      : DataFrame = {
    val ev = Parity.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(
        max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
      .withColumn("click_ts", col("ts"))
    join(purchases, clicks, Seq("user_id"),
        "ts", "ts",
        Seq("click_id", "click_value", "click_ts"), "click_id")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("tse"),
        col("click_id"),
        unix_timestamp(col("click_ts")).as("click_tse"),
        col("click_value"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("click_ts"))).as("gap_s"))
  }

  /** Range join: orders priced into value bands via the binned path
    * ([[graft.ext.RangeJoin.binnedJoin]]) — bin width deliberately
    * misaligned with the band width so intervals replicate across bins. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = (0 until 10)
      .map(i => (f"band_$i%02d", i * 50000.0, (i + 1) * 50000.0))
      .toDF("band", "lo", "hi")
    RangeJoin.binnedJoin(
        Parity.table(spark, sfDir, "orders"), "o_totalprice",
        bands, "lo", "hi", binWidth = 20000L)
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  /** Interval-overlap join ([[RangeJoin.overlapJoin]]): two large
    * interval sets from orders price ranges, binned join with
    * owning-bin dedupe, checked by pair count + keyed checksum. */
  def overlapIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Parity.table(spark, sfDir, "orders")
    val a = o.filter(col("o_orderkey") % 97 === 0).select(
      col("o_orderkey").cast("long").as("ak"),
      col("o_totalprice").as("alo"), (col("o_totalprice") + 20000).as("ahi"))
    val b = o.filter(col("o_orderkey") % 89 === 0).select(
      col("o_orderkey").cast("long").as("bk"),
      col("o_totalprice").as("blo"), (col("o_totalprice") + 30000).as("bhi"))
    // checksum folds each pair to < 2^30 BEFORE the sum: ak·1000003
    // alone overflows Long once orderkeys reach the sf1 key range
    // (caught by the sf1 bench run — exactly the drift-only-at-scale
    // class), and the mod-P term sum is overflow-free to ~9e9 pairs
    RangeJoin.overlapJoin(a, "alo", "ahi", b, "blo", "bhi", binWidth = 25000L)
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("ak") % lit(1000000007L) * 1000003L % lit(1000000007L)
          + col("bk") % lit(1000000007L)) % lit(1000000007L)).as("key_sum"))
  }

  // ------------------------------------------------------------- reshape
  /** Pivot: order counts + exact sums per priority × status. Pivot values
    * are DECLARED, not discovered — `pivot(col)` without values runs a
    * driver-side distinct scan first, which is the anti-pattern at scale. */
  def pivotStatus(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Parity.table(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum"))
    p.select(col("o_orderpriority") +:
      Seq("F", "O", "P").flatMap(s => Seq(
        coalesce(col(s"${s}_n"), lit(0L)).as(s"${s}_n"), col(s"${s}_sum"))): _*)
  }

  // ------------------------------------------------------------ sampling
  /** Deterministic stratified sampling: per-language keep rates decided by
    * a content hash (`polyHash(doc_id:lang) % 100 < rate`) — reproducible
    * across runs/engines/cluster sizes, no RNG state, embarrassingly
    * parallel. The per-stratum report proves the rates. */
  /** Approximate query processing: answer a grouped COUNT/SUM from a 1%
    * deterministic Bernoulli sample, with Horvitz–Thompson scaling and a
    * per-group standard error — the interactive-latency pattern for
    * 100 TB facts (scan 1% of the rows, report estimate ± error; persist
    * the sample bucket as a partition column and the scan prunes 99% of
    * the IO instead of filtering it). Membership is a pure integer hash
    * of the row key (Knuth multiplicative, mod-prime, mod-100), so the
    * sample — and therefore every output double — is reproducible
    * bit-for-bit by any engine.
    *
    * Estimators (Bernoulli p = 0.01): est = sample_sum / p;
    * Var(est) ≈ (1−p)/p² · Σ_sample x² (HT variance estimate), so
    * se = sqrt(9900 · Σx²). Sums and sums-of-squares fold in DECIMAL
    * (order-independent, exact); the scale/sqrt/ratio arithmetic runs on
    * those exact values in a fixed expression tree. */
  def aqpSample(spark: SparkSession, sfDir: String): DataFrame = {
    val price = col("o_totalprice").cast("decimal(18,2)")
    Parity.table(spark, sfDir, "orders")
      .filter((col("o_orderkey") % lit(1000000007L) * lit(2654435761L)
        % lit(1000000007L)) % 100 < 1)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sample"),
        sum(price).as("sum_dec"),
        sum(price * price).as("sum2_dec"))
      .select(col("o_orderpriority"),
        col("n_sample"),
        (col("n_sample") * 100).as("est_count"),
        (col("sum_dec").cast("double") * lit(100.0)).as("est_sum"),
        sqrt(lit(9900.0) * col("sum2_dec").cast("double")).as("se_sum"))
      .withColumn("rel_se", col("se_sum") / col("est_sum"))
  }

  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = when(col("lang") === "en", 10)
      .when(col("lang") === "de", 30).otherwise(50)
    docs(spark, sfDir)
      .filter(TextKit.polyHash(concat(col("doc_id").cast("string"), lit(":"), col("lang"))) % 100 < rate)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Deterministic train/val/test split — reproducible hash assignment,
    * the op every training pipeline runs before export. Split = a pure
    * function of (doc_id, salt) via the engine's portable polynomial
    * hash, so membership is stable across runs, machines, and engine
    * versions; changing the salt re-deals the split without touching
    * data. 80/10/10 on hash mod 100. No shuffle for assignment (per-row
    * projection); one keyed agg for the report. The same idiom shards to
    * N training files via partitionBy(split). */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = TextKit.polyHash(
      concat(lit("split-v1:"), col("doc_id").cast("string"))) % 100
    docs(spark, sfDir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** TF-IDF (rational form): score = tf · N / df — log-free so the
    * arithmetic is one IEEE multiply + divide and bit-identical across
    * engines; ranking is unchanged because ln is monotone. Emits each
    * doc's top term. N joins in via a broadcast 1-row aggregate, never a
    * driver-side collect. */
  def tfidfTop(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = docs(spark, sfDir)
      .select(col("doc_id"), explode(TextKit.words(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast(DoubleType) * col("n_docs").cast(DoubleType) / col("df").cast(DoubleType))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "term", "tf", "df", "n_docs", "score")
  }

  /** BM25 document retrieval scoring for a fixed query term set — the
    * lexical-search ranking op a RAG corpus pipeline runs next to the ANN
    * queries (BM25 candidates ∪ vector candidates is the standard hybrid
    * retrieval). RATIONAL form, like [[tfidfTop]] and `x_lm_score`: the
    * classic idf is ln((N−df+0.5)/(df+0.5)) but ln is not bit-portable
    * across engines, so each term contributes idf_ratio · tf_part where
    * idf_ratio is the UN-logged odds — order-equivalent per term, and the
    * true BM25 is one client-side log away. tf_part is the exact
    * Robertson saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    * k1=1.2, b=0.75; every double op is one correctly-rounded IEEE step
    * mirrored in the oracle, and the per-doc sum folds in term order.
    *
    * Scale shape: term explode pre-filtered to the query terms (the scan
    * discards non-query tokens BEFORE any shuffle — at 100 TB the tf
    * table is |hits|, not |tokens|), one keyed tf count, a 3-row df
    * table + corpus-stats singleton broadcast back, one doc-keyed rollup. */
  def bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Df(docs(spark, sfDir), Seq("hash", "join", "vector"))

  /** [[bm25]] over an explicit (doc_id, text) frame (spec fixture). */
  def bm25Df(d: DataFrame, qTerms: Seq[String]): DataFrame = {
    val dls = d.select(col("doc_id"),
      size(TextKit.words(col("text"))).cast(LongType).as("dl"))
    val stats = dls.agg(sum(col("dl")).as("tot"), count(lit(1)).as("n_docs"))
    val tf = d.select(col("doc_id"), explode(TextKit.words(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfq), Seq("term"))
      .join(dls, Seq("doc_id"))
      .join(broadcast(stats))
      .select(col("doc_id"), col("term"),
        ((col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))).as("idf_ratio"),
        ((col("tf").cast(DoubleType) * lit(2.2)) /
          (col("tf").cast(DoubleType) + lit(1.2) * (lit(0.25) +
            lit(0.75) * (col("dl").cast(DoubleType) /
              (col("tot").cast(DoubleType) / col("n_docs").cast(DoubleType))))))
          .as("tf_part"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("term"), col("idf_ratio"), col("tf_part")))),
            s => s("idf_ratio") * s("tf_part")),
          lit(0.0), (acc, x) => acc + x).as("bm25"))
  }

  /** Reciprocal-rank fusion of two retrieval rankings (Cormack et al.
    * 2009): fuse the BM25 list with a query-TF-IDF list by
    * rrf = Σ_lists 1/(60 + rank) over each list's top-50 — the standard
    * hybrid-retrieval ensembling step (lexical ∪ vector candidates in a
    * RAG pipeline; here both rankers are lexical so the oracle stays
    * engine-exact, but the fusion is ranker-agnostic by construction).
    * Docs on one list only get that list's contribution — the
    * full-outer join IS the semantics, not a convenience.
    *
    * Scale shape: ranks come from per-list top-k selection, so the
    * row_number window's input is candidate-set-sized (|hits|), never
    * corpus-sized — at 100 TB the candidate lists arrive from the
    * bounded-heap top-k aggregator and this op fuses k+k rows. Every
    * double op (one divide per list, one add) is mirrored in the
    * oracle. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame =
    rrfDf(docs(spark, sfDir), Seq("hash", "join", "vector"))

  /** [[rrfFusion]] over an explicit (doc_id, text) frame (spec fixture). */
  def rrfDf(d: DataFrame, qTerms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Df(d, qTerms)
    val tf = d.select(col("doc_id"), explode(TextKit.words(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    // rational query TF-IDF (same log-free form as tfidfTop), per-doc
    // sum folded in term order for bit-stable double addition
    val tsc = tf.join(broadcast(dfq), Seq("term")).crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(aggregate(
        transform(
          array_sort(collect_list(struct(col("term"), col("tf"), col("df"), col("n_docs")))),
          s => s("tf").cast(DoubleType) * s("n_docs").cast(DoubleType) /
            s("df").cast(DoubleType)),
        lit(0.0), (a, x) => a + x).as("tfidf"))
    val ra = lex
      .withColumn("r_bm25",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("r_bm25") <= 50).select("doc_id", "r_bm25")
    val rb = tsc
      .withColumn("r_tfidf",
        row_number().over(Window.orderBy(col("tfidf").desc, col("doc_id"))))
      .filter(col("r_tfidf") <= 50).select("doc_id", "r_tfidf")
    ra.join(rb, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("r_bm25").cast(DoubleType)), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("r_tfidf").cast(DoubleType)), lit(0.0)))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("fused_rank") <= 20)
      .select("doc_id", "r_bm25", "r_tfidf", "rrf", "fused_rank")
  }

  /** MAD robust outlier report per language: median / median-absolute-
    * deviation of doc length, and how many docs sit beyond the 3·MAD
    * fence — the robust complement of the z-score gate `x_outliers`
    * (mean/stddev move with the outliers they're meant to catch; the
    * median pair doesn't). Exact interpolated medians (`percentile` ≡
    * `quantile_cont`, bit-identical — pinned by `x_percentiles`), then
    * one subtraction/abs per row: all IEEE-exact.
    *
    * Scale shape: two grouped exact-percentile passes (each one shuffle
    * on lang) + the group medians joined back (broadcast-sized: one row
    * per lang) + one counting rollup. Exact medians at 100 TB are the
    * deliberate choice here (this is a REPORT, run rarely);
    * `approxQuantile` is the always-on path. */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("lang"), col("n_chars").cast(DoubleType).as("x"))
    val med = d.groupBy("lang").agg(expr("percentile(x, 0.5)").as("med"))
    val dev = d.join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("med"), abs(col("x") - col("med")).as("adev"))
    val mad = dev.groupBy("lang").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Contiguous global row numbering + fixed-size sharding
    * ([[graft.ops.GlobalOrder.rowNumbered]]): number every document
    * 1..N in doc_id order and derive its 100-row training shard — the
    * "write the corpus as numbered shards" step after curation. The
    * oracle is the single-partition window this op refuses to plan;
    * results are identical, the partition-offset scheme just computes
    * them without ever putting the table in one task. */
  def rowNumberShards(spark: SparkSession, sfDir: String): DataFrame =
    GlobalOrder.rowNumbered(
        docs(spark, sfDir).select("doc_id", "lang"),
        "row_num", 32, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("row_num"),
        expr("(row_num - 1) div 100").as("shard"))

  /** Sorted-neighborhood record-linkage blocking: sort by a normalized
    * key (first 12 chars of the text), slide a window of w = 4 over the
    * GLOBAL sort order, and emit every in-window pair — the classic SNM
    * blocker, generating O(N·w) candidates where all-pairs is O(N²).
    * Global positions come from [[graft.ops.GlobalOrder.rowNumbered]];
    * the windowed self-pairing is a bucket equi-join (each row joins its
    * own ⌊(rn−1)/w⌋ bucket and, as left side, the next — any pair closer
    * than w shares a bucket exactly once), never a band join. */
  def sortedBlocking(spark: SparkSession, sfDir: String): DataFrame =
    snmCandidates(docs(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, 12).as("k")))

  /** Sorted-neighborhood candidates over a (doc_id, k) frame: global
    * rank by (k, doc_id) via the partition-offset numbering, then the
    * windowed self-pairing as a bucket equi-join (window w=4). */
  private def snmCandidates(d: DataFrame): DataFrame = {
    val numbered = GlobalOrder.rowNumbered(d, "rn", 32, col("k"), col("doc_id"))
    val right = numbered.select(expr("(rn - 1) div 4").as("bucket"),
      col("doc_id").as("b"), col("rn").as("rnb"))
    val left = numbered.select(
      explode(array(expr("(rn - 1) div 4"), expr("(rn - 1) div 4 + 1")))
        .as("bucket"),
      col("doc_id").as("a"), col("rn").as("rna"))
    left.join(right, Seq("bucket"))
      .filter(col("rnb") - col("rna") > 0 && col("rnb") - col("rna") < 4)
      .select(col("a"), col("b"), (col("rnb") - col("rna")).as("gap"))
  }

  /** Blocking-quality audit — the entity-resolution tuning readout
    * (Christen 2012): run the sorted-neighborhood blocker over the
    * dup-bearing universe and score it against the exact-duplicate
    * ground truth. `pairs_completeness` = captured / true dup pairs
    * (recall of the blocker); `reduction_ratio` = 1 − candidates / all
    * possible pairs (how much of the quadratic pair space the blocker
    * refuses to generate). An ER pipeline tunes window size and key
    * against exactly these two numbers.
    *
    * Scale shape: true pairs come from a hash equi-join (groups =
    * duplicate clusters), candidates from the bucketed SNM join, the
    * capture check is one left-semi join on (a, b); the four counters
    * are 1-row aggregates crossed as broadcast singletons — nothing
    * here materializes the N² pair space the metric is ABOUT. */
  def blockingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val u = docsWithDups(spark, sfDir)
    val hashed = u.select(sha2(col("text"), 256).as("h"), col("doc_id"))
    // Both pair lists are consumed TWICE (their own count + the capture
    // semi-join), and each evaluation re-ran its generation subtree —
    // the sha256 self-join and the SNM bucket join respectively (r13
    // StageProf: four full passes over the dup universe). Materialize
    // the narrow id-pair lists once; at 100 TB they are O(dup pairs)
    // and O(N·w) two-long rows — the scale-safe thing to pin.
    val truePairs = Materialize.once(hashed.as("x").join(hashed.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")))
    val cands = Materialize.once(snmCandidates(
      u.select(col("doc_id"), substring(col("text"), 1, 12).as("k")))
      .select("a", "b"))
    val nDocs = u.agg(count(lit(1)).as("n_docs"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true"))
    val nCand = cands.agg(count(lit(1)).as("n_cand"))
    val nCap = truePairs.join(cands, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_captured"))
    val ndd = col("n_docs").cast(DoubleType)
    nDocs.crossJoin(broadcast(nTrue)).crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nCap))
      .select(col("n_docs"), col("n_true"), col("n_cand"), col("n_captured"),
        when(col("n_true") > 0,
          col("n_captured").cast(DoubleType) / col("n_true").cast(DoubleType))
          .as("pairs_completeness"),
        (lit(1.0) - col("n_cand").cast(DoubleType)
          / (ndd * (ndd - lit(1.0)) / lit(2.0))).as("reduction_ratio"))
  }

  /** Fellegi–Sunter agreement-weight estimation — the parameter-fitting
    * step between blocking ([[blockingAudit]]) and survivorship
    * ([[goldenRecord]]): over the SNM candidate pair space, label each
    * pair match/non-match by exact text identity (the planted-dup
    * ground truth) and estimate, per comparison attribute (lang,
    * source, length±5), m = P(agree | match) and u = P(agree | match̄)
    * as raw integer counts. The attribute's agreement weight m/u is
    * emitted as an exact bigint ratio (odds_num = agree_m · n_unmatch,
    * odds_den = n_match · agree_u) plus ONE mirrored division — the
    * un-logged convention of x_bm25/x_psi_bins (true log-weight is a
    * client-side log away).
    *
    * Scale shape: candidates are the bucketed SNM join (≤w per doc,
    * never N²); attribute flags ride two doc-keyed hash joins; `stack`
    * unpivots inside the scan (no shuffle); one 3-group aggregate. */
  def fsWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val u = docsWithDups(spark, sfDir)
    val cands = snmCandidates(
      u.select(col("doc_id"), substring(col("text"), 1, 12).as("k")))
    // One hashed fingerprint table read by both pair sides instead of
    // two full sha256 passes over the dup universe (the persisted-
    // fingerprint-table shape a deployment uses; O(N) narrow rows).
    val hu = Materialize.once(u.select(col("doc_id"), sha2(col("text"), 256).as("h"),
      col("lang"), col("source"), col("n_chars")))
    def side(p: String) = hu.select(col("doc_id").as(p),
      col("h").as(s"h$p"), col("lang").as(s"l$p"),
      col("source").as(s"s$p"), col("n_chars").as(s"c$p"))
    val pairs = cands.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .select((col("ha") === col("hb")).as("is_match"),
        (col("la") === col("lb")).as("ag_lang"),
        (col("sa") === col("sb")).as("ag_source"),
        (abs(col("ca") - col("cb")) <= 5).as("ag_len"))
    pairs
      .select(col("is_match"),
        expr("stack(3, 'lang', ag_lang, 'source', ag_source, " +
          "'len5', ag_len) AS (attr, agree)"))
      .groupBy("attr")
      .agg(
        sum(when(col("is_match"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("is_match") && col("agree"), 1L).otherwise(0L))
          .as("n_agree_match"),
        sum(when(!col("is_match"), 1L).otherwise(0L)).as("n_unmatch"),
        sum(when(!col("is_match") && col("agree"), 1L).otherwise(0L))
          .as("n_agree_unmatch"))
      .select(col("attr"), col("n_match"), col("n_agree_match"),
        col("n_unmatch"), col("n_agree_unmatch"),
        (col("n_agree_match") * col("n_unmatch")).as("odds_num"),
        (col("n_match") * col("n_agree_unmatch")).as("odds_den"))
      .withColumn("agreement_odds",
        when(col("odds_den") > 0,
          col("odds_num").cast(DoubleType) / col("odds_den").cast(DoubleType)))
  }

  /** Fellegi–Sunter EM refinement — [[fsWeights]] without the labels:
    * real entity resolution has no ground truth, so m = P(agree|match),
    * u = P(agree|match̄) and the match prior come out of
    * expectation-maximization over the SNM candidate pairs (Fellegi &
    * Sunter 1969; Winkler's EM formulation). The decisive scale move is
    * the PATTERN-SPACE collapse: with 3 binary comparison attributes
    * there are only 2³ = 8 agreement patterns, and both EM steps are
    * functions of the pattern COUNTS — so the candidate space reduces
    * to ≤ 8 rows in ONE aggregation, and each EM round is a broadcast
    * of the 1-row parameter table + an 8-row aggregate, independent of
    * corpus size. Two fixed rounds (the x_pagerank unrolled-oracle
    * convention); per-pattern posteriors and round-2 parameters are the
    * output. Determinism: E-step posteriors are fixed-order scalar
    * chains per row; M-step sums are SERIAL LEFT-FOLDS over the
    * flag-sorted pattern rows (the embeddings dot-product convention —
    * ≤ 8 addends, same order in both engines, so no decimal-rounding or
    * summation-order drift can reach the division). */
  def fsEm(spark: SparkSession, sfDir: String): DataFrame = {
    val u = docsWithDups(spark, sfDir)
    val cands = snmCandidates(
      u.select(col("doc_id"), substring(col("text"), 1, 12).as("k")))
    def side(p: String) = u.select(col("doc_id").as(p),
      col("lang").as(s"l$p"), col("source").as(s"s$p"),
      col("n_chars").as(s"c$p"))
    // ≤ 8 rows — materialized once, read by every round and the output
    val pat = Materialize.once(cands.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .select((col("la") === col("lb")).as("ag_lang"),
        (col("sa") === col("sb")).as("ag_source"),
        (abs(col("ca") - col("cb")) <= 5).as("ag_len5"))
      .groupBy("ag_lang", "ag_source", "ag_len5")
      .agg(count(lit(1)).as("n")))
    def t(agree: String, mu: String) =
      when(col(agree), col(mu)).otherwise(lit(1.0) - col(mu))
    def eStep(params: DataFrame): DataFrame =
      pat.crossJoin(broadcast(params))
        .withColumn("num", col("p") * t("ag_lang", "m_lang") *
          t("ag_source", "m_source") * t("ag_len5", "m_len5"))
        .withColumn("w", col("num") / (col("num") +
          (lit(1.0) - col("p")) * t("ag_lang", "u_lang") *
            t("ag_source", "u_source") * t("ag_len5", "u_len5")))
    var params = spark.range(1).select(
      lit(0.1).as("p"),
      lit(0.9).as("m_lang"), lit(0.9).as("m_source"), lit(0.9).as("m_len5"),
      lit(0.3).as("u_lang"), lit(0.3).as("u_source"), lit(0.3).as("u_len5"))
    for (_ <- 1 to 2) {
      val e = eStep(params)
        .withColumn("wn", col("w") * col("n").cast(DoubleType))
        .withColumn("vn", (lit(1.0) - col("w")) * col("n").cast(DoubleType))
      // One collected, flag-sorted array of the ≤ 8 pattern rows; every
      // M-step sum is a serial left-fold over it — identical addition
      // order in the DuckDB mirror, so bit-exact without decimal casts.
      val rows = e.agg(sort_array(collect_list(struct(
          col("ag_lang"), col("ag_source"), col("ag_len5"),
          col("wn"), col("vn"), col("n").cast(DoubleType).as("nd")))).as("rs"))
      def fold(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(col("rs"), lit(0.0), (acc, x) => acc + f(x))
      params = rows.select(
          fold(_.getField("wn")).as("swn"),
          fold(_.getField("vn")).as("svn"),
          fold(_.getField("nd")).as("sn"),
          fold(x => when(x.getField("ag_lang"), x.getField("wn"))
            .otherwise(lit(0.0))).as("ml"),
          fold(x => when(x.getField("ag_source"), x.getField("wn"))
            .otherwise(lit(0.0))).as("ms"),
          fold(x => when(x.getField("ag_len5"), x.getField("wn"))
            .otherwise(lit(0.0))).as("mz"),
          fold(x => when(x.getField("ag_lang"), x.getField("vn"))
            .otherwise(lit(0.0))).as("ul"),
          fold(x => when(x.getField("ag_source"), x.getField("vn"))
            .otherwise(lit(0.0))).as("us"),
          fold(x => when(x.getField("ag_len5"), x.getField("vn"))
            .otherwise(lit(0.0))).as("uz"))
        .select(
          (col("swn") / col("sn")).as("p"),
          (col("ml") / col("swn")).as("m_lang"),
          (col("ms") / col("swn")).as("m_source"),
          (col("mz") / col("swn")).as("m_len5"),
          (col("ul") / col("svn")).as("u_lang"),
          (col("us") / col("svn")).as("u_source"),
          (col("uz") / col("svn")).as("u_len5"))
    }
    eStep(params).select(
      col("ag_lang"), col("ag_source"), col("ag_len5"), col("n"),
      col("w").as("posterior"), col("p").as("p_match"),
      col("m_lang"), col("m_source"), col("m_len5"),
      col("u_lang"), col("u_source"), col("u_len5"))
  }

  /** Keyed point-in-interval join through the NATIVE merge-sweep
    * operator ([[graft.ext.RangeJoin.nativeJoin]] →
    * [[graft.plans.RangeJoinExec]]): per (custkey mod 100) pricing
    * bands that deliberately OVERLAP (width 75k on a 50k grid), so
    * points match one or two bands and the exec's multi-emit active-set
    * path is on the oracle's hook — alongside `x_range_join`
    * (broadcast) and `x_overlap_join` (binned), this is the
    * no-tuning-knob scale path: one shuffle per side, state = overlap
    * depth. */
  def rangeNative(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Parity.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), (col("o_custkey") % 100).as("k"),
        col("o_totalprice").cast(DoubleType).as("v"))
    val iv = spark.range(100).select(col("id").as("k"),
        explode(sequence(lit(0L), lit(9L))).as("band"))
      .select(col("k"), col("band"),
        (col("band") * lit(50000.0)).as("lo"),
        (col("band") * lit(50000.0) + lit(75000.0)).as("hi"))
    RangeJoin.nativeJoin(pts, Seq("k"), "v", iv, "lo", "hi", Seq("band"))
      .select("o_orderkey", "k", "v", "band")
  }

  /** Equi-DEPTH histogram of order totals (the complement of the
    * equi-width `x_histogram`): quartile cutpoints from the exact
    * interpolated percentile (≡ quantile_cont, bit-identical), then one
    * counting pass with half-open [lo, hi) buckets — the optimizer-
    * statistics histogram shape (equal mass, unequal width). Two scans:
    * cutpoints (one grouped percentile) broadcast back into the bucket
    * projection. */
  def eqDepthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Parity.table(spark, sfDir, "orders")
      .select(col("o_totalprice").cast(DoubleType).as("x"))
    val cuts = o.agg(
      expr("percentile(x, 0.25)").as("q1"),
      expr("percentile(x, 0.5)").as("q2"),
      expr("percentile(x, 0.75)").as("q3"))
    o.join(broadcast(cuts))
      .select(when(col("x") < col("q1"), 0L)
        .when(col("x") < col("q2"), 1L)
        .when(col("x") < col("q3"), 2L).otherwise(3L).as("bucket"),
        col("x"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
  }

  /** KMV distinct-count sketch per language
    * ([[graft.functions.KmvSketch]], k = 32) over portable text hashes —
    * the verifiable sketch path beside the HLL rollup (SketchSpec): the
    * k minima are a deterministic function of the value SET, so the
    * oracle replays them exactly, minima-sum checksum included. The
    * estimate is the classic (k−1)·domain/kth_min when the sketch is
    * full, the exact count when not — one mirrored double expression.
    * At scale the sketch column itself would persist per shard and
    * answer corpus-distinct by union-merge, no re-scan. */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.KmvSketch
    docs(spark, sfDir)
      .select(col("lang"), TextKit.polyHash(col("text")).as("h"))
      .groupBy("lang")
      .agg(KmvSketch(col("h"), 32).as("mins"))
      .select(col("lang"),
        size(col("mins")).cast(LongType).as("n_mins"),
        element_at(col("mins"), size(col("mins"))).as("kth_min"),
        aggregate(col("mins"), lit(0L), (a, x) => a + x).as("mins_sum"),
        when(size(col("mins")) < 32, size(col("mins")).cast(DoubleType))
          .otherwise(lit(31.0) * lit(1000000007.0) /
            element_at(col("mins"), lit(32)).cast(DoubleType)).as("est_distinct"))
  }

  /** Cross-source distinct-overlap estimation from KMV sketch SET
    * OPERATIONS ([[graft.functions.KmvSketch]], k = 64) — "how much of
    * source A's distinct text is also in source B" WITHOUT any
    * text-level join: the k union minima are the k smallest of the two
    * sketches' union (exact, because each sketch holds its own k
    * smallest), the pair's Jaccard estimate is the both-sides fraction
    * of those minima, and intersection ≈ Jaccard · union-size. Beside
    * [[crossSourceDup]] (the exact join) this is the sketch path: at
    * 100 TB every source keeps one O(k) sketch row and any pair's
    * overlap is array arithmetic on two 64-long arrays — no re-scan,
    * no shuffle. All integers except the three mirrored estimator
    * expressions (single IEEE division chains, the house contract).
    * The sketch self-join is a broadcast of #sources rows (pinned in
    * QueryPlanAuditSpec's singleton-cross allowlist). Same planted
    * "mirror" source as [[crossSourceDup]] (every 3rd doc re-hosted):
    * the corpus has no organic cross-source byte dups and an all-zero
    * overlap gate would prove nothing. */
  def kmvOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.KmvSketch
    val k = 64
    val d = docs(spark, sfDir)
    val withMirror = d.select(col("source"), col("text"))
      .unionByName(d.filter(col("doc_id") % 3 === 0)
        .select(lit("mirror").as("source"), col("text")))
    // #sources-row result consumed TWICE by the self-join below —
    // materialize it once or the corpus+mirror scan, polyHash, and KMV
    // aggregation run twice (the derived-table re-inline class of
    // SURVEY lesson 6; the linkPredictQ convention).
    val sk = Materialize.once(withMirror
      .select(col("source"), TextKit.polyHash(col("text")).as("h"))
      .groupBy("source").agg(KmvSketch(col("h"), k).as("mins")))
    val paired = sk.as("x")
      .join(broadcast(sk.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.mins").as("am"), col("y.mins").as("bm"))
      .withColumn("um",
        slice(array_sort(array_distinct(concat(col("am"), col("bm")))), 1, k))
      .withColumn("n_union_mins", size(col("um")).cast(LongType))
      .withColumn("n_both",
        size(filter(col("um"), v =>
          array_contains(col("am"), v) && array_contains(col("bm"), v)))
          .cast(LongType))
    paired.select(col("source_a"), col("source_b"),
      col("n_union_mins"),
      element_at(col("um"), size(col("um"))).as("kth_union_min"),
      col("n_both"),
      TextKit.let(
        when(col("n_union_mins") < k, col("n_union_mins").cast(DoubleType))
          .otherwise(lit((k - 1).toDouble) * lit(1000000007.0) /
            element_at(col("um"), lit(k)).cast(DoubleType))) { unionEst =>
        TextKit.let(col("n_both").cast(DoubleType) /
            col("n_union_mins").cast(DoubleType)) { jacc =>
          struct(unionEst.as("est_union"), jacc.as("est_jaccard"),
            (jacc * unionEst).as("est_intersect"))
        }
      }.as("e"))
      .select(col("source_a"), col("source_b"), col("n_union_mins"),
        col("kth_union_min"), col("n_both"), col("e.est_union"),
        col("e.est_jaccard"), col("e.est_intersect"))
  }

  /** HyperLogLog distinct-count per language
    * ([[graft.functions.HllSketch]], p = 10 → 1024 registers, w = 20)
    * over portable text hashes — the fixed-size mergeable sibling of
    * `x_kmv_distinct`: KMV state grows with k, HLL state is a constant
    * 1 KiB per group regardless of cardinality, and merge is register
    * max (order-free, so partial aggregation is exact).
    *
    * Oracle surface: the registers reduce to two INTEGER scalars —
    * `n_zero` (empty registers) and `s_scaled` = Σ_j 2^(21−M_j), the
    * harmonic-sum denominator held exactly in BIGINT (every addend is a
    * power of two; no float accumulation order to disagree on) — plus
    * `est_raw` = α_m·m²·2^21/s_scaled, a single mirrored IEEE division.
    * The ln-based small-range correction is NOT in the oracle contract
    * (libm `log` is not exactly rounded across engines);
    * HllSketchSpec applies it and checks realized accuracy vs exact.
    *
    * At scale the register array persists per shard and corpus-distinct
    * is an elementwise-max union — no re-scan, O(1 KiB) per group. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HllSketch
    docs(spark, sfDir)
      .select(col("lang"), TextKit.polyHash(col("text")).as("h"))
      .groupBy("lang")
      .agg(HllSketch(col("h"), 10, 20).as("regs"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(col("lang"), col("exact_distinct"),
        aggregate(col("regs"), lit(0L),
          (a, r) => a + when(r === 0L, 1L).otherwise(0L)).as("n_zero"),
        aggregate(col("regs"), lit(0L),
          (a, r) => a + pow(lit(2.0), lit(21.0) - r.cast(DoubleType))
            .cast(LongType)).as("s_scaled"))
      .withColumn("est_raw",
        lit(HllSketch.alphaNumerator(10, 20)) /
          col("s_scaled").cast(DoubleType))
  }

  /** Sketch-table union rollup — the persisted-sketch deployment run as
    * a contract query: per-(lang, source) HLL register arrays (the
    * "one sketch per shard" artifact a 100 TB nightly would store)
    * merge to language level by register-wise max (posexplode + grouped
    * max, the same metadata-plane union `TableCatalog.ndvEstimate`
    * runs), then reduce to the scalar oracle surface. The oracle
    * builds the per-lang registers DIRECTLY from the value set — hash
    * equality against it is a live end-to-end proof that shard-sketch
    * union is lossless (max-merge ≡ one-pass over the union), not just
    * a spec assertion. */
  def hllUnionRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HllSketch
    docs(spark, sfDir)
      .select(col("lang"), col("source"), TextKit.polyHash(col("text")).as("h"))
      .groupBy("lang", "source")
      .agg(HllSketch(col("h"), 10, 20).as("regs"))
      .select(col("lang"), posexplode(col("regs")).as(Seq("pos", "r")))
      .groupBy("lang", "pos").agg(max(col("r")).as("r"))
      .groupBy("lang")
      .agg(sum(when(col("r") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(pow(lit(2.0), lit(21.0) - col("r").cast(DoubleType))
          .cast(LongType)).as("s_scaled"))
      .select(col("lang"), col("n_zero"), col("s_scaled"),
        (lit(HllSketch.alphaNumerator(10, 20)) /
          col("s_scaled").cast(DoubleType)).as("est_raw"))
  }

  /** Smoothed target encoding (the ML feature-prep categorical encoder):
    * enc(category) = (Σ_cat target + m·prior) / (n_cat + m) with m = 100
    * and prior = the global target mean — high-count categories keep
    * their own mean, rare ones shrink toward the prior. Sums run in
    * DECIMAL (exact, order-independent — the x_ohlc pattern), the final
    * ratio is one double expression mirrored in the oracle bit-for-bit.
    *
    * Scale shape: one grouped decimal aggregation + a broadcast global
    * singleton; the encoder table is dimension-sized, applied to the
    * fact by broadcast join at training time. */
  def targetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Parity.events(spark, sfDir)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val glob = e.agg(sum(col("v")).as("gsum"), count(lit(1)).as("gn"))
    e.groupBy("event_type")
      .agg(sum(col("v")).as("csum"), count(lit(1)).as("n"))
      .join(broadcast(glob))
      .select(col("event_type"), col("n"),
        ((col("csum").cast(DoubleType) + lit(100.0) *
          (col("gsum").cast(DoubleType) / col("gn").cast(DoubleType))) /
          (col("n").cast(DoubleType) + lit(100.0))).as("enc"))
  }

  /** Classical seasonal decomposition (STL-lite) of the hourly event
    * series per event type: trend = centered ±12 h moving average,
    * seasonal = hour-of-day mean of the detrended series, remainder =
    * what's left — the time-series triage view (is a spike trend, daily
    * rhythm, or anomaly?). Exactness layering: the series and the trend
    * window sum run in DECIMAL (order-independent), divisions and the
    * detrend subtraction are single mirrored IEEE ops, and the seasonal
    * mean — a sum of doubles, where accumulation ORDER matters — is an
    * hr-ordered fold like `x_lm_score`, so the oracle replays it
    * bit-for-bit.
    *
    * Scale shape: one (type, hour)-keyed decimal rollup; the trend
    * window and the hod rollup both ride per-type partitions (thousands
    * of series scale out; a single series is inherently one partition's
    * window — the RANGE frame keeps it streaming, never materializing
    * the ±12 neighborhood per row). */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Parity.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hr"),
        col("value").cast("decimal(18,2)").as("v"))
    val series = e.groupBy("event_type", "hr").agg(sum(col("v")).as("vd"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("hr").rangeBetween(-12, 12)
    val t = series
      .withColumn("tsum", sum(col("vd")).over(w))
      .withColumn("tcnt", count(lit(1)).over(w))
      .select(col("event_type"), col("hr"), col("vd").cast(DoubleType).as("v"),
        (col("tsum").cast(DoubleType) / col("tcnt").cast(DoubleType)).as("trend"))
      .withColumn("detrend", col("v") - col("trend"))
    val seas = t.groupBy(col("event_type"), (col("hr") % 24).as("hod"))
      .agg(count(lit(1)).as("cnt"),
        aggregate(
          transform(array_sort(collect_list(struct(col("hr"), col("detrend")))),
            s => s("detrend")),
          lit(0.0), (acc, x) => acc + x).as("dsum"))
      .select(col("event_type"), col("hod"),
        (col("dsum") / col("cnt").cast(DoubleType)).as("seasonal"))
    t.as("t").join(seas.as("se"),
        col("t.event_type") === col("se.event_type") &&
          col("t.hr") % 24 === col("se.hod"))
      .select(col("t.event_type"), col("hr"), col("v"), col("trend"),
        col("detrend"), col("seasonal"),
        (col("detrend") - col("seasonal")).as("remainder"))
  }

  /** Referential-integrity + constraint audit across the star schema —
    * the dbt-test / Deequ-style relationship checks the single-table
    * profiler (`x_profile`) and write-time CHECKs don't cover: FK
    * orphans (anti joins — dims broadcast), key uniqueness (grouped
    * count), and domain rules, emitted as one tall (check, n_bad,
    * n_total) report. Each check is a single scan; the fact scans are
    * shared per source table via one conditional aggregation where the
    * rules are row-local. */
  def integrityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Parity.table(spark, sfDir, "lineitem")
    val o = Parity.table(spark, sfDir, "orders")
    val c = Parity.table(spark, sfDir, "customer")
    val e = Parity.events(spark, sfDir)
    // row-local rules ride ONE aggregation per table
    val liLocal = li.agg(
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("bad_qty"),
      sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)).as("bad_price"),
      count(lit(1)).as("n"))
      .select(explode(array(
        struct(lit("lineitem_nonpositive_quantity").as("check"),
          col("bad_qty").as("n_bad"), col("n").as("n_total")),
        struct(lit("lineitem_negative_price").as("check"),
          col("bad_price").as("n_bad"), col("n").as("n_total")))).as("r"))
      .select("r.*")
    val eLocal = e.agg(
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("bad_user"),
      count(lit(1)).as("n"))
      .select(lit("events_null_user").as("check"),
        col("bad_user").as("n_bad"), col("n").as("n_total"))
    // FK orphans: anti join against the (broadcastable) parent keys
    val liOrphan = li.join(o.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit("lineitem_orphan_orderkey").as("check"), col("n_bad"),
        lit(null).cast(LongType).as("n_total"))
    val oOrphan = o.join(c.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit("orders_orphan_custkey").as("check"), col("n_bad"),
        lit(null).cast(LongType).as("n_total"))
    // key uniqueness: one grouped count, violations = keys seen twice
    val oDup = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c")).otherwise(0L)), lit(0L))
        .as("n_bad"),
        count(lit(1)).as("n_total"))
      .select(lit("orders_duplicate_orderkey").as("check"),
        col("n_bad"), col("n_total"))
    liLocal.unionAll(eLocal).unionAll(liOrphan).unionAll(oOrphan)
      .unionAll(oDup)
  }

  /** Deterministic label-propagation communities
    * ([[graft.ext.Graph.labelPropagation]]) over the co-purchase graph,
    * three synchronous rounds: the community signal the other graph
    * queries don't give (CC = connectivity — one bridge edge merges two
    * dense cohorts; LPA keeps them apart). Plurality + min-label
    * tie-break, all-integer, so the oracle replays the rounds exactly. */
  def labelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Materialize.once(coPurchaseEdges(spark, sfDir))
    val out = Graph.labelPropagation(edges, rounds = 3)
      .select(col("v").as("user_id"), col("community"))
    Materialize.free(edges)
    out
  }

  /** Entity-resolution GOLDEN RECORD — the full record-linkage pipeline
    * composed end-to-end: sorted-neighborhood candidates
    * ([[sortedBlocking]]) → blocked edit-distance match (prefix
    * Levenshtein ≤ 12, integer-exact in both engines) → transitive
    * closure into entities ([[graft.ext.Dedup.duplicateClusters]]) →
    * survivorship per entity (canonical id = min member; representative
    * = longest text, doc_id tiebreak — picked by a window over the
    * cluster key, bounded by cluster size). Unmatched docs are their own
    * singleton entity, so the output IS the master table: one row per
    * resolved entity.
    *
    * Scale shape: candidates are O(N·w) from the SNM bucket join (never
    * all-pairs), the match adds two doc-keyed prefix joins, CC is the
    * iterative keyed min-propagation, and survivorship is one
    * cluster-keyed exchange shared by the window and the rollup. */
  def goldenRecord(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val matched = sortedBlocking(spark, sfDir)
      .join(d.select(col("doc_id").as("a"),
        substring(col("text"), 1, 64).as("pa")), Seq("a"))
      .join(d.select(col("doc_id").as("b"),
        substring(col("text"), 1, 64).as("pb")), Seq("b"))
      .filter(levenshtein(col("pa"), col("pb")) <= 12)
      .select("a", "b")
    val clusters = Dedup.duplicateClusters(matched)
      .select(col("node").as("doc_id"), col("label"))
    val member = d.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
    // representative = longest member, doc_id-ascending tiebreak — as a
    // struct-min INSIDE the rollup aggregate (negated length inverts the
    // ordering), not a rank-1 window + join-back: one exchange on
    // cluster instead of window-sort + aggregate + join over the same key
    member.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("canonical_id"),
        countDistinct(col("lang")).as("n_langs"),
        min(struct((-col("n_chars")).as("nn"), col("doc_id").as("d"))).as("m"))
      .select(col("cluster"), col("n_members"), col("canonical_id"),
        col("n_langs"), col("m.d").as("rep_id"),
        (-col("m.nn")).as("rep_n_chars"))
  }

  /** Distribution drift between two event batches (chi-square form): the
    * batch-over-batch data-quality gate that catches "the new feed's
    * value distribution moved" before it poisons training. Reference =
    * even event_ids, current = odd (a deterministic split standing in
    * for yesterday/today); values bucket into fixed width-50 bins;
    * expected(current) = ref count rescaled by the batch-size ratio, and
    * each bin reports its (obs−exp)²/exp component — pure +,−,×,÷ on
    * doubles, so the oracle is bit-exact (no p-value: that needs the
    * incomplete gamma, one client-side step from the statistic).
    * Bins the reference never saw report NULL (chi-square undefined;
    * their obs count still surfaces — the "new regime" signal).
    *
    * Scale shape: one scan, one (type, bin)-keyed count per side (both
    * ride the same exchange via the side flag in the key), one small
    * join — no row ever leaves its bin. */
  def drift(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Parity.events(spark, sfDir)
      .select(col("event_type"), (col("event_id") % 2 === 0).as("is_ref"),
        floor(col("value") / lit(50.0)).cast(LongType).as("bin"))
    val counts = e.groupBy("event_type", "bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val totals = counts.groupBy("event_type")
      .agg(sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"))
    counts.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("bin"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0,
          col("n_ref").cast(DoubleType) *
            (col("tot_cur").cast(DoubleType) / col("tot_ref").cast(DoubleType)))
          .as("expected"))
      .select(col("event_type"), col("bin"), col("n_ref"), col("n_cur"),
        col("expected"),
        ((col("n_cur").cast(DoubleType) - col("expected")) *
          (col("n_cur").cast(DoubleType) - col("expected")) / col("expected"))
          .as("chi2_component"))
  }

  // ------------------------------------------------------------ streaming
  /** Batch twin of the streaming hourly rollup (same code path). */
  def eventWindow(spark: SparkSession, sfDir: String): DataFrame =
    EventStreams.hourlyRollup(Parity.events(spark, sfDir))

  /** Gap-based sessionization (30 min), batch form; the streaming twin
    * (flatMapGroupsWithState) is exercised in StreamingSpec. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    EventStreams.sessionize(Parity.events(spark, sfDir), gapSeconds = 1800)

  /** Weekly cohort retention (first-event cohort × active-week offset). */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.cohortRetention(Parity.events(spark, sfDir))

  /** OHLC bars — the finance-domain rollup the reference's trading
    * pipeline consumes (daily yfinance bars): per (event_type, hour),
    * open/close = value of the first/last event, high/low = extremes,
    * volume = exact decimal sum. First/last are picked by row_number
    * over the deterministic (ts, event_id) order — NOT arg_min/max,
    * whose tiebreak differs across engines.
    *
    * Scale shape: ONE exchange on the bar key; both row_number windows
    * and the final aggregate share its partitioning (the desc window
    * re-sorts in place, no re-shuffle), so the whole query is a single
    * shuffle regardless of fact size. */
  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Parity.events(spark, sfDir)
      .withColumn("hour_epoch", unix_timestamp(date_trunc("hour", col("ts"))))
    val keys = Seq(col("event_type"), col("hour_epoch"))
    val asc = Window.partitionBy(keys: _*).orderBy(col("ts").asc, col("event_id").asc)
    val desc = Window.partitionBy(keys: _*).orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("volume"))
  }

  /** Z-score length-outlier gate per language ([[Analytics.zOutliers]]) —
    * the statistical complement to the rule-based quality gates. */
  def lengthOutliersOn(d: DataFrame): DataFrame =
    Analytics.zOutliers(d, value = "n_chars", group = "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("z"))

  def lengthOutliers(spark: SparkSession, sfDir: String): DataFrame =
    lengthOutliersOn(docs(spark, sfDir))

  /** Per-group OLS of revenue on quantity ([[Analytics.olsFit]]): the
    * regr_slope/regr_intercept/corr statistical-aggregate family with
    * exact cross-engine determinism (decimal moments → one fixed double
    * expression tree). */
  def regressionFit(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.olsFit(Parity.table(spark, sfDir, "lineitem"),
      group = "l_returnflag", x = "l_quantity", y = "l_extendedprice")

  /** Recency-weighted per-user value aggregate
    * ([[Analytics.harmonicDecaySum]]). */
  def decayFeaturesOn(e: DataFrame): DataFrame =
    Analytics.harmonicDecaySum(e)

  def decayFeatures(spark: SparkSession, sfDir: String): DataFrame =
    decayFeaturesOn(Parity.events(spark, sfDir))

  /** Ordered signup → click → purchase funnel by signup cohort week. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.funnel(Parity.events(spark, sfDir))

  /** U-shaped multi-touch attribution ([[Analytics.attributionUShaped]]):
    * each purchase splits an integer credit of 100 over the click/view
    * touches in its 3-day lookback — the marketing-mix readout next to
    * the funnel; per-conversion credits sum to exactly 100. */
  def attributionQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.attributionUShaped(Parity.events(spark, sfDir),
      touchTypes = Seq("click", "view"))

  /** Events as deterministic half-open intervals: start = event epoch,
    * duration = 60 + (event_id mod 240) seconds — a synthetic but
    * reproducible "session length" both engines derive identically. */
  private def eventIntervals(spark: SparkSession, sfDir: String): DataFrame =
    Parity.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("start_s"))
      .withColumn("end_s",
        col("start_s") + lit(60L) + pmod(col("event_id"), lit(240L)))

  /** Batch twin of the state-v2 streaming user profile
    * ([[graft.streaming.StateV2.userStatsStream]]): per-user running
    * totals as one exact keyed aggregation. */
  def userState(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StateV2.userStatsBatch(Parity.events(spark, sfDir))

  // ------------------------------------- streaming sinks' batch twins
  // The x_user_state convention extended to the three sinks that were
  // spec-only: each twin drives the EXACT code the sink's foreachBatch
  // calls (scd2Apply / MaterializedViews.refresh) or the sink's own
  // transform (driftStream runs unchanged on batch frames — the
  // analyzer eliminates watermarks on non-streaming plans), so the
  // DuckDB row gates the streaming logic, not a re-implementation.

  /** [[graft.streaming.EventStreams.scd2Sink]] batch twin: two order
    * batches folded through the sink's read-merge-overwrite body into a
    * versioned catalog table — the final table must equal the direct
    * two-batch SCD2 merge (`scd2_two_batch`'s oracle, verbatim). Fresh
    * temp catalog per invocation keeps re-runs independent. */
  def scd2SinkTwin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.core.Clock
    import graft.scd.Scd2
    val orders = Parity.table(spark, sfDir, "orders")
    def price(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
    val b1 = orders.filter(year(col("o_orderdate").cast(DateType)) < 1997)
      .select(col("o_orderkey"), col("o_orderstatus"),
        price(col("o_totalprice")).cast("string").as("price"))
    val b2 = orders.filter(year(col("o_orderdate").cast(DateType)) >= 1996)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (price(col("o_totalprice")) +
          when(col("o_orderkey") % 7 === 0, 1).otherwise(0))
          .cast("decimal(18,2)").cast("string").as("price"))
    val keys = Seq("o_orderkey")
    val tracked = Seq("o_orderstatus", "price")
    val cat = new graft.core.TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-stscd2").toString)
    EventStreams.scd2Apply(b1,
      new Scd2(keys, tracked, clock = Clock.fixed("2026-01-15")), cat, "st.scd2")
    EventStreams.scd2Apply(b2,
      new Scd2(keys, tracked, clock = Clock.fixed("2026-02-15")), cat, "st.scd2")
    cat.read(spark, "st.scd2")
  }

  /** [[graft.streaming.EventStreams.mvRefreshSink]] batch twin: a
    * summary created from batch 1, then two more batches folded through
    * the sink's own `MaterializedViews.refresh` (partial-state algebra:
    * sum+sum, cnt+cnt) — the final summary must equal one aggregate
    * over ALL the data, which is exactly what the oracle computes. */
  def mvRefreshTwin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.MaterializedViews
    val root = java.nio.file.Files.createTempDirectory("graft-stmv")
    val basePath = root.resolve("base").toString
    val mvPath = root.resolve("mv").toString
    val o = Parity.table(spark, sfDir, "orders")
      .select(col("o_orderstatus"), col("o_totalprice").cast("decimal(18,2)").as("price"))
    def slice(r: Int) = o.filter(pmod(col("price").cast("decimal(18,0)"), lit(3)) === r)
    slice(0).write.mode("overwrite").parquet(basePath)
    val d = MaterializedViews.create(spark, basePath, mvPath,
      groupCols = Seq("o_orderstatus"), sums = Seq(col("price")))
    MaterializedViews.refresh(spark, d, slice(1))
    MaterializedViews.refresh(spark, d, slice(2))
    spark.read.parquet(mvPath)
      .select(col("o_orderstatus"),
        col("mv_sum_0").cast(DoubleType).as("sum_price"), col("mv_cnt"))
  }

  /** [[graft.streaming.EventStreams.driftStream]] batch twin: the
    * SAME transform the stream runs (watermark no-ops on batch) — the
    * reference profile comes from even epoch-days, the monitored feed
    * from odd days, so the chi-square components gate non-vacuously
    * (per-hour counts genuinely differ from the hourly-average
    * expectation). */
  def driftStreamTwin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Parity.events(spark, sfDir)
    val day = expr("unix_timestamp(ts) div 86400")
    val ref = EventStreams.hourlyReference(ev.filter(day % 2 === 0))
    EventStreams.driftStream(ev.filter(day % 2 === 1), ref)
  }

  /** Peak concurrency per event type ([[Analytics.maxConcurrency]]):
    * the +1/−1 boundary sweep as one key-partitioned window pass. */
  def concurrencyPeaks(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.maxConcurrency(eventIntervals(spark, sfDir), key = "event_type")

  /** Per-user merged interval coverage ([[Analytics.intervalUnion]]):
    * union length + island count via gaps-and-islands, one exchange. */
  def intervalCoverage(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.intervalUnion(eventIntervals(spark, sfDir), key = "user_id")

  /** Event-level session features ([[Analytics.sessionFeatures]]):
    * session id, in-session position, elapsed seconds — the sequence-model
    * enrichment, all running windows on one user exchange. */
  def sessionFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.sessionFeatures(Parity.events(spark, sfDir))

  /** Levenshtein near-dup pairs under (lang, length-bucket) blocking. */
  def editDistance(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.editDistancePairs(docs(spark, sfDir))

  /** Single-pass column profile (counts, nulls, distincts, min/max). */
  def profileOrders(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Quality.profile(Parity.table(spark, sfDir, "orders"))

  /** Sessionization via the native `session_window` aggregate — the
    * declarative twin of [[sessionize]]: Catalyst plans the dedicated
    * session-merge exec (UpdatingSessions + MergingSessionsExec folding
    * overlapping per-key windows inside ONE user-keyed exchange) instead
    * of a window sort + running island sum. Same gap rule as the islands
    * form (an event exactly `gap` after the last MERGES — windows are
    * [first, last+gap] and merging is end-inclusive, verified
    * empirically), so both strategies share one oracle shape. Seconds
    * precision on both sides keeps the boundary arithmetic exact. */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Parity.events(spark, sfDir)
      .withColumn("tse", unix_timestamp(col("ts")))
      .groupBy(col("user_id"),
        session_window(timestamp_seconds(col("tse")), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast(DoubleType).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("start_epoch"),
        unix_timestamp(col("sw.end")).as("end_epoch"),
        col("n_events"), col("sum_value"))

  /** Exact corpus-wide frequent bigrams ("heavy hitters") WITHOUT a
    * full-vocabulary shuffle: a mergeable frequent-items sketch
    * (`approx_top_k`, DataSketches ItemsSketch — map-side partial state,
    * one tiny merged row) nominates candidates, then only candidate
    * postings are re-counted exactly and gated on support. The sketch
    * guarantee (any item with true count > 3.5·N/maxTracked survives;
    * here 3.5N/16384 ≈ 0.0002N, 5× below the 0.001N support gate) makes
    * the candidate set a provable superset, so the output is EXACT —
    * the same candidates-then-verify shape as the MinHash/LSH dedup
    * path. At 100 TB the exact recount shuffles only candidate postings
    * (≤ k distinct keys) instead of the full n-gram vocabulary. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = docs(spark, sfDir)
      .select(explode(TextKit.wordNgrams(col("text"), 2)).as("b"))
    val cand = grams.agg(expr("approx_top_k(b, 2000, 16384)").as("tk"))
      .select(explode(col("tk")).as("c"))
      .select(col("c.item").as("b"))
    val n = grams.agg(count(lit(1)).as("n_total"))
    grams.join(broadcast(cand), Seq("b")) // map-side candidate prune
      .groupBy("b").agg(count(lit(1)).as("cnt")) // exact recount
      .crossJoin(broadcast(n))
      .filter(col("cnt").cast(DoubleType) >=
        col("n_total").cast(DoubleType) * lit(0.001))
      .select(col("b").as("bigram"), col("cnt"), col("n_total"))
  }

  /** Frequency-ranked vocabulary build + document id-encoding — the
    * tokenizer-fitting step of a training pipeline: vocab = top-V
    * bigrams by (count desc, value asc), id = 1-based rank, OOV = 0;
    * each doc re-emerges as its id sequence (space-joined, preserving
    * order) plus an OOV count. The vocabulary is a single bounded row
    * (TakeOrdered top-V, no global sort) broadcast to every encoder
    * task; encoding is pure per-row generated expressions. */
  def vocabEncode(spark: SparkSession, sfDir: String, v: Int = 256): DataFrame = {
    val d = docs(spark, sfDir)
    val grams = d.select(explode(TextKit.wordNgrams(col("text"), 2)).as("b"))
    val top = grams.groupBy("b").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("b")).limit(v)
    // one sorted array row: struct sort on (-cnt, b) = rank order
    val vocab = top.agg(
      transform(
        array_sort(collect_list(struct((-col("cnt")).as("nc"), col("b").as("b")))),
        s => s.getField("b")).as("vocab"))
    d.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        TextKit.let(transform(TextKit.wordNgrams(col("text"), 2),
          t => array_position(col("vocab"), t))) { ids =>
          struct(
            array_join(transform(ids, i => i.cast(StringType)), " ").as("ids_str"),
            size(ids).cast(LongType).as("n_grams"),
            size(filter(ids, i => i === 0L)).cast(LongType).as("n_oov"))
        }.as("e"))
      .select(col("doc_id"), col("e.ids_str").as("ids_str"),
        col("e.n_grams").as("n_grams"), col("e.n_oov").as("n_oov"))
  }

  /** Content-defined chunking rollup ([[Dedup.cdcChunkTable]]): per doc,
    * how many rolling-hash-bounded chunks it splits into and how many of
    * them are SHARED with at least one other document — the sub-document
    * dedup signal fixed-size chunking misses when an edit shifts
    * positions. One chunk-hash-keyed aggregation for document frequency,
    * one doc-keyed rollup; chunking itself never shuffles. */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val ch = Dedup.cdcChunkTable(docs(spark, sfDir), modulus = 16)
    val dfreq = ch.select(col("chunk_hash"), col("doc_id")).distinct()
      .groupBy("chunk_hash").agg(count(lit(1)).as("cdf"))
    ch.join(dfreq, Seq("chunk_hash"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cdf") > 1, 1L).otherwise(0L)).as("n_shared_chunks"),
        sum(col("n_words")).as("n_words"))
      .select("doc_id", "n_chunks", "n_shared_chunks", "n_words")
  }

  /** Bloom-pruned fact⋈dim semi join ([[graft.ops.BloomPrune]]): revenue
    * rollup of line items belonging to finished urgent orders, with the
    * order-key Bloom sketch pruning the lineitem side BEFORE its
    * exchange. Result is exact (the sketch only prunes; the semi join
    * removes false positives), so the oracle is the plain IN-subquery. */
  def bloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Parity.table(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"))
    graft.ops.BloomPrune.prunedSemiJoin(
        Parity.table(spark, sfDir, "lineitem"), dim, "l_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast(DoubleType).as("sum_qty"))
  }

  /** Triangle counting ([[graft.ext.Graph.triangleCounts]]) over a user
    * co-engagement graph: users are connected when they purchased on ≥5
    * of the same catalog keys; each user's triangle participation is the
    * cluster-cohesion signal (hubs have high degree, few triangles;
    * tight cohorts are all-triangles). Edge build is one distinct + one
    * key-equality self-join + keyed count; the count itself is the
    * degree-ordered wedge join — no step is quadratic in the vertex set. */
  /** The co-purchase edge table MATERIALIZED once per (JVM, sfDir) as a
    * bucketed-by-`a`, per-bucket-sorted external table — the 100 TB
    * design for an eight-consumer graph family: the expensive common
    * subexpression (events scan → (user, key) distinct → key-equality
    * self-join → 17.6M-pair count at 10× rows, ~80% of every graph
    * query's wall before this) is a BUILD ARTIFACT, not a per-query
    * cost. Exactly the [[graft.ops.Bucketing]] / `x_bucketed_join`
    * pattern: pay the derivation and its shuffle once at write; every
    * later analytic starts from a 234k-row bucketed scan. The first
    * family query in a session pays the build inside its own measured
    * wall (setupOnce body runs eagerly in the query fn — nothing hides
    * from the bench); columns (a, b, shared) with a < b. */
  private def coPurchaseTable(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = s"graft_copurchase_${Integer.toHexString(sfDir.hashCode)}"
    Parity.setupOnce("copurchase", sfDir) {
      val uk0 = Parity.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .distinct()
      // Degree-capped derivation (r11, the linkPredict middle-cap pattern
      // applied to the BIPARTITE wedge this edge build enumerates): a hot
      // PURCHASER (user touching > 1024 keys) becomes a near-complete hub
      // whose downstream triangle/common-neighbor work grows
      // quadratically in hub degree, and a hot PRODUCT KEY (> 256 users)
      // is the wedge middle itself — per-key pair fanout is users²
      // (quadratic in the hot group). Both are stopword-like: their
      // marginal pairs carry the least co-purchase evidence (shared keys
      // covering everyone discriminate nothing — the Adamic-Adar 1/deg
      // argument) at the highest cost, so each side truncates
      // DETERMINISTICALLY to its smallest ids (evidence-weighted
      // truncation, replayed exactly by the oracle's QUALIFY mirror).
      // Neither cap binds on the uniform fixtures at any probed SF —
      // they exist for skewed corpora (the purchase-zipf twin).
      val uk = uk0
        .withColumn("rnu", row_number().over(
          Window.partitionBy("user_id").orderBy("k")))
        .filter(col("rnu") <= 1024)
        .withColumn("rnk", row_number().over(
          Window.partitionBy("k").orderBy("user_id")))
        .filter(col("rnk") <= 256)
        .drop("rnu", "rnk")
      val edges = uk.as("x").join(uk.as("y"),
          col("x.k") === col("y.k") && col("x.user_id") < col("y.user_id"))
        .groupBy(col("x.user_id").as("a"), col("y.user_id").as("b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
      Bucketing.writeBucketed(edges, tbl,
        Parity.tmp("copurchase", sfDir), Seq("a"), 32)
    }
    Bucketing.readTable(spark, tbl)
  }

  private[graft] def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseTable(spark, sfDir).select("a", "b")

  /** [[coPurchaseEdges]] with an integer traversal COST per edge:
    * stronger ties (more shared purchase keys) are cheaper to cross —
    * w = max(1, 10 − shared) ∈ [1, 5] since edges require shared ≥ 5.
    * Integer weights keep the SSSP relaxations bit-exact. */
  private def coPurchaseEdgesWeighted(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseTable(spark, sfDir).select(col("a"), col("b"),
      greatest(lit(1L), lit(10L) - col("shared")).as("w"))

  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    Graph.triangleCounts(coPurchaseEdges(spark, sfDir))
      .select(col("v").as("user_id"), col("n_triangles"))

  /** Link prediction over the co-purchase graph
    * ([[graft.ext.Graph.linkPredict]]): non-adjacent user pairs with
    * ≥2 common neighbors, with the integer similarity signals
    * (common-neighbor count, preferential attachment, Jaccard
    * denominator) — "who would this recommender connect next". */
  def linkPredictQ(spark: SparkSession, sfDir: String): DataFrame =
    // The edge table feeds FOUR consumers (both wedge sides, the
    // anti-join, the degree table); materialize the (now bucketed-table)
    // scan once so it isn't re-read per consumer — SURVEY lesson 6.
    Graph.linkPredict(Materialize.once(coPurchaseEdges(spark, sfDir)),
      maxMiddleDeg = 1024, minCommon = 2)

  /** Fixed-point PageRank ([[graft.ext.Graph.pageRank]]) over the same
    * co-purchase graph — influence centrality where triangle counting
    * gives cohesion. Integer arithmetic end-to-end (scaled ranks,
    * integral division), so the oracle replays the exact iterations and
    * the hash matches bit-for-bit: no float-summation-order drift. */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    Graph.pageRank(coPurchaseEdges(spark, sfDir), iters = 3)
      .select(col("v").as("user_id"), col("pr_fixed"))

  /** Pointer-doubling hierarchy resolution
    * ([[graft.ext.Graph.rootsAndDepths]]): derive the canonical
    * smallest-neighbor forest over the co-purchase graph, then resolve
    * every user to its root and depth in log-many self-joins — the
    * bounded-shuffle answer to "follow this pointer chain to the end"
    * that a recursive CTE (the oracle) answers with depth-many steps. */
  def hierarchy(spark: SparkSession, sfDir: String): DataFrame =
    Graph.rootsAndDepths(Graph.parentPointers(coPurchaseEdges(spark, sfDir)))
      .select(col("u").as("user_id"), col("root"), col("depth"))

  /** Multi-source BFS hop distance ([[graft.ext.Graph.bfsDistances]])
    * over the co-purchase graph: distance from the nearest seed user
    * (deterministic seed set: user_id divisible by 97) within 4 hops —
    * the k-hop-neighborhood / blast-radius primitive the other graph
    * queries don't cover (triangles = cohesion, PageRank = centrality,
    * hierarchy = chain resolution, BFS = reach). Unit-weight integer
    * hops, so the DuckDB oracle replays the same four relaxations
    * bit-exactly. */
  def bfsReach(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the edge scan once: the seed derivation and the
    // relaxation loop both read it (the heavy DERIVATION itself now
    // lives in the materialized co-purchase table, paid once per JVM).
    val edges = Materialize.once(coPurchaseEdges(spark, sfDir))
    val seeds = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct().filter(col("v") % 97 === 0)
    // bfsDistances eagerly materializes everything it keeps (the
    // undirected edge frame and each round's frontier), so the edges
    // handle is dead weight once it returns — free it here. The
    // RETURNED frame still reads its own final-round handle, freed by
    // the caller's Materialize.scope.
    val out = Graph.bfsDistances(edges, seeds, rounds = 4)
      .select(col("v").as("user_id"), col("dist"))
    Materialize.free(edges)
    out
  }

  /** k-core peeling ([[graft.ext.Graph.kCorePeel]]) over the co-purchase
    * graph: four rounds of "delete vertices with remaining-degree < 3",
    * reporting each user's peel round (periphery shells) or NULL for the
    * 3-core survivors — the cohesion LAYERING signal where triangles
    * give per-vertex cohesion and CC gives membership. Integer degree
    * arithmetic; the oracle unrolls the same four rounds. */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Materialize.once(coPurchaseEdges(spark, sfDir))
    val out = Graph.kCorePeel(edges, k = 3, rounds = 4)
      .select(col("v").as("user_id"), col("peeled_round"))
    Materialize.free(edges)
    out
  }

  /** Weighted shortest paths ([[graft.ext.Graph.ssspDistances]]) over the
    * co-purchase graph with tie-strength costs (w = max(1, 10 − shared)):
    * cheapest total cost from any seed user (user_id % 97 == 0) within 4
    * Bellman-Ford relaxations — the weighted twin of `x_bfs_reach`
    * (cheapest path ≠ fewest hops when strong ties are cheap). Long
    * arithmetic throughout; the oracle replays the same rounds. */
  def sssp(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Materialize.once(coPurchaseEdgesWeighted(spark, sfDir))
    val seeds = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct().filter(col("v") % 97 === 0)
    val out = Graph.ssspDistances(edges, seeds, rounds = 4)
      .select(col("v").as("user_id"), col("cost"))
    Materialize.free(edges)
    out
  }

  /** Winnowed-fingerprint rollup ([[Dedup.winnowedFingerprints]]): per
    * doc, its fingerprint count and how many fingerprints are shared
    * with another document — same shape as the CDC-chunk rollup, but
    * with MOSS's guarantee that any ≥ w+k-1-char substring match
    * surfaces. One fingerprint-keyed aggregation + one doc-keyed
    * rollup; fingerprinting itself never shuffles. */
  def winnowing(spark: SparkSession, sfDir: String): DataFrame = {
    val fpt = Dedup.winnowedFingerprints(docs(spark, sfDir))
    val ex = fpt.select(col("doc_id"), explode(col("fps")).as("fp"))
    // fps are per-doc distinct, so count(*) per fp IS document frequency
    val dfq = ex.groupBy("fp").agg(count(lit(1)).as("df"))
    val rolled = ex.join(dfq, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared_fps"))
    fpt.select("doc_id").join(rolled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"))
  }

  /** Skyline / Pareto frontier ([[graft.ext.Analytics.skyline2D]]):
    * orders that no other order beats on BOTH total price and recency —
    * the multi-criteria "best offers" query that otherwise needs a
    * quadratic dominance self-join. Windowed two-phase plan; oracle is
    * the literal NOT EXISTS dominance definition. */
  def skyline(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.skyline2D(
        Parity.table(spark, sfDir, "orders")
          .select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").cast(DoubleType).as("price"),
            col("o_orderdate").cast(StringType).as("odate")),
        x = "price", y = "odate")
      .select("o_orderkey", "price", "odate")

  /** Incremental view maintenance of a JOIN view — the batch form of the
    * algebra streaming IVM relies on: with base tables A, B and delta
    * batches ΔA, ΔB, the maintained view is
    * V' = (A⋈B) ∪ (ΔA⋈B) ∪ (A⋈ΔB) ∪ (ΔA⋈ΔB) — each delta term joins a
    * small batch against a base (broadcast/co-partitioned at scale), so
    * refreshing the view costs O(Δ·selectivity), never a full A⋈B
    * recompute. The oracle IS the full recompute over (A∪ΔA)⋈(B∪ΔB):
    * correctness means the four terms tile the full join exactly — no
    * duplicates, no gaps. Here A/ΔA split orders on a key residue and
    * B/ΔB split customer, so every term is non-empty and all four
    * cross-term shapes are exercised. */
  def ivmJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Parity.table(spark, sfDir, "orders")
    val cust = Parity.table(spark, sfDir, "customer")
    val a0 = orders.filter(col("o_orderkey") % 10 =!= 0)
    val da = orders.filter(col("o_orderkey") % 10 === 0)
    val b0 = cust.filter(col("c_custkey") % 7 =!= 0)
    val db = cust.filter(col("c_custkey") % 7 === 0)
    def term(x: DataFrame, y: DataFrame): DataFrame =
      x.join(y, x("o_custkey") === y("c_custkey"))
        .select(x("o_orderkey"), x("o_custkey"), y("c_name"),
          x("o_totalprice").cast("decimal(18,2)").cast(DoubleType).as("o_totalprice"))
    term(a0, b0).unionAll(term(da, b0))
      .unionAll(term(a0, db)).unionAll(term(da, db))
  }

  /** Custom DataSource V2 under the correctness gate
    * ([[graft.sources.SeqSource]]): the id-range predicate pushes into
    * the scan (partitions are planned over [1000, 2000] only — verified
    * by plan in SeqSourceSpec) and the projection reaches the reader.
    * The oracle regenerates the same deterministic sequence. */
  def dsv2Source(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("slices", "16").load()
      .filter(col("id") >= 1000L && col("id") <= 2000L)
      .select(col("id"), col("doc"))

  /** Higher-order collection functions as one per-doc suite: lambda
    * `filter`/`transform`/`exists`/`aggregate` (left fold), `zip_with`,
    * `slice`+`sort_array`+`array_distinct`. All codegen'd collection
    * expressions over a single scan — zero shuffles, zero UDFs: the
    * entire suite is one whole-stage-codegen projection, which is why
    * HOFs (not mapPartitions row loops) are the 100 TB way to do per-row
    * array work. Empty token lists fold to the literal 0 initial state,
    * matched by COALESCE in the oracle. */
  def collectionSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    docs(spark, sfDir)
      .withColumn("toks", toks)
      .withColumn("lens", transform(col("toks"), t => length(t).cast(LongType)))
      .select(
        col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(filter(col("toks"), t => length(t) > 5)).cast(LongType).as("n_long"),
        aggregate(col("lens"), lit(0L), (acc, v) => acc + v).as("total_len"),
        exists(col("toks"), t => t === lit("the")).as("has_the"),
        array_join(
          transform(slice(sort_array(array_distinct(col("toks"))), 1, 3),
            t => upper(t)), ",").as("top3"),
        aggregate(zip_with(col("lens"), reverse(col("lens")), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot"))
  }

  /** MapType surface: per-doc token→count maps built with
    * `map_from_entries`, then interrogated with the map function family
    * (size, element_at, map_filter, map_values + array folds) — reduced
    * to SCALAR columns so the oracle compares engine-neutral values
    * rather than map renderings. The map stays inside one row's
    * projection (codegen'd); only the token-count aggregation shuffles. */
  def mapSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    val counts = docs(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("n"))
    counts.groupBy("doc_id")
      .agg(map_from_entries(sort_array(collect_list(struct(col("t"), col("n")))))
        .as("m"))
      .select(col("doc_id"),
        size(col("m")).cast(LongType).as("n_distinct_tokens"),
        coalesce(element_at(col("m"), "the"), lit(0L)).as("the_count"),
        size(map_filter(col("m"), (_, v) => v >= 2L)).cast(LongType)
          .as("n_repeated"),
        aggregate(map_values(col("m")), lit(0L), (a, v) => a + v)
          .as("n_tokens_total"),
        array_max(map_values(col("m"))).as("max_count"))
  }

  /** Schema evolution on read (`mergeSchema`): two parquet batches with
    * different schemas — the later one added `n_chars` — union into one
    * frame with the old rows null-padded, the lakehouse ALTER-ADD-COLUMN
    * read path (no rewrite of the old batch; footer-level schema merge
    * only). The oracle re-derives both batches from `documents`. */
  def s17SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Parity.tmp("s17", sfDir)
    Parity.setupOnce("s17", sfDir) {
      val d = table(spark, sfDir, "documents")
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$dir/batch1")
      d.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/batch2")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/batch1", s"$dir/batch2")
      .select("doc_id", "lang", "n_chars")
  }

  /** Semi-structured columns through the VARIANT type: `parse_json`
    * binary-encodes each `props` payload ONCE, then every typed
    * `variant_get` is a cheap path lookup on the encoding — at 100 TB
    * this replaces N regex/string JSON parses per row with one parse +
    * N O(path) reads, and a malformed payload surfaces as a null via
    * `try_parse_json` instead of a task failure. The oracle reads the
    * same fields with DuckDB's JSON extraction. */
  def variantJson(spark: SparkSession, sfDir: String): DataFrame = {
    val v = try_parse_json(col("props"))
    Parity.events(spark, sfDir)
      .select(col("event_type"),
        variant_get(v, "$.k", "long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
  }

  /** Recursive CTE in Spark SQL (4.x): the SAME parent-forest walk the
    * `x_hierarchy` oracle runs, executed BY Spark this time — one
    * iteration per pointer-chain level, each a keyed join on the
    * frontier. The pointer-doubling twin ([[hierarchy]]) covers any
    * depth-d chain in log(d) self-joins and is the 100 TB shape; this
    * query pins the declarative SQL surface to the same result, the
    * asof-composed/asof-native pattern applied to iteration. */
  def recursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the parent pointers ONCE before recursing: each
    // recursion round re-evaluates the plan subtree it references, so
    // leaving the (self-join-heavy) edge derivation inside the CTE
    // re-pays it per chain level — measured 11 s vs 2 s at sf0.1.
    Materialize.once(Graph.parentPointers(coPurchaseEdges(spark, sfDir)))
      .createOrReplaceTempView("graft_rcte_parents")
    spark.sql(
      """WITH RECURSIVE
         walk(u, cur, d) AS (
           SELECT u, u, CAST(0 AS BIGINT) FROM graft_rcte_parents
           UNION ALL
           SELECT w.u, p.p, w.d + 1
           FROM walk w JOIN graft_rcte_parents p ON w.cur = p.u
           WHERE p.p <> p.u),
         resolved AS (
           SELECT u, cur, d,
             row_number() OVER (PARTITION BY u ORDER BY d DESC) AS rn
           FROM walk)
         SELECT u AS user_id, cur AS root, d AS depth
         FROM resolved WHERE rn = 1""")
  }

  /** Generator surface beyond plain explode: `posexplode` carries the
    * element ORDINAL through the flatten (order-sensitive downstream
    * logic — token position features, frame indexes — without a window
    * re-rank), and `stack` unpivots N metric columns into rows inside
    * the generate, no shuffle. Both stay whole-stage-codegen'd. */
  def generators(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    val first3 = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(slice(toks, 1, 3)))
      .select(col("doc_id"), lit("tok").as("metric"),
        col("pos").cast(LongType).as("pos"), col("col").as("value"))
    val metrics = docs(spark, sfDir)
      .select(col("doc_id"),
        expr("stack(2, 'lang', lang, 'source', source) AS (metric, value)"))
      .select(col("doc_id"), col("metric"), lit(-1L).as("pos"), col("value"))
    first3.unionAll(metrics)
  }

  // ------------------------------------------------- ML evaluation suite
  /** One-vs-rest ROC AUC per event_type, scored by `value`
    * ([[MlEval.aucOneVsRest]]): does the score still rank each class? */
  def aucOvr(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.aucOneVsRest(Parity.events(spark, sfDir), "event_type", "value")

  /** Precision–recall operating points for "is this a purchase" scored
    * by `value` ([[MlEval.prCurve]]) — integer-exact tp/fp/fn per
    * distinct threshold; the companion artifact to [[aucOvr]]. */
  def prCurveQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.prCurve(Parity.events(spark, sfDir),
      col("event_type") === "purchase", "value")

  /** Split-conformal 90% nonconformity threshold per event type
    * ([[MlEval.conformalThreshold]]) — integer rank selection only. */
  def conformalQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.conformalThreshold(Parity.events(spark, sfDir),
      "event_type", "value")

  /** Pairwise Pearson correlation of hourly activity between event
    * types ([[MlEval.corrMatrix]]) — integer cross-moments, one
    * mirrored sqrt·sqrt division. */
  def corrMatrixQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.corrMatrix(Parity.events(spark, sfDir), "event_type")

  /** Two-sample KS drift per event_type between the even/odd event_id
    * halves ([[MlEval.ksDrift]]) — the reference-vs-current split every
    * drift monitor uses, made deterministic. */
  def ksDriftQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.ksDrift(Parity.events(spark, sfDir), "event_type", "value",
      pmod(col("event_id"), lit(2L)) === 0L)

  /** Reliability bins for "did a purchase happen" against the value
    * score, 50-unit bins ([[MlEval.calibrationBins]]). */
  def calibrationQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.calibrationBins(Parity.events(spark, sfDir),
      col("event_type") === "purchase", "value", binWidthCenti = 5000L)

  /** PSI inputs (rational, un-logged) per event_type and 50-unit value
    * bin over the even/odd split ([[MlEval.psiBins]]). */
  def psiBinsQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.psiBins(Parity.events(spark, sfDir), "event_type", "value",
      pmod(col("event_id"), lit(2L)) === 0L, binWidthCenti = 5000L)

  /** Chi-square association + Cramér's V between event_type and the
    * 50-unit value bucket ([[MlEval.chiSquare]]). */
  def cramersVQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.chiSquare(
      Parity.events(spark, sfDir).select(col("event_type"),
        floor(col("value") / lit(50.0)).cast(LongType).as("value_bin")),
      "event_type", "value_bin")

  /** Per-user event-type concentration (HHI / Simpson diversity)
    * ([[MlEval.categoricalConcentration]]) — a behavioral-mix feature. */
  def simpsonQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.categoricalConcentration(Parity.events(spark, sfDir),
      "user_id", "event_type")

  /** Consecutive 3-event behavioral patterns with occurrence and user
    * support ([[Analytics.seqPatterns]]). */
  def seqPatternsQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.seqPatterns(Parity.events(spark, sfDir))

  /** Rolling z-score anomalies per event_type over the trailing 100
    * events ([[Analytics.rollingAnomaly]]; centi-unit scores keep the
    * moments integer-exact). z > 1.5 on roughly-uniform telemetry flags
    * the tails — the threshold is the caller's dial. */
  def rollingAnomalyQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.rollingAnomaly(
      Parity.events(spark, sfDir).select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("tse"),
        round(col("value") * 100.0, 0).cast(LongType).as("s")),
      group = "event_type", order = Seq("tse", "event_id"), xCol = "s",
      lookback = 100, minN = 30, zThresh = 1.5)

  /** EWMA (α = ½) level per event_type over the hourly value series
    * ([[Analytics.ewmaLevels]]) — serial-fold smoothing, bit-portable. */
  def ewmaQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.ewmaLevels(Parity.events(spark, sfDir))

  /** RFM quintile segmentation per user ([[Analytics.rfmScores]]). */
  def rfmQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.rfmScores(Parity.events(spark, sfDir))

  /** One-sided CUSUM changepoint line per event_type over hourly value
    * totals ([[Analytics.cusum]] — closed-form, all-integer). */
  def cusumQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.cusum(Parity.events(spark, sfDir))

  /** Kaplan–Meier churn-survival curve over user activity spans
    * ([[Analytics.kaplanMeier]]): a user whose last event precedes the
    * corpus end by ≥ 1 day is an observed churn at their last active
    * day (duration = first→last activity; the 1-day horizon keeps the
    * curve non-empty at every probed SF — the events corpus spans ~30
    * days, so a ≥7-day horizon censored EVERY sf0.01 user and the
    * oracle gate was vacuous); later-active users are
    * right-censored at observation end. Durations are integer days so
    * the risk-set arithmetic is exact; the survival product folds the
    * sorted factor list left-to-right on both engines (DuckDB
    * list_reduce mirrors the Spark `aggregate` fold order), making the
    * double column bit-comparable. */
  def kaplanMeierQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val ev = Parity.events(spark, sfDir)
    val end = ev.groupBy().agg(to_date(max("ts")).as("obs_end"))
    val subj = ev.groupBy("user_id")
      .agg(to_date(min("ts")).as("first_d"), to_date(max("ts")).as("last_d"))
      .crossJoin(broadcast(end))
      .select(
        when(datediff(col("obs_end"), col("last_d")) >= 1,
          datediff(col("last_d"), col("first_d")))
          .otherwise(datediff(col("obs_end"), col("first_d")))
          .cast(LongType).as("dur"),
        (datediff(col("obs_end"), col("last_d")) >= 1).as("churned"))
    Analytics.kaplanMeier(subj, "dur", "churned")
  }

  /** Count-Min frequency estimates vs exact counts over the purchase-key
    * stream ([[graft.functions.CmsSketch]], depth 3 × width 64 — narrow
    * enough that ~100 keys collide, so the overcount column is a live
    * demonstration of the one-sided error bound). The estimate reads the
    * sketch grid with the SAME hash arithmetic the aggregate used; the
    * oracle rebuilds the grid from exact per-key counts. */
  def cmsCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CmsSketch
    val P = lit(1000000007L)
    val keys = Parity.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast(LongType).as("key"))
      .filter(col("key").isNotNull)
    val sk = keys.agg(CmsSketch(col("key"), 3, 64).as("cells"))
    val exact = keys.groupBy("key").agg(count(lit(1)).as("exact"))
    val est = (0 until 3).map { i =>
      element_at(col("cells"),
        (pmod(pmod(col("key"), P) * lit(2L * i + 1) + lit(i.toLong), P)
          % lit(64L)).cast("int") + lit(i * 64 + 1))
    }.reduce(least(_, _))
    exact.crossJoin(broadcast(sk))
      .select(col("key"), col("exact"), est.as("est"))
      .withColumn("overcount", col("est") - col("exact"))
  }

  /** Per-class precision/recall/F1 against a deterministic value-bucket
    * prediction rule ([[MlEval.classificationReport]]). */
  def confusionQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = expr(
      "CASE CAST(FLOOR(value / 100.0) AS BIGINT) " +
        "WHEN 0 THEN 'click' WHEN 1 THEN 'view' WHEN 2 THEN 'purchase' " +
        "WHEN 3 THEN 'signup' ELSE 'error' END")
    MlEval.classificationReport(
      Parity.events(spark, sfDir)
        .select(col("event_type").as("actual"), pred.as("predicted")),
      "actual", "predicted")
  }

  /** Centroid-silhouette separation per label bucket
    * ([[Similarity.silhouetteMargin]]) — the inter-cluster complement of
    * `x_label_cohesion`. */
  def silhouetteQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.silhouetteMargin(emb(spark, sfDir))

  /** Newman modularity of the (user % 4) partition over the co-purchase
    * graph ([[Graph.modularity]]) — the quality metric for a community
    * assignment; the deterministic partition keeps the oracle exact. */
  def modularityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sfDir)
    val nodes = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v"))).distinct()
    Graph.modularity(edges,
      nodes.select(col("v"), pmod(col("v"), lit(4L)).as("community")))
  }

  /** Sidecar-statistics-driven broadcast join — the ANALYZE → plan-time
    * CBO read path ([[graft.core.TableCatalog.analyzeNdv]] →
    * [[graft.plans.NdvBroadcastRule]]): the orders dim lands in a
    * versioned catalog table, ANALYZE persists the HLL register sidecar
    * plus a plan-time summary (exact row count + merged NDV), and the
    * fact join's dim side — filtered to ONE of o_orderstatus's 3
    * distinct values — is costed n_rows/NDV instead of raw file bytes,
    * flipping the join to broadcast from statistics alone (size-only
    * planning keeps a Filter at full child size, so it can never see
    * this; PlanShapeSpec pins the flip with auto-broadcast disabled,
    * this row pins the VALUES under the rule). */
  def ndvBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = ndvCatalogs.computeIfAbsent(sfDir, _ => {
      val c0 = new graft.core.TableCatalog(
        java.nio.file.Files.createTempDirectory("graft-ndv").toString)
      c0.overwrite(Parity.table(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        "tmp.ndv.orders")
      c0.analyzeNdv(spark, "tmp.ndv.orders", Seq("o_orderstatus"))
      c0
    })
    val dim = cat.read(spark, "tmp.ndv.orders")
      .filter(col("o_orderstatus") === "F")
    Parity.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast(DoubleType)
          .as("sum_qty"))
  }

  private val ndvCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, graft.core.TableCatalog]()

  /** Sidecar-statistics-driven join ORDERING — the second CBO read path
    * ([[graft.plans.NdvJoinOrderRule]]), on top of [[ndvBroadcast]]'s
    * broadcast decision: a fact ⋈ dim ⋈ dim chain written with the
    * UNSELECTIVE dim first (orders: PK join, fan-out 1.0 — shrinks
    * nothing) and the selective one second (part filtered by a
    * `p_retailprice` RANGE predicate the `_ndv_summary` min/max costs at
    * ~5%, fan-out ≈ 0.05). With both dims ANALYZEd, the rule reads row
    * count + HLL NDV + min/max from metadata alone and swaps the two
    * joins, so the 5% part filter prunes the fact stream BEFORE the
    * orders join instead of after — at 100 TB the difference between
    * joining 6B rows twice and joining 300M twice. The ORDER is a plan
    * property (pinned with its control in PlanShapeSpec); this row pins
    * that the reordered join computes exactly the declared semantics. */
  def statsJoinOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = joinOrderCatalogs.computeIfAbsent(sfDir, _ => {
      val c0 = new graft.core.TableCatalog(
        java.nio.file.Files.createTempDirectory("graft-jo").toString)
      c0.overwrite(Parity.table(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus"), "tmp.jo.orders")
      c0.analyzeNdv(spark, "tmp.jo.orders", Seq("o_orderkey"))
      c0.overwrite(Parity.table(spark, sfDir, "part")
        .select("p_partkey", "p_brand", "p_retailprice"), "tmp.jo.part")
      c0.analyzeNdv(spark, "tmp.jo.part", Seq("p_partkey", "p_retailprice"))
      c0
    })
    val ord = cat.read(spark, "tmp.jo.orders")
    val prt = cat.read(spark, "tmp.jo.part")
      .filter(col("p_retailprice") < 905.0)
    Parity.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(prt, col("l_partkey") === col("p_partkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast(DoubleType)
          .as("sum_qty"))
  }

  private val joinOrderCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, graft.core.TableCatalog]()

  // -------------------------------------------- clustering-quality eval
  /** Items with (pred, gold) cluster keys for entity-resolution
    * evaluation: gold clusters are the planted-copy identity
    * (doc_id % 100000 — a mirror doc and its source share it), predicted
    * clusters a deliberately IMPERFECT 16-char-prefix blocking key
    * (copies always agree on it, but unrelated docs sharing a prefix
    * collide), so both precision and recall have something to measure. */
  private def erItems(spark: SparkSession, sfDir: String): DataFrame =
    docsWithDups(spark, sfDir)
      .select(substring(col("text"), 1, 16).as("pred"),
        (col("doc_id") % 100000).as("gold"))

  /** SQL mirror of [[erItems]]'s input + cells (shared by the two ER
    * evaluation oracles). */
  private val erCellsCte =
    """all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
       cells AS MATERIALIZED (
         SELECT substr(text, 1, 16) AS pred, doc_id % 100000 AS gold,
           count(*) AS n
         FROM all_docs GROUP BY 1, 2)"""

  /** Pairwise precision/recall/F1 + ARI of the prefix-blocking
    * prediction against the planted-copy gold
    * ([[MlEval.pairwiseClusterMetrics]] — see there for the
    * integer-exactness argument). */
  def erPairwise(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.pairwiseClusterMetrics(erItems(spark, sfDir), "pred", "gold")

  /** Per-cluster B-cubed decomposition over the same (pred, gold) items
    * ([[MlEval.bcubedPerCluster]]). */
  def bcubedClusters(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.bcubedPerCluster(erItems(spark, sfDir), "pred", "gold")

  // ------------------------------------------------------ retrieval eval
  // NDCG@5 discount weights 1/log2(rank+1) and their cumulative sums as
  // SHARED decimal literals: both engines parse the same strings into
  // identical doubles, so no libm log enters either plan (the oracle
  // contract bans last-ulp-divergent transcendentals).
  private val ndcgW = Seq("1.0", "0.6309297535714574", "0.5",
    "0.43067655807339306", "0.38685280723454163")
  private val ndcgCum = Seq("1.0", "1.6309297535714573",
    "2.1309297535714573", "2.56160631164485", "2.948459118879392")

  /** NDCG@5 of the brute-force cosine retrieval ([[Similarity
    * .bruteForceTopK]]) with same-label as binary relevance — the
    * retrieval-quality complement of `x_ann_recall` (which scores the
    * ANN approximation against brute force; this scores brute force
    * against labels). DCG is a serial fold over the rank-sorted gains,
    * IDCG a literal-table lookup on the relevant count (ideal ranking
    * puts all hits first), NDCG one mirrored division. 20 query rows. */
  /** Shared ranked-relevance table for the retrieval-eval pair: the
    * brute-force cosine top-5 per query, rel = same-label. */
  private def relRanked(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val lab = e.select(col("vec_id"), col("label"))
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), 5)
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
        Seq("q_id"))
      .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")),
        Seq("n_id"))
      .select(col("q_id"), col("rank"),
        when(col("q_label") === col("n_label"), 1L).otherwise(0L).as("rel"))
  }

  def ndcgQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.ndcgBinary(relRanked(spark, sfDir), ndcgW, ndcgCum)

  /** MAP@5 companion of [[ndcgQ]] over the same ranked-relevance table
    * ([[MlEval.avgPrecisionBinary]]) — with x_auc, x_pr_curve,
    * x_ann_recall and x_ndcg this completes the retrieval-eval suite. */
  def mapEvalQ(spark: SparkSession, sfDir: String): DataFrame =
    MlEval.avgPrecisionBinary(relRanked(spark, sfDir))

  /** Mann–Kendall trend test per event-type hourly series (Mann 1945;
    * Kendall 1975) — the nonparametric "is this series trending" gate a
    * monitoring stack runs beside CUSUM's changepoint detector. S is the
    * signed pair count Σ_{i<j} sign(x_j − x_i) — pure integers, immune
    * to summation order; the tie-corrected variance stays integer as
    * var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5); the continuity-corrected
    * z-statistic is ONE mirrored sqrt+division chain. Pair space is
    * per-group O(T²) over the HOUR axis — bounded by time span, not data
    * volume, so the quadratic never meets corpus scale. */
  def mannKendallQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.mannKendall(
      Parity.events(spark, sfDir)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hr"))
        .agg(count(lit(1)).as("x")),
      "event_type", "hr", "x")
      .withColumnRenamed("n_points", "n_hours")

  /** Theil–Sen robust slope per event-type hourly series — the trend
    * ESTIMATE companion of [[mannKendallQ]]'s trend TEST
    * ([[Analytics.theilSen]]; median-of-pairwise-slopes is insensitive
    * to ~29% outliers where OLS is not). */
  def theilSenQ(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.theilSen(
      Parity.events(spark, sfDir)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hr"))
        .agg(count(lit(1)).as("x")),
      "event_type", "hr", "x")

  /** CUPED variance-reduction readout ([[MlEval.cuped]]): each user's
    * activity value split into interleaved even/odd-hour halves — the
    * even half plays the pre-period covariate, the odd half the
    * experiment metric (same user-level drives both, so ρ² is the
    * genuine variance a real covariate would remove). Centi-unit
    * integer sums per the house score convention. */
  def cupedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Parity.events(spark, sfDir)
      .select(col("user_id"),
        (expr("unix_timestamp(date_trunc('hour', ts)) div 3600") % 2)
          .as("half"),
        round(col("value") * lit(100.0), 0).cast(LongType).as("v"))
    MlEval.cuped(e.groupBy("user_id").agg(
      sum(when(col("half") === 0, col("v")).otherwise(0L)).as("x"),
      sum(when(col("half") === 1, col("v")).otherwise(0L)).as("y")))
  }

  /** Gini expression over the six split counts — ONE fixed arithmetic
    * string shared VERBATIM by both engines (Spark `expr` and DuckDB
    * parse the same CAST/arithmetic syntax, so the IEEE op order is
    * shared by construction, not by careful mirroring). */
  private val giniSql: String = {
    def side(nl: String, pl: String, n: String) =
      s"""(CAST($nl AS DOUBLE) / CAST($n AS DOUBLE)) *
          (1.0 - (CAST($pl AS DOUBLE) / CAST($nl AS DOUBLE)) *
                 (CAST($pl AS DOUBLE) / CAST($nl AS DOUBLE))
               - (CAST($nl - $pl AS DOUBLE) / CAST($nl AS DOUBLE)) *
                 (CAST($nl - $pl AS DOUBLE) / CAST($nl AS DOUBLE)))"""
    side("nl", "pl", "n") + " + " + side("nr", "pr", "n")
  }

  /** Best decision-stump split (CART-style weighted Gini impurity over
    * every candidate threshold) for "is this a purchase event" against
    * the centi-value feature — the simplest TRAINABLE model as an
    * engine primitive, and the feature-quality readout a feature store
    * runs per column. Cumulative class counts ride one window over
    * DISTINCT feature values (the prCurve shape — bounded by the value
    * domain, not the event count); each candidate's impurity is the
    * shared [[giniSql]] chain; the report is the 5 best splits by
    * (gini asc, threshold) via TakeOrdered. */
  def bestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Parity.events(spark, sfDir).select(
      round(col("value") * lit(100.0), 0).cast(LongType).as("v"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val per = e.groupBy("v").agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum(col("c")).as("n"), sum(col("p")).as("pp"))
    val cand = per
      .withColumn("nl", sum(col("c")).over(w))
      .withColumn("pl", sum(col("p")).over(w))
      .join(broadcast(tot))
      .filter(col("nl") < col("n"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("pp") - col("pl"))
      .withColumn("gini", expr(giniSql))
      .select(col("v").as("threshold"), col("nl"), col("pl"), col("nr"),
        col("pr"), col("gini"))
    cand.orderBy(col("gini"), col("threshold")).limit(5)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("gini"), col("threshold"))))
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement across
    * THREE deterministic raters per doc: the metadata lang, the
    * marker-stopword lang-id ([[langId]]'s stage), and the same
    * predictor over only the FIRST HALF of the tokens (the
    * truncated-evidence rater) — the weak-supervision health check
    * "do my labeling functions agree beyond chance". Everything is
    * integer until three mirrored divisions: per-doc Σ_j n_ij² collapses
    * CLOSED-FORM to 3 + 2·#equal-pairs (R = 3), so P̄ =
    * (Σssq − 3N)/(6N); P_e = Σ_j c_j²/(9N²) from the label marginals;
    * kappa = (P̄ − P_e)/(1 − P_e). One doc scan + a 6-row marginal. */
  def fleissKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val w = TextKit.words(col("text"))
    val base = docs(spark, sfDir).select(col("doc_id"),
      col("lang").as("r1"), w.as("w"))
      .withColumn("h",
        slice(col("w"), lit(1), expr("size(w) div 2").cast("int")))
    def scores(c: String, sfx: String) = langMarkers.map { case (l, ms) =>
      size(filter(col(c), x => x.isin(ms: _*))).cast(LongType).as(s"s_$l$sfx")
    }
    val scored = base.select(
      Seq(col("doc_id"), col("r1")) ++ scores("w", "") ++ scores("h", "_h"): _*)
    def pred(sfx: String) = {
      val m = greatest(langMarkers.map { case (l, _) => col(s"s_$l$sfx") }: _*)
      langMarkers.foldLeft(when(m === 0, "und")) {
        case (acc, (l, _)) => acc.when(col(s"s_$l$sfx") === m, l)
      }
    }
    MlEval.fleissKappa3(scored.select(col("doc_id"), col("r1"),
      pred("").as("r2"), pred("_h").as("r3")))
  }

  /** k-NN label-noise audit (Confident-Learning-lite): for each query
    * vector, the fraction of its 5 nearest neighbors carrying a
    * DIFFERENT label — aggregated per label as an integer ratio. High
    * noise_rate flags labels whose embedding neighborhoods disagree
    * with the annotation (mislabeled or genuinely ambiguous regions).
    * Brute-force ranking on the ≤100-query audit sample here; the
    * corpus-scale path routes candidates through the IVF cells like the
    * rest of the ANN family. */
  def knnLabelNoise(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val lab = e.select(col("vec_id"), col("label"))
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 100), 5)
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
        Seq("q_id"))
      .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")),
        Seq("n_id"))
      .groupBy(col("q_label").as("label"))
      .agg(countDistinct(col("q_id")).as("n_queries"),
        sum(when(col("n_label") =!= col("q_label"), 1L).otherwise(0L))
          .as("n_foreign"))
      .withColumn("noise_rate", col("n_foreign").cast(DoubleType) /
        (col("n_queries") * lit(5L)).cast(DoubleType))
  }

  // ------------------------------------------------- data selection (r9)
  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc by
    * how target-like its hashed n-gram feature distribution is, keep the
    * top-N. Features are hashed BIGRAM occurrences (64 buckets); the
    * target is the `lang = 'en'` slice, the raw distribution the whole
    * corpus. Where the paper uses the log-likelihood ratio
    * Σ c_b·log(p_t/p_r), this emits the UN-LOGGED linear form
    * Σ c_b·(p̂_t[b]/p̂_r[b]) with Laplace(+1) smoothing — the house
    * no-libm contract (`x_bm25` convention): each bucket ratio is
    * integer-products + ONE mirrored division, the per-doc score a
    * serial fold over its bucket-sorted terms.
    *
    * Scale shape: the 64-row ratio table is an aggregate + broadcast;
    * per-doc scoring is one groupBy(doc, bucket) + map-side fold; the
    * top-N runs as TakeOrderedAndProject (per-partition heaps), never a
    * global window. At 100 TB only the ratio table is shared state. */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 64
    val occ = Materialize.once(docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(TextKit.wordNgrams(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        (TextKit.polyHash(col("g")) % B).as("b")))
    val ratios = occ.groupBy("b").agg(
      count(lit(1)).as("nr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
    val tot = ratios.agg(sum("nr").as("dr"), sum("nt").as("dt"))
    // Factors cast to double BEFORE the product (identical IEEE order in
    // the oracle): (nt+1)*(dr+64) as unchecked BIGINT would wrap silently
    // in Spark while DuckDB raises — a latent parity break at extreme
    // corpus scale when total bigram occurrences approach ~9e18/nt.
    val rt = ratios.join(broadcast(tot))
      .select(col("b"),
        ((col("nt") + 1).cast(DoubleType) * (col("dr") + B).cast(DoubleType) /
          ((col("nr") + 1).cast(DoubleType) *
            (col("dt") + B).cast(DoubleType))).as("ratio"))
    val scored = occ.groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(rt), Seq("b"))
      .withColumn("term", col("c").cast(DoubleType) * col("ratio"))
      .groupBy("doc_id", "lang")
      .agg(aggregate(sort_array(collect_list(struct(col("b"), col("term")))),
        lit(0.0), (a, x) => a + x.getField("term")).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(100)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
  }

  /** Greedy k-center coreset over the embeddings
    * ([[Similarity.kCenterSelect]], k = 6): the diversity-selection
    * complement of the dedup family — 7 rows (seed + 6 picks) with the
    * non-increasing coverage-radius sequence. The oracle replays the
    * identical incremental-min rounds as unrolled CTE layers (the
    * `x_ann_ivf_trained` convention). */
  def kcenterSelect(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kCenterSelect(
      emb(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      6)

  /** Jaro-Winkler scoring of the SNM candidate pairs through the NATIVE
    * codegen expression ([[graft.functions.JaroWinkler]]) — the
    * approximate-string comparator the ER stack uses where edit distance
    * over-penalizes transpositions. The oracle runs DuckDB's OWN
    * `jaro_winkler_similarity` builtin, so two independent
    * implementations of the algorithm cross-validate bit-for-bit (the
    * strongest oracle form in the contract — not a mirrored formula but
    * a second engine's native code). Candidates come from the
    * sorted-neighborhood blocker (O(N·w), never N²); the comparator is
    * a per-row scalar inside whole-stage codegen. */
  def jaroWinklerQ(spark: SparkSession, sfDir: String): DataFrame = {
    val u = docsWithDups(spark, sfDir)
    val cands = snmCandidates(
      u.select(col("doc_id"), substring(col("text"), 1, 12).as("k")))
    def side(p: String) = u.select(col("doc_id").as(p),
      substring(col("text"), 1, 32).as(s"s$p"))
    cands.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.JaroWinkler(col("sa"), col("sb")).as("jw"))
      .filter(col("jw") >= lit("0.85").cast(DoubleType))
  }

  /** DoReMi-style mixture reweighting over sources
    * ([[Mixture.multiplicativeWeights]], 3 rounds, η = 0.5, clip to
    * [0.01, 0.2]): the excess-loss proxy is each source's
    * tokens-per-doc relative to the corpus mean (two mirrored
    * divisions) — at real scale this column would come from a proxy
    * model's per-domain loss; the REWEIGHTING machinery is what's
    * under test. Output: one row per source with the loss signal and
    * the round-3 normalized weight. */
  def doremiMix(spark: SparkSession, sfDir: String): DataFrame = {
    val st = docs(spark, sfDir)
      .select(col("source"),
        size(TextKit.words(col("text"))).cast(LongType).as("tok"))
      .groupBy("source")
      .agg(sum(col("tok")).as("n_tokens"), count(lit(1)).as("n_docs"))
    val tot = st.agg(sum("n_tokens").as("ttok"), sum("n_docs").as("tnd"))
    val lam = st.join(broadcast(tot))
      .withColumn("lam",
        (col("n_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType)) /
          (col("ttok").cast(DoubleType) / col("tnd").cast(DoubleType)))
      .drop("ttok", "tnd")
    Mixture.multiplicativeWeights(lam, "source", "lam", 3, 0.5, 0.01, 0.2)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("lam"),
        col("w").as("weight"))
  }

  /** Unrolled-round mirror of [[doremiMix]]. */
  private def doremiSql(rounds: Int): String = {
    val upd = """LEAST(GREATEST(w * (1.0 + CAST('0.5' AS DOUBLE) * (lam - 1.0)),
          CAST('0.01' AS DOUBLE)), CAST('0.2' AS DOUBLE))"""
    val roundCtes = (1 to rounds).map { r =>
      s"""r$r AS (SELECT *, $upd AS raw FROM w${r - 1}),
          z$r AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
              list(raw ORDER BY source)), (a, b) -> a + b) AS z FROM r$r),
          w$r AS (SELECT source, n_tokens, n_docs, lam, raw / z AS w
                  FROM r$r CROSS JOIN z$r)"""
    }.mkString(",\n        ")
    s"""WITH st AS MATERIALIZED (
          SELECT source,
            CAST(SUM(len($W)) AS BIGINT) AS n_tokens,
            count(*) AS n_docs
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS ttok,
                  CAST(SUM(n_docs) AS BIGINT) AS tnd FROM st),
        lam AS MATERIALIZED (
          SELECT source, n_tokens, n_docs,
            (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)) /
              (CAST(ttok AS DOUBLE) / CAST(tnd AS DOUBLE)) AS lam
          FROM st CROSS JOIN tot),
        cnt AS (SELECT count(*) AS s FROM lam),
        w0 AS (SELECT source, n_tokens, n_docs, lam,
            1.0 / CAST(s AS DOUBLE) AS w
          FROM lam CROSS JOIN cnt),
        $roundCtes
        SELECT source, n_docs, n_tokens, lam, w AS weight FROM w$rounds"""
  }

  /** Phrase search through a POSITIONAL inverted index: tokenize to
    * (term, doc_id, pos) postings, then match an n-word phrase as a
    * chain of (doc_id, pos + i) adjacency self-joins — the classic
    * positional-index query plan (Manning et al., IR ch. 2), which
    * scales to any phrase length without materializing n-grams. The
    * phrase under test is data-derived (the corpus's top trigram, ties
    * → lexicographic), broadcast into the postings scan so only
    * matching postings enter the adjacency joins; each join is
    * equi-keyed on (doc_id, pos), so the pair space is the phrase's
    * own postings, never the corpus. */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val parts = d.select(explode(TextKit.wordNgrams(col("text"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g")).limit(1)
      .select(split(col("g"), " ").as("ps"))
      .select(element_at(col("ps"), 1).as("w1"),
        element_at(col("ps"), 2).as("w2"),
        element_at(col("ps"), 3).as("w3"))
    val tk = d.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    def idx(p: String) = tk.select(col("doc_id").as(s"d$p"),
      col("pos").as(s"p$p"), col("term").as(s"t$p"))
    tk.join(broadcast(parts), col("term") === col("w1"))
      .join(idx("b"), col("db") === col("doc_id") &&
        col("pb") === col("pos") + 1 && col("tb") === col("w2"))
      .join(idx("c"), col("dc") === col("doc_id") &&
        col("pc") === col("pos") + 2 && col("tc") === col("w3"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"))
  }

  /** Unrolled-round mirror of [[Similarity.kCenterSelect]]. */
  private def kcenterSql(k: Int): String = {
    def d2(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(generate_series(1, len($a)), i ->
              (($a[i] - $b[i]) * ($a[i] - $b[i])))),
          (acc, v) -> acc + v)"""
    val rounds = (1 to k).map { r =>
      val dist =
        if (r == 1)
          s"""d1 AS MATERIALIZED (
                SELECT p.vec_id, p.v, ${d2("p.v", "c.v")} AS d
                FROM p CROSS JOIN c0 c)"""
        else
          s"""d$r AS MATERIALIZED (
                SELECT x.vec_id, x.v, LEAST(x.d, ${d2("x.v", "c.v")}) AS d
                FROM d${r - 1} x CROSS JOIN p${r - 1} c)"""
      s"""$dist,
          p$r AS MATERIALIZED (
            SELECT vec_id, v, d FROM d$r ORDER BY d DESC, vec_id LIMIT 1)"""
    }.mkString(",\n        ")
    val unions = (1 to k).map { r =>
      s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, d FROM p$r"
    }.mkString("\n        ")
    s"""WITH p AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS MATERIALIZED (SELECT vec_id, v FROM p ORDER BY vec_id LIMIT 1),
        $rounds
        SELECT CAST(0 AS BIGINT) AS round, vec_id, CAST(NULL AS DOUBLE) AS radius
        FROM c0
        $unions"""
  }

  // ---------------------------------------------------------- queries map
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_er_pairwise" -> erPairwise _,
    "x_bcubed_clusters" -> bcubedClusters _,
    "x_ndcg" -> ndcgQ _,
    "x_dsir_select" -> dsirSelect _,
    "x_kcenter_select" -> kcenterSelect _,
    "x_doremi_mix" -> doremiMix _,
    "x_phrase_search" -> phraseSearch _,
    "x_jaro_winkler" -> jaroWinklerQ _,
    "x_map_eval" -> mapEvalQ _,
    "x_mann_kendall" -> mannKendallQ _,
    "x_fleiss_kappa" -> fleissKappa _,
    "x_knn_label_noise" -> knnLabelNoise _,
    "x_theil_sen" -> theilSenQ _,
    "x_cuped" -> cupedQ _,
    "x_best_split" -> bestSplit _,
    "x_ndv_broadcast" -> ndvBroadcast _,
    "x_stats_join_order" -> statsJoinOrder _,
    "x_pr_curve" -> prCurveQ _,
    "x_conformal" -> conformalQ _,
    "x_corr_matrix" -> corrMatrixQ _,
    "x_weighted_quantile" -> weightedQuantile _,
    "x_attribution" -> attributionQ _,
    "x_vocab_growth" -> vocabGrowth _,
    "x_link_predict" -> linkPredictQ _,
    "x_kmv_overlap" -> kmvOverlap _,
    "x_systematic_sample" -> systematicSampleQ _,
    "x_auc" -> aucOvr _,
    "x_ks_drift" -> ksDriftQ _,
    "x_calibration" -> calibrationQ _,
    "x_psi_bins" -> psiBinsQ _,
    "x_cramers_v" -> cramersVQ _,
    "x_simpson" -> simpsonQ _,
    "x_seq_patterns" -> seqPatternsQ _,
    "x_rolling_anomaly" -> rollingAnomalyQ _,
    "x_ewma" -> ewmaQ _,
    "x_rfm" -> rfmQ _,
    "x_modularity" -> modularityQ _,
    "x_confusion" -> confusionQ _,
    "x_silhouette" -> silhouetteQ _,
    "x_cms_counts" -> cmsCounts _,
    "d_ppjoin" -> ppjoinJaccard _,
    "x_cusum" -> cusumQ _,
    "x_kaplan_meier" -> kaplanMeierQ _,
    "x_langid_eval" -> langIdEval _,
    "x_generators" -> generators _,
    "x_collection_suite" -> collectionSuite _,
    "x_map_suite" -> mapSuite _,
    "s17_schema_evolution" -> s17SchemaEvolution _,
    "x_variant_json" -> variantJson _,
    "x_recursive_cte" -> recursiveCte _,
    "x_token_stats" -> tokenStats _,
    "x_quality_score" -> qualityScore _,
    "x_lang_id" -> langId _,
    "x_fingerprint" -> fingerprint _,
    "x_simhash_docs" -> simhashDocs _,
    "d_exact_dedup" -> exactDedup _,
    "d_ngram_jaccard" -> ngramJaccard _,
    "d_jaccard_capped" -> jaccardCapped _,
    "d_containment" -> containmentDup _,
    "d_minhash_lsh" -> minhashLsh _,
    "d_minhash_fidelity" -> minhashFidelity _,
    "x_dedup_impact" -> dedupImpact _,
    "x_cross_source_dup" -> crossSourceDup _,
    "x_ngram_novelty" -> ngramNovelty _,
    "x_epoch_plan" -> epochPlan _,
    "x_decontaminate" -> decontaminate _,
    "m_image_probe" -> imageProbe _,
    "m_image_hash" -> imageHash _,
    "m_image_neardup" -> imageNearDup _,
    "m_image_incremental" -> imageIncremental _,
    "m_audio_fp" -> audioFp _,
    "m_video_stats" -> videoStatsQ _,
    "m_audio_probe" -> audioProbe _,
    "m_video_probe" -> videoProbe _,
    "d_simhash_pairs" -> simhashPairs _,
    "d_embed_neardup" -> embedNearDup _,
    "x_ann_topk" -> annTopK _,
    "x_hard_negatives" -> hardNegativesQ _,
    "x_ann_topk_agg" -> annTopKAgg _,
    "x_ann_ivf" -> annIvf _,
    "x_ann_ivf_trained" -> annIvfTrained _,
    "x_ann_pq" -> annPq _,
    "m_media_meta" -> mediaMeta _,
    "m_frame_sample" -> frameSample _,
    "x_event_window" -> eventWindow _,
    "x_ohlc_bars" -> ohlcBars _,
    "x_sessionize" -> sessionize _,
    "x_ngram_freq" -> ngramFreq _,
    "x_percentiles" -> percentiles _,
    "x_ann_lsh" -> annLsh _,
    "x_ann_recall" -> annRecallQ _,
    "x_curation_pipeline" -> curationPipeline _,
    "x_quality_funnel" -> qualityFunnel _,
    "x_curation_cc" -> curationCc _,
    "x_asof_join" -> asofJoin _,
    "x_asof_native" -> asofNative _,
    "x_asof_broadcast" -> asofBroadcast _,
    "x_asof_forward" -> asofForward _,
    "x_bucketed_join" -> bucketedJoin _,
    "x_orc_scan" -> orcScan _,
    "d_dup_clusters" -> dupClusters _,
    "d_incremental" -> incrementalDedup _,
    "d_line_dedup" -> lineDedup _,
    "d_span_coverage" -> spanCoverageQ _,
    "d_semantic_keep" -> semanticKeep _,
    "x_token_budget_mix" -> tokenBudgetMix _,
    "x_temperature_mix" -> temperatureMix _,
    "x_shard_plan" -> shardPlanQ _,
    "x_sampled_quantiles" -> sampledQuantiles _,
    "x_rrf_fusion" -> rrfFusion _,
    "x_autocorr" -> autocorrQ _,
    "x_label_cohesion" -> labelCohesion _,
    "x_salted_agg" -> saltedAgg _,
    "x_salted_join" -> saltedJoinQ _,
    "x_bpe_tokens" -> bpeTokens _,
    "x_bpe_train" -> bpeTrain _,
    "x_bpe_encode" -> bpeEncodeQ _,
    "x_lm_score" -> lmScore _,
    "x_repetition" -> repetition _,
    "x_range_join" -> rangeJoin _,
    "x_range_native" -> rangeNative _,
    "x_overlap_join" -> overlapIntervals _,
    "x_pii_scrub" -> piiScrub _,
    "x_pivot" -> pivotStatus _,
    "x_stratified_sample" -> stratifiedSample _,
    "x_aqp_sample" -> aqpSample _,
    "x_train_val_split" -> trainValSplit _,
    "x_resample" -> resampleFfill _,
    "x_gap_fill" -> gapFillInterp _,
    "x_group_topk" -> groupTopK _,
    "x_chunk_docs" -> (chunkDocs(_, _)),
    "x_pack_sequences" -> (packSequences(_, _)),
    "x_cohort_retention" -> cohortRetention _,
    "x_event_funnel" -> eventFunnel _,
    "x_concurrency" -> concurrencyPeaks _,
    "x_interval_union" -> intervalCoverage _,
    "x_user_state" -> userState _,
    "st_scd2_sink" -> scd2SinkTwin _,
    "st_mv_refresh" -> mvRefreshTwin _,
    "st_drift_stream" -> driftStreamTwin _,
    "x_session_features" -> sessionFeatures _,
    "x_mode" -> modePerGroup _,
    "x_growth_accounting" -> growthAccounting _,
    "x_transitions" -> eventTransitions _,
    "x_rolling_actives" -> rollingActives _,
    "x_benford" -> benfordDigits _,
    "x_burstiness" -> burstiness _,
    "x_ttr" -> typeTokenRatio _,
    "x_concentration" -> revenueConcentration _,
    "x_stage_latency" -> stageLatency _,
    "x_date_spine" -> dateSpineRollup _,
    "x_reservoir" -> (reservoirSample(_, _)),
    "x_quantile_norm" -> quantileNorm _,
    "x_lift" -> coOccurrenceLift _,
    "d_edit_distance" -> editDistance _,
    "x_profile" -> profileOrders _,
    "x_outliers" -> lengthOutliers _,
    "x_regression" -> regressionFit _,
    "x_data_card" -> dataCard _,
    "x_decay_features" -> decayFeatures _,
    "m_binary_scan" -> binaryScan _,
    "x_tfidf" -> tfidfTop _,
    "x_bm25" -> bm25 _,
    "x_mad_outliers" -> madOutliers _,
    "x_drift" -> drift _,
    "x_row_number" -> rowNumberShards _,
    "x_sorted_blocking" -> sortedBlocking _,
    "x_fs_weights" -> fsWeights _,
    "x_fs_em" -> fsEm _,
    "x_blocking_audit" -> blockingAudit _,
    "x_golden_record" -> goldenRecord _,
    "x_label_prop" -> labelProp _,
    "x_integrity_audit" -> integrityAudit _,
    "x_target_encode" -> targetEncode _,
    "x_seasonal" -> seasonalDecompose _,
    "x_kmv_distinct" -> kmvDistinct _,
    "x_hll_distinct" -> hllDistinct _,
    "x_hll_union" -> hllUnionRollup _,
    "x_eq_depth_hist" -> eqDepthHist _,
    "x_session_window" -> sessionWindow _,
    "x_heavy_hitters" -> heavyHitters _,
    "x_vocab_encode" -> (vocabEncode(_, _)),
    "d_cdc_chunks" -> cdcChunks _,
    "x_bloom_prune" -> bloomPrune _,
    "x_triangles" -> triangles _,
    "x_pagerank" -> pagerank _,
    "x_bfs_reach" -> bfsReach _,
    "x_kcore" -> kcore _,
    "x_sssp" -> sssp _,
    "x_ivm_join" -> ivmJoin _,
    "d_winnowing" -> winnowing _,
    "x_skyline" -> skyline _,
    "x_hierarchy" -> hierarchy _,
    "x_dsv2_source" -> dsv2Source _)

  // ----------------------------------------------------------- oracle SQL
  // Shared SQL fragments (DuckDB dialect), mirroring TextKit/DuckSql.
  private val W = "string_split(text, ' ')"

  /** Shared by x_asof_join (composed) and x_asof_native (custom exec):
    * one oracle, two execution strategies. */
  private val asofOracle =
    """WITH p AS (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, MAX(event_id) AS click_id,
                 arg_max(value, event_id) AS click_value
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       SELECT p.user_id, p.event_id,
         CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS tse,
         c.click_id,
         CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS click_tse,
         c.click_value,
         CAST(FLOOR(epoch(p.ts)) AS BIGINT)
           - CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS gap_s
       FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""
  /** CTE fragments mirroring [[graft.ext.Similarity.semanticNearDupPairs]]
    * over the `ne` (normed embeddings) CTE: adaptive LSH bit count `b`
    * from corpus size (integer doubling count, no libm), 4 hash tables at
    * plane offset 37·t, candidate pairs within (table, label, cell),
    * exact-cosine verified once per DISTINCT pair. Shared by the
    * d_semantic_keep and d_embed_neardup oracles so both replay the SAME
    * candidate-bounded routing the engine runs — never an all-pairs scan. */
  private def semPairCtes(threshold: String): String = {
    def comp(p: String, i: String) =
      s"(CAST((($p*64 + $i) * 2654435761) % 1000000007 AS DOUBLE) / 1000000007.0 - 0.5)"
    val planeDot =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(generate_series(1, len(embedding)), i ->
              CAST(embedding[i] AS DOUBLE) * ${comp("(j + tbl*37)", "i")})),
          (acc, v) -> acc + v)"""
    val bucket =
      s"""list_reduce(list_prepend(0::BIGINT,
            list_transform(generate_series(0, b - 1), j ->
              CASE WHEN $planeDot >= 0 THEN CAST(POW(2.0, j) AS BIGINT) ELSE 0 END)),
          (a, v) -> a + v)"""
    s"""bb AS (SELECT len(list_filter(generate_series(0, 29), j ->
             CAST(POW(2.0, j) AS BIGINT) < r)) AS b
           FROM (SELECT (nn + ll*50 - 1) // (ll*50) AS r FROM
             (SELECT count(*) AS nn, count(DISTINCT label) AS ll FROM ne))),
        bk AS MATERIALIZED (
          SELECT tbl, vec_id, label, embedding, nrm, $bucket AS bkt
          FROM ne CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS tbl)
                  CROSS JOIN bb),
        p AS MATERIALIZED (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
            ${dotD("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
          FROM bk x JOIN bk y ON x.tbl = y.tbl AND x.label = y.label
            AND x.bkt = y.bkt AND x.vec_id < y.vec_id
          WHERE ${dotD("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
            >= $threshold)"""
  }
  private def listSum(l: String) =
    s"list_reduce(list_prepend(0::BIGINT, $l), (a, b) -> a + b)"
  private def dotD(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(generate_series(1, len($a)), i ->
            CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
        (acc, v) -> acc + v)"""
  /** CTE computing per-doc distinct trigram shingles + counts. */
  /** Co-purchase graph shared by x_triangles / x_pagerank: users joined
    * by ≥5 common purchase keys; `edges` has (a, b) with a < b. */
  // MATERIALIZED: DuckDB inlines a CTE at every reference, and the
  // unrolled graph rounds reference their predecessor twice — without
  // materialization the edge build re-inlines once per reference per
  // round (exponential; the r7 sf1 campaign timed five of these oracles
  // out at >240 s; materialized they run in seconds).
  private val coPurchaseCte =
    """uk0 AS (
         SELECT DISTINCT user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE event_type = 'purchase'),
       uk1 AS (
         SELECT user_id, k FROM uk0
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY k) <= 1024),
       uk AS MATERIALIZED (
         SELECT user_id, k FROM uk1
         QUALIFY row_number() OVER (PARTITION BY k ORDER BY user_id) <= 256),
       edges AS MATERIALIZED (
         SELECT x.user_id AS a, y.user_id AS b, count(*) AS shared
         FROM uk x JOIN uk y ON x.k = y.k AND x.user_id < y.user_id
         GROUP BY 1, 2 HAVING count(*) >= 5)"""

  private val shingleCte =
    s"""sh AS (
          SELECT doc_id, ${DuckSql.wordShingles("w", 3)} AS shingles
          FROM (SELECT doc_id, $W AS w FROM documents)),
        shc AS (SELECT doc_id, shingles, len(shingles) AS nsh FROM sh),
        ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)"""
  /** CTE fragment applying the hot-shingle df cap to an existing `ex`
    * postings CTE: rare postings (`exr`, df <= 100) + per-doc rare
    * counts (`nr`) — mirrors [[graft.ext.Dedup.jaccardPairsCapped]]. */
  private val cappedCte =
    s"""dfreq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
        exr AS (SELECT ex.doc_id, ex.shingle FROM ex
                JOIN dfreq USING (shingle) WHERE dfreq.df <= 100),
        nr AS (SELECT doc_id, count(*) AS nsh FROM exr GROUP BY 1)"""
  private def jaccardSql(threshold: String) =
    s"""WITH $shingleCte,
        pairs AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
          FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT a, b, inter, ca.nsh AS na, cb.nsh AS nb,
          CAST(inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - inter AS DOUBLE) AS jaccard
        FROM pairs
        JOIN shc ca ON pairs.a = ca.doc_id
        JOIN shc cb ON pairs.b = cb.doc_id
        WHERE CAST(inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - inter AS DOUBLE) >= $threshold"""
  /** Shared mirror of [[relRanked]]: brute-force top-5 ranking + binary
    * same-label relevance (consumed by the x_ndcg / x_map_eval pair). */
  private lazy val retrievalRelCte =
    s"""$normCte,
        ranked AS (
          SELECT q_id, n_id, rank FROM (
            SELECT q.vec_id AS q_id, v.vec_id AS n_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm)
                  DESC, v.vec_id) AS rank
            FROM ne q JOIN ne v ON q.vec_id != v.vec_id
            WHERE q.vec_id < 20)
          WHERE rank <= 5),
        j AS (SELECT r.q_id, r.rank,
            CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END AS rel
          FROM ranked r JOIN ne lq ON r.q_id = lq.vec_id
                        JOIN ne ln ON r.n_id = ln.vec_id)"""

  /** CTE with embeddings + serial-fold norms. */
  private val normCte =
    s"""ne AS MATERIALIZED (SELECT vec_id, label, embedding,
          sqrt(${dotD("embedding", "embedding")}) AS nrm
        FROM embeddings)"""

  /** Unrolled exact-fold Lloyd iterations mirroring
    * [[graft.ext.Similarity.trainedAssignments]]: every float reduction
    * is a serial left-fold in a deterministic order (vec_id for
    * per-dimension means, pos for norms), so each CTE layer reproduces
    * the Spark iteration bit-for-bit. `dim` is the (constant) embedding
    * width; `unnest` is 1-indexed on both engines' list accessors, and
    * the 0- vs 1-based `pos` origin only has to be internally consistent
    * per engine (it is an ordering key, never a value). */
  private def ivfTrainedSql(nList: Int, iters: Int, dim: Int): String = {
    def asg(i: Int, cent: String) =
      s"""asg$i AS (
            SELECT vec_id, u, c_id FROM (
              SELECT un.vec_id, un.u, c.c_id,
                row_number() OVER (PARTITION BY un.vec_id
                  ORDER BY ${dotD("un.u", "c.c_emb")} DESC, c.c_id) AS rn
              FROM un CROSS JOIN $cent c) t
            WHERE rn = 1)"""
    def step(i: Int) =
      s"""${asg(i, s"cent${i - 1}")},
          dim$i AS (
            SELECT c_id, pos,
              list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY vec_id)),
                (a, b) -> a + b) / count(*) AS m
            FROM (SELECT c_id, vec_id, i AS pos, u[i] AS v
                  FROM asg$i CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS i) d) t
            GROUP BY c_id, pos),
          cent$i AS (
            SELECT c_id, list_transform(ms, x -> x / n) AS c_emb FROM (
              SELECT c_id, ms,
                sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(ms, x -> x * x)), (a, b) -> a + b)) AS n
              FROM (SELECT c_id, list(m ORDER BY pos) AS ms
                    FROM dim$i GROUP BY c_id) a) b
            WHERE n > 0)"""
    s"""WITH $normCte,
        un AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
          FROM ne WHERE nrm > 0),
        cent0 AS (
          SELECT CAST(vec_id AS BIGINT) AS c_id, u AS c_emb
          FROM un ORDER BY vec_id LIMIT $nList),
        ${(1 to iters).map(step).mkString(",\n")},
        ${asg(iters + 1, s"cent$iters")}
        SELECT f.vec_id, f.c_id AS cell,
          ${dotD("f.u", "c.c_emb")} AS cos
        FROM asg${iters + 1} f JOIN cent$iters c ON f.c_id = c.c_id"""
  }

  /** Unrolled BPE training rounds (DuckDB) mirroring
    * [[graft.ext.TextKit.bpeTrainState]]: per round, freq-weighted pair
    * counts over the deduped word table (`p_i`), a deterministic 1-row
    * argmax (`t_i`: cnt desc, lexicographic pair), then the greedy
    * leftmost-non-overlapping rewrite (`s_i`) as a list_reduce whose
    * VARCHAR accumulator is the chr(31)-delimited symbol sequence
    * (DuckDB folds require accumulator type == element type; the corpus
    * is [a-z]+ so the separator can't collide). `w` rides along so the
    * final segmentation can join back to the corpus (x_bpe_encode). */
  private def bpeCtes(k: Int): String = {
    val S = "chr(31)"
    def parts(acc: String) = s"string_split($acc, $S)"
    def step(i: Int) =
      s"""p$i AS (
            SELECT syms[j] AS l, syms[j + 1] AS r, SUM(freq) AS cnt
            FROM s${i - 1}, unnest(generate_series(1, len(syms) - 1)) t(j)
            GROUP BY 1, 2),
          t$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
          s$i AS (
            SELECT w, freq,
              CASE WHEN len(syms) <= 1 THEN syms
                ELSE string_split(
                  list_reduce(syms, (acc, x) ->
                    CASE WHEN ${parts("acc")}[len(${parts("acc")})] = t$i.l
                           AND x = t$i.r
                         THEN array_to_string(list_append(
                           list_slice(${parts("acc")}, 1,
                             len(${parts("acc")}) - 1),
                           t$i.l || t$i.r), $S)
                         ELSE acc || $S || x END),
                  $S) END AS syms
            FROM s${i - 1} CROSS JOIN t$i)"""
    s"""w0 AS (
          SELECT w, count(*) AS freq FROM (
            SELECT unnest(list_filter(
              regexp_split_to_array(lower(text), '[^a-z]+'),
              x -> x <> '')) AS w
            FROM documents)
          GROUP BY 1),
        s0 AS (
          SELECT w, freq, list_transform(generate_series(1, length(w)),
            i -> substr(w, i, 1)) AS syms
          FROM w0),
        ${(1 to k).map(step).mkString(",\n")}"""
  }

  /** Unrolled Fellegi–Sunter EM oracle mirroring [[fsEm]] op-for-op:
    * the same SNM candidates and agreement-pattern collapse as
    * `x_fs_weights`, then `rounds` E/M rounds as CTE layers — E-step
    * posteriors are fixed-order double chains per pattern row, M-step
    * sums pass through decimal(38,12) (order-independent, the chiSquare
    * convention) before the single mirrored division. */
  private def fsEmSql(rounds: Int): String = {
    val attrs = Seq("lang", "source", "len5")
    def flag(a: String) = s"ag_$a"
    def prod(pfx: String, mu: String) = attrs.map { a =>
      s"(CASE WHEN ${flag(a)} THEN $pfx$mu$a ELSE 1.0 - $pfx$mu$a END)"
    }.mkString(" * ")
    // serial left-fold over the flag-sorted pattern rows (the dot-product
    // convention — identical addition order to the Spark side's
    // sort_array + aggregate fold)
    def srl(e: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
          list($e ORDER BY ag_lang, ag_source, ag_len5)), (a, b) -> a + b)"""
    def round(i: Int): String = {
      val prev = s"par${i - 1}"
      s"""e$i AS (SELECT pat.*, par.p, par.m_lang, par.m_source, par.m_len5,
            par.u_lang, par.u_source, par.u_len5,
            (par.p * ${prod("par.", "m_")}) AS num
          FROM pat CROSS JOIN $prev par),
        w$i AS (SELECT *, num / (num + (1.0 - p) * ${prod("", "u_")}) AS w
          FROM e$i),
        x$i AS (SELECT *, w * CAST(n AS DOUBLE) AS wn,
            (1.0 - w) * CAST(n AS DOUBLE) AS vn FROM w$i),
        s$i AS (SELECT
            ${srl("wn")} AS swn,
            ${srl("vn")} AS svn,
            ${srl("CAST(n AS DOUBLE)")} AS sn,
            ${attrs.map(a => s"${srl(s"(CASE WHEN ${flag(a)} THEN wn ELSE 0.0 END)")} AS m$a").mkString(",\n            ")},
            ${attrs.map(a => s"${srl(s"(CASE WHEN ${flag(a)} THEN vn ELSE 0.0 END)")} AS u$a").mkString(",\n            ")}
          FROM x$i),
        par$i AS (SELECT
            swn / sn AS p,
            ${attrs.map(a => s"m$a / swn AS m_$a").mkString(",\n            ")},
            ${attrs.map(a => s"u$a / svn AS u_$a").mkString(",\n            ")}
          FROM s$i)"""
    }
    val fin = rounds + 1
    s"""WITH all_docs AS (
         SELECT doc_id, text, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id + 100000, text, lang, source, n_chars
         FROM documents WHERE doc_id % 7 = 0),
       nm AS (SELECT doc_id, substr(text, 1, 12) AS k FROM all_docs),
       r AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM nm),
       cand AS (SELECT r1.doc_id AS a, r2.doc_id AS b
                FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3),
       pr AS (SELECT (da.lang = db.lang) AS ag_lang,
                (da.source = db.source) AS ag_source,
                (abs(da.n_chars - db.n_chars) <= 5) AS ag_len5
              FROM cand JOIN all_docs da ON cand.a = da.doc_id
                        JOIN all_docs db ON cand.b = db.doc_id),
       pat AS MATERIALIZED (SELECT ag_lang, ag_source, ag_len5,
               count(*) AS n FROM pr GROUP BY 1, 2, 3),
       par0 AS (SELECT CAST(0.1 AS DOUBLE) AS p,
           CAST(0.9 AS DOUBLE) AS m_lang, CAST(0.9 AS DOUBLE) AS m_source,
           CAST(0.9 AS DOUBLE) AS m_len5,
           CAST(0.3 AS DOUBLE) AS u_lang, CAST(0.3 AS DOUBLE) AS u_source,
           CAST(0.3 AS DOUBLE) AS u_len5),
       ${(1 to rounds).map(round).mkString(",\n       ")},
       e$fin AS (SELECT pat.*, par.p, par.m_lang, par.m_source, par.m_len5,
           par.u_lang, par.u_source, par.u_len5,
           (par.p * ${prod("par.", "m_")}) AS num
         FROM pat CROSS JOIN par$rounds par),
       w$fin AS (SELECT *, num / (num + (1.0 - p) * ${prod("", "u_")}) AS w
         FROM e$fin)
       SELECT ag_lang, ag_source, ag_len5, n, w AS posterior, p AS p_match,
         m_lang, m_source, m_len5, u_lang, u_source, u_len5
       FROM w$fin"""
  }

  private val oracleBase: Map[String, String] = Map(
    "x_er_pairwise" ->
      s"""WITH $erCellsCte,
          tp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS tp_pairs FROM cells),
          pp AS (SELECT CAST(SUM(np * (np - 1) // 2) AS BIGINT) AS pred_pairs FROM
                   (SELECT SUM(n) AS np FROM cells GROUP BY pred)),
          gp AS (SELECT CAST(SUM(ng * (ng - 1) // 2) AS BIGINT) AS gold_pairs FROM
                   (SELECT SUM(n) AS ng FROM cells GROUP BY gold)),
          tt AS (SELECT CAST(nn * (nn - 1) // 2 AS BIGINT) AS total_pairs FROM
                   (SELECT SUM(n) AS nn FROM cells)),
          base AS (SELECT * FROM tp CROSS JOIN pp CROSS JOIN gp CROSS JOIN tt),
          m AS (SELECT *,
              CASE WHEN pred_pairs > 0 THEN
                CAST(tp_pairs AS DOUBLE) / CAST(pred_pairs AS DOUBLE)
              END AS precision,
              CASE WHEN gold_pairs > 0 THEN
                CAST(tp_pairs AS DOUBLE) / CAST(gold_pairs AS DOUBLE)
              END AS recall,
              CASE WHEN pred_pairs + gold_pairs > 0 THEN
                2.0 * CAST(tp_pairs AS DOUBLE) /
                  (CAST(pred_pairs AS DOUBLE) + CAST(gold_pairs AS DOUBLE))
              END AS f1,
              CASE WHEN total_pairs > 0 THEN
                CAST(pred_pairs AS DOUBLE) * CAST(gold_pairs AS DOUBLE) /
                  CAST(total_pairs AS DOUBLE)
              END AS exp_idx
            FROM base)
          SELECT tp_pairs, pred_pairs, gold_pairs, total_pairs, precision,
            recall, f1, exp_idx,
            CASE WHEN (CAST(pred_pairs AS DOUBLE) + CAST(gold_pairs AS DOUBLE))
                / 2.0 IS DISTINCT FROM exp_idx THEN
              (CAST(tp_pairs AS DOUBLE) - exp_idx) /
                ((CAST(pred_pairs AS DOUBLE) + CAST(gold_pairs AS DOUBLE)) / 2.0
                  - exp_idx)
            END AS ari
          FROM m""",
    "x_bcubed_clusters" ->
      s"""WITH $erCellsCte
          SELECT 'pred' AS side, pred AS key, CAST(SUM(n) AS BIGINT) AS sz,
            CAST(SUM(n * n) AS BIGINT) AS ssq,
            CAST(SUM(n * n) AS DOUBLE) /
              CAST(SUM(n) * SUM(n) AS DOUBLE) AS bcubed
          FROM cells GROUP BY pred
          UNION ALL
          SELECT 'gold' AS side, CAST(gold AS VARCHAR) AS key, CAST(SUM(n) AS BIGINT) AS sz,
            CAST(SUM(n * n) AS BIGINT) AS ssq,
            CAST(SUM(n * n) AS DOUBLE) /
              CAST(SUM(n) * SUM(n) AS DOUBLE) AS bcubed
          FROM cells GROUP BY gold""",
    "x_ndcg" -> {
      val gainCase = "CASE rank " + ndcgW.zipWithIndex.map { case (w, i) =>
        s"WHEN ${i + 1} THEN CAST('$w' AS DOUBLE)" }.mkString(" ") + " END"
      val idcgCase = "CASE n_rel " + ndcgCum.zipWithIndex.map { case (c, i) =>
        s"WHEN ${i + 1} THEN CAST('$c' AS DOUBLE)" }.mkString(" ") + " END"
      s"""WITH $retrievalRelCte,
          per AS (SELECT q_id,
              CAST(SUM(rel) AS BIGINT) AS n_rel,
              list_reduce(list_prepend(0.0::DOUBLE,
                list(CASE WHEN rel = 1 THEN $gainCase ELSE 0.0 END
                  ORDER BY rank)), (a, b) -> a + b) AS dcg
            FROM j GROUP BY q_id),
          pi AS (SELECT q_id, n_rel, dcg, $idcgCase AS idcg FROM per)
          SELECT q_id, n_rel, dcg, idcg,
            CASE WHEN n_rel > 0 THEN dcg / idcg END AS ndcg
          FROM pi"""
    },
    "x_map_eval" ->
      s"""WITH $retrievalRelCte,
          t AS (SELECT q_id, rank, rel,
              SUM(rel) OVER (PARTITION BY q_id ORDER BY rank) AS cum
            FROM j),
          t2 AS (SELECT q_id, rank, rel,
              CASE WHEN rel = 1
                THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE)
                ELSE 0.0 END AS p_at_i
            FROM t),
          per AS (SELECT q_id,
              CAST(SUM(rel) AS BIGINT) AS n_rel,
              list_reduce(list_prepend(0.0::DOUBLE,
                list(p_at_i ORDER BY rank)), (a, b) -> a + b) AS sum_p
            FROM t2 GROUP BY q_id)
          SELECT q_id, n_rel, sum_p,
            CASE WHEN n_rel > 0 THEN sum_p / CAST(n_rel AS DOUBLE) END AS ap
          FROM per""",
    "x_dsir_select" -> {
      val bigrams = """CASE WHEN len(w) >= 2
            THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
            ELSE [] END"""
      s"""WITH occ AS MATERIALIZED (
            SELECT doc_id, lang, ${DuckSql.polyHash("g")} % 64 AS b FROM (
              SELECT doc_id, lang, unnest($bigrams) AS g
              FROM (SELECT doc_id, lang, $W AS w FROM documents))),
          ratios AS (
            SELECT b, count(*) AS nr,
              CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
            FROM occ GROUP BY b),
          tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS dr,
                    CAST(SUM(nt) AS BIGINT) AS dt FROM ratios),
          rt AS (SELECT b,
              CAST(nt + 1 AS DOUBLE) * CAST(dr + 64 AS DOUBLE) /
                (CAST(nr + 1 AS DOUBLE) * CAST(dt + 64 AS DOUBLE)) AS ratio
            FROM ratios CROSS JOIN tot),
          per AS (SELECT doc_id, lang, b, count(*) AS c
                  FROM occ GROUP BY 1, 2, 3),
          sc AS (SELECT doc_id, lang,
              list_reduce(list_prepend(0.0::DOUBLE,
                list(CAST(c AS DOUBLE) * ratio ORDER BY b)),
                (a, x) -> a + x) AS score
            FROM per JOIN rt USING (b) GROUP BY doc_id, lang)
          SELECT doc_id, lang, score, rnk FROM (
            SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM sc)
          WHERE rnk <= 100"""
    },
    "x_kcenter_select" -> kcenterSql(6),
    "x_doremi_mix" -> doremiSql(3),
    "x_mann_kendall" ->
      """WITH hc AS MATERIALIZED (
           SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr,
             count(*) AS x
           FROM events GROUP BY 1, 2),
         s AS (SELECT a.event_type,
             CAST(SUM(CASE WHEN b.x > a.x THEN 1
               WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
           FROM hc a JOIN hc b
             ON a.event_type = b.event_type AND a.hr < b.hr
           GROUP BY 1),
         n AS (SELECT event_type, count(*) AS n_hours FROM hc GROUP BY 1),
         ties AS (SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
           FROM (SELECT event_type, x, count(*) AS t FROM hc GROUP BY 1, 2)
           GROUP BY 1),
         m AS (SELECT s.event_type, s.s_stat, n.n_hours, ties.tie_term,
             n.n_hours * (n.n_hours - 1) * (2 * n.n_hours + 5) - ties.tie_term
               AS var18
           FROM s JOIN n USING (event_type) JOIN ties USING (event_type))
         SELECT event_type, s_stat, n_hours, tie_term, var18,
           CASE WHEN var18 <= 0 THEN NULL
             WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) /
               sqrt(CAST(var18 AS DOUBLE) / 18.0)
             WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) /
               sqrt(CAST(var18 AS DOUBLE) / 18.0)
             ELSE 0.0 END AS z
         FROM m""",
    "x_best_split" ->
      s"""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         per AS (SELECT v, count(*) AS c, CAST(SUM(pos) AS BIGINT) AS p
           FROM e GROUP BY 1),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(p) AS BIGINT) AS pp FROM per),
         cum AS (SELECT v,
             CAST(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS nl,
             CAST(SUM(p) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pl
           FROM per),
         cand AS (SELECT v AS threshold, nl, pl, n - nl AS nr,
             pp - pl AS pr, n
           FROM cum CROSS JOIN tot
           WHERE nl < n),
         scored AS (SELECT threshold, nl, pl, nr, pr,
             $giniSql AS gini
           FROM cand)
         SELECT threshold, nl, pl, nr, pr, gini, rnk FROM (
           SELECT *, row_number() OVER (ORDER BY gini, threshold) AS rnk
           FROM scored)
         WHERE rnk <= 5""",
    "x_theil_sen" ->
      """WITH hc AS MATERIALIZED (
           SELECT event_type AS g,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS o,
             count(*) AS x
           FROM events GROUP BY 1, 2),
         slopes AS (SELECT a.g, a.o AS oi, b.o AS oj,
             CAST(b.x - a.x AS DOUBLE) / CAST(b.o - a.o AS DOUBLE) AS slope
           FROM hc a JOIN hc b ON a.g = b.g AND a.o < b.o),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY g ORDER BY slope, oi, oj) AS rk,
             count(*) OVER (PARTITION BY g) AS m
           FROM slopes)
         SELECT g AS event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
           (MIN(slope) + MAX(slope)) / 2.0 AS slope_med
         FROM r WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2
         GROUP BY g""",
    "x_cuped" ->
      """WITH e AS (SELECT user_id,
             (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600) % 2
               AS half,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events),
         u AS (SELECT user_id,
             CAST(SUM(CASE WHEN half = 0 THEN v ELSE 0 END) AS HUGEINT) AS x,
             CAST(SUM(CASE WHEN half = 1 THEN v ELSE 0 END) AS HUGEINT) AS y
           FROM e GROUP BY 1),
         m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
           FROM u),
         v AS (SELECT n, sx, sy,
             n * sxx - sx * sx AS vx_h,
             n * syy - sy * sy AS vy_h,
             n * sxy - sx * sy AS cov_h
           FROM m)
         SELECT CAST(n AS BIGINT) AS n_units,
           CAST(vx_h AS DOUBLE) AS vx, CAST(vy_h AS DOUBLE) AS vy,
           CAST(cov_h AS DOUBLE) AS cov,
           CASE WHEN vx_h > 0 THEN
             CAST(cov_h AS DOUBLE) / CAST(vx_h AS DOUBLE) END AS theta,
           CASE WHEN vx_h > 0 AND vy_h > 0 THEN
             (CAST(cov_h AS DOUBLE) * CAST(cov_h AS DOUBLE)) /
               (CAST(vx_h AS DOUBLE) * CAST(vy_h AS DOUBLE)) END AS rho2,
           1.0 - (CASE WHEN vx_h > 0 AND vy_h > 0 THEN
             (CAST(cov_h AS DOUBLE) * CAST(cov_h AS DOUBLE)) /
               (CAST(vx_h AS DOUBLE) * CAST(vy_h AS DOUBLE)) END)
             AS var_ratio
         FROM v""",
    "x_fleiss_kappa" -> {
      def score(c: String, sfx: String) = langMarkers.map { case (l, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter($c, x -> x IN ($set)))::BIGINT AS s_$l$sfx"
      }.mkString(",\n            ")
      def pred(sfx: String) = {
        val m = langMarkers.map { case (l, _) => s"s_$l$sfx" }
          .mkString("greatest(", ", ", ")")
        val whens = langMarkers.map { case (l, _) =>
          s"WHEN s_$l$sfx = $m THEN '$l'" }.mkString(" ")
        s"CASE WHEN $m = 0 THEN 'und' $whens END"
      }
      s"""WITH base AS (
            SELECT doc_id, lang AS r1, ws AS w, ws[1:len(ws) // 2] AS h
            FROM (SELECT doc_id, lang, $W AS ws FROM documents)),
          scored AS (SELECT doc_id, r1,
            ${score("w", "")},
            ${score("h", "_h")}
            FROM base),
          lbl AS MATERIALIZED (SELECT doc_id, r1,
              ${pred("")} AS r2, ${pred("_h")} AS r3
            FROM scored),
          tot AS (SELECT count(*) AS n_docs,
              CAST(SUM(3 + 2 * ((CASE WHEN r1 = r2 THEN 1 ELSE 0 END) +
                (CASE WHEN r1 = r3 THEN 1 ELSE 0 END) +
                (CASE WHEN r2 = r3 THEN 1 ELSE 0 END))) AS BIGINT) AS s_sq
            FROM lbl),
          c2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS c2 FROM (
            SELECT l, count(*) AS c FROM (
              SELECT unnest([r1, r2, r3]) AS l FROM lbl) GROUP BY l)),
          m AS (SELECT n_docs, s_sq, c2,
              CAST(s_sq - 3 * n_docs AS DOUBLE) /
                CAST(6 * n_docs AS DOUBLE) AS pbar,
              CAST(c2 AS DOUBLE) /
                CAST(9 * n_docs * n_docs AS DOUBLE) AS pe
            FROM tot CROSS JOIN c2)
          SELECT n_docs, s_sq, c2, pbar, pe,
            (pbar - pe) / (1.0 - pe) AS kappa
          FROM m"""
    },
    "x_knn_label_noise" ->
      s"""WITH $normCte,
          ranked AS (SELECT q_id, q_label, n_label FROM (
            SELECT q.vec_id AS q_id, q.label AS q_label, v.label AS n_label,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm)
                  DESC, v.vec_id) AS rank
            FROM ne q JOIN ne v ON q.vec_id != v.vec_id
            WHERE q.vec_id < 100)
          WHERE rank <= 5),
          agg AS (SELECT q_label AS label,
              CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
              CAST(SUM(CASE WHEN n_label != q_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_foreign
            FROM ranked GROUP BY 1)
          SELECT label, n_queries, n_foreign,
            CAST(n_foreign AS DOUBLE) /
              CAST(n_queries * 5 AS DOUBLE) AS noise_rate
          FROM agg""",
    "x_jaro_winkler" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
         nm AS (SELECT doc_id, substr(text, 1, 12) AS k FROM all_docs),
         r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM nm),
         cand AS (SELECT r1.doc_id AS a, r2.doc_id AS b
                  FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3),
         p AS (SELECT cand.a, cand.b,
                 jaro_winkler_similarity(substr(da.text, 1, 32),
                   substr(db.text, 1, 32)) AS jw
               FROM cand JOIN all_docs da ON cand.a = da.doc_id
                         JOIN all_docs db ON cand.b = db.doc_id)
         SELECT a, b, jw FROM p WHERE jw >= CAST('0.85' AS DOUBLE)""",
    "x_phrase_search" ->
      s"""WITH w AS MATERIALIZED (
            SELECT doc_id, $W AS ws FROM documents),
          tri AS (SELECT unnest(CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              ELSE [] END) AS g
            FROM w),
          top AS (SELECT g FROM (
              SELECT g, count(*) AS n FROM tri GROUP BY g)
            ORDER BY n DESC, g LIMIT 1),
          parts AS (SELECT string_split(g, ' ')[1] AS w1,
              string_split(g, ' ')[2] AS w2,
              string_split(g, ' ')[3] AS w3
            FROM top),
          tk AS MATERIALIZED (
            SELECT doc_id, unnest(generate_series(1, len(ws))) - 1 AS pos,
              unnest(ws) AS term
            FROM w),
          t1 AS (SELECT tk.doc_id, tk.pos, p.w1, p.w2, p.w3
            FROM tk JOIN parts p ON tk.term = p.w1),
          t2 AS (SELECT t1.doc_id, t1.pos, t1.w1, t1.w2, t1.w3
            FROM t1 JOIN tk b ON b.doc_id = t1.doc_id
              AND b.pos = t1.pos + 1 AND b.term = t1.w2)
          SELECT t2.doc_id, t2.pos,
            t2.w1 || ' ' || t2.w2 || ' ' || t2.w3 AS phrase
          FROM t2 JOIN tk c ON c.doc_id = t2.doc_id
            AND c.pos = t2.pos + 2 AND c.term = t2.w3""",
    "x_fs_em" -> fsEmSql(2),
    // The sink twin's final catalog table IS the two-batch SCD2 merge —
    // one oracle, verbatim, gates both paths (they share the merge code).
    "st_scd2_sink" -> Parity.oracleSql("scd2_two_batch"),
    // Incremental summary == one aggregate over everything: refresh's
    // partial-state fold is exactly associative re-aggregation.
    "st_mv_refresh" ->
      """SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           count(*) AS mv_cnt
         FROM orders GROUP BY 1""",
    // Drift-stream mirror: even epoch-days build the hourly-average
    // reference, odd days are monitored; same float bin, trunc-division
    // hour, left join, and fixed-order chi-square expression.
    "st_drift_stream" ->
      """WITH ref_e AS (SELECT event_type,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
           FROM events
           WHERE (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) % 2 = 0),
         hours AS (SELECT count(DISTINCT CAST(FLOOR(es / 3600) AS BIGINT))
             AS n_hours FROM ref_e),
         ref AS (SELECT event_type, bin,
             CAST(count(*) AS DOUBLE) /
               CAST((SELECT n_hours FROM hours) AS DOUBLE) AS expected
           FROM ref_e GROUP BY 1, 2),
         cur AS (SELECT event_type,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_epoch
           FROM events
           WHERE (CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) % 2 = 1),
         g AS (SELECT c.event_type, c.hour_epoch, c.bin,
             CAST(count(*) AS BIGINT) AS n_cur, MIN(r.expected) AS expected
           FROM cur c LEFT JOIN ref r
             ON c.event_type = r.event_type AND c.bin = r.bin
           GROUP BY 1, 2, 3)
         SELECT event_type, hour_epoch, bin, n_cur, expected,
           (CAST(n_cur AS DOUBLE) - expected) *
             (CAST(n_cur AS DOUBLE) - expected) / expected AS chi2_component
         FROM g""",
    // The broadcast decision is a PLAN property (pinned in
    // PlanShapeSpec); this row pins that the statistics-hinted join
    // computes exactly the unhinted semantics.
    "x_ndv_broadcast" ->
      """SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F' GROUP BY 1""",
    // The join ORDER is a plan property (pinned with a rule-off control
    // in PlanShapeSpec); this row pins that the statistics-reordered
    // chain computes exactly the declared inner-join semantics.
    "x_stats_join_order" ->
      """SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN part ON l_partkey = p_partkey
         WHERE p_retailprice < 905.0 GROUP BY 1""",
    // PR-curve mirror: same centi-score distinct aggregate, same
    // descending cumulative window, same two bigint-ratio divisions.
    "x_pr_curve" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         c AS (SELECT s, CAST(SUM(pos) AS BIGINT) AS n_pos_s,
             count(*) AS n_s FROM e GROUP BY 1),
         w AS (SELECT s,
             CAST(SUM(n_pos_s) OVER (ORDER BY s DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
             CAST(SUM(n_s) OVER (ORDER BY s DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
           FROM c),
         t AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos_all FROM e)
         SELECT s AS threshold, tp, pp - tp AS fp, n_pos_all - tp AS fn,
           CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS prec,
           CASE WHEN n_pos_all > 0
             THEN CAST(tp AS DOUBLE) / CAST(n_pos_all AS DOUBLE) END AS rec
         FROM w, t""",
    // Conformal mirror: same two integer rank selections (median by
    // score order, q_hat by residual order) — value-at-rank is
    // deterministic under ties because the rank order sorts by the
    // selected value first.
    "x_conformal" ->
      """WITH e AS (SELECT event_type AS grp,
             CAST(round(value * 100) AS BIGINT) AS s FROM events),
         r1 AS (SELECT grp, s,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY s)
               AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM e),
         med AS (SELECT grp, MAX(n) AS n,
             MIN(CASE WHEN rn = (n - 1) // 2 + 1 THEN s END) AS med
           FROM r1 GROUP BY 1),
         res AS (SELECT e.grp, e.s, abs(e.s - med.med) AS r,
             med.n, med.med
           FROM e JOIN med USING (grp)),
         r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY grp
             ORDER BY r, s) AS BIGINT) AS rr FROM res)
         SELECT grp AS event_type, MAX(n) AS n,
           ((MAX(n) + 1) * 9 + 9) // 10 AS k,
           MAX(med) AS med_centi,
           MIN(CASE WHEN rr = ((n + 1) * 9 + 9) // 10 THEN r END)
             AS qhat_centi
         FROM r2 GROUP BY 1""",
    // Corr-matrix mirror: same co-active-hour pair join, exact integer
    // cross-moments, the same literal sqrt·sqrt division.
    "x_corr_matrix" ->
      """WITH h AS (SELECT event_type AS g, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         p AS (SELECT a.g AS g_a, b.g AS g_b, a.x AS x, b.x AS y
           FROM h a JOIN h b ON a.hr = b.hr AND a.g < b.g),
         m AS (SELECT g_a, g_b, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
           FROM p GROUP BY 1, 2)
         SELECT g_a, g_b, n, sx, sy, sxy,
           n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS r
         FROM m""",
    // Weighted-quantile mirror: same (n_chars, doc_id) order, same
    // cumulative token masses, same integer target-containment picks.
    "x_weighted_quantile" ->
      """WITH b AS (SELECT lang, n_chars, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w
           FROM documents),
         c AS (SELECT *, CAST(SUM(w) OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum,
             CAST(SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS wt
           FROM b)
         SELECT lang, MAX(wt) AS w_total, count(*) AS n_docs,
           MIN(CASE WHEN cum - w < wt // 2 + 1 AND wt // 2 + 1 <= cum
             THEN n_chars END) AS q50_w,
           MIN(CASE WHEN cum - w < (wt * 9) // 10 + 1
             AND (wt * 9) // 10 + 1 <= cum THEN n_chars END) AS q90_w
         FROM c GROUP BY 1""",
    // Attribution mirror: same user-keyed range join, same (tts, id)
    // rank order, same integer credit split with remainder-to-earliest.
    "x_attribution" ->
      """WITH c AS (SELECT user_id AS u, event_id AS conv_id, ts AS cts
           FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id AS u, event_id AS touch_id,
             event_type AS channel, ts AS tts
           FROM events WHERE event_type IN ('click', 'view')),
         j AS (SELECT c.u, c.conv_id, t.touch_id, t.channel, t.tts
           FROM c JOIN t ON c.u = t.u
           AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 3 DAY),
         r AS (SELECT *,
             CAST(row_number() OVER (PARTITION BY conv_id
               ORDER BY tts, touch_id) AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
           FROM j)
         SELECT u AS user_id, conv_id, touch_id, channel, rnk,
           n AS n_touches,
           CAST(CASE WHEN n = 1 THEN 100
                WHEN n = 2 THEN 50
                WHEN rnk = 1 OR rnk = n THEN 40
                ELSE 20 // (n - 2)
                  + (CASE WHEN rnk - 1 <= 20 % (n - 2) THEN 1 ELSE 0 END)
           END AS BIGINT) AS credit
         FROM r""",
    // Vocab-growth mirror: same doc_id-ordered global token positions
    // (window prefix sum ≡ the engine's two-phase form), same min-pos
    // firsts, same shiftleft checkpoint ladder, one mirrored division.
    "x_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
         c AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tok FROM d),
         p AS (SELECT doc_id, ws, CAST(SUM(n_tok) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start
           FROM c),
         t AS (SELECT ws[i] AS w, start + i AS gpos
           FROM (SELECT *, unnest(generate_series(1, len(ws))) AS i
                 FROM p)),
         f AS (SELECT w, MIN(gpos) AS first_pos FROM t GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM c),
         cp AS (SELECT (1::BIGINT << j) AS checkpoint
           FROM (SELECT unnest(generate_series(6, 40)) AS j), tot
           WHERE (1::BIGINT << j) <= total)
         SELECT checkpoint, CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(count(*) AS DOUBLE) / CAST(checkpoint AS DOUBLE) AS ttr
         FROM f JOIN cp ON f.first_pos <= cp.checkpoint
         GROUP BY 1""",
    // Link-prediction mirror: same degree cap on the wedge middles,
    // same min-common floor, integer outputs only.
    "x_link_predict" ->
      s"""WITH $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg
                 FROM und GROUP BY 1),
         mid AS MATERIALIZED (SELECT und.u, und.v FROM und
                 JOIN deg USING (u) WHERE deg <= 1024),
         cn AS MATERIALIZED (
           SELECT m1.v AS a, m2.v AS b, CAST(count(*) AS BIGINT) AS common
           FROM mid m1 JOIN mid m2 ON m1.u = m2.u AND m1.v < m2.v
           GROUP BY 1, 2 HAVING count(*) >= 2),
         ne AS (SELECT cn.a, cn.b, cn.common FROM cn
           LEFT JOIN edges e ON cn.a = e.a AND cn.b = e.b
           WHERE e.a IS NULL)
         SELECT ne.a, ne.b, ne.common,
           da.deg * db.deg AS pref_attach,
           da.deg + db.deg - ne.common AS jacc_den
         FROM ne JOIN deg da ON ne.a = da.u
           JOIN deg db ON ne.b = db.u""",
    // KMV-overlap mirror: per-source min-k is a pure set function
    // (x_kmv_distinct), union minima / both-sides membership are list
    // arithmetic, estimators are the same literal IEEE expressions.
    "x_kmv_overlap" -> {
      val ph = DuckSql.polyHash("text")
      s"""WITH d AS (SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror' AS source, text FROM documents
           WHERE doc_id % 3 = 0),
         h AS (SELECT DISTINCT source, $ph AS h FROM d),
         s AS (SELECT source, list_slice(list_sort(list(h)), 1, 64) AS mins
           FROM h GROUP BY 1),
         p AS (SELECT x.source AS source_a, y.source AS source_b,
             x.mins AS am, y.mins AS bm
           FROM s x JOIN s y ON x.source < y.source),
         u AS (SELECT source_a, source_b, am, bm,
             list_slice(list_sort(list_distinct(list_concat(am, bm))),
               1, 64) AS um
           FROM p),
         c AS (SELECT source_a, source_b,
             CAST(len(um) AS BIGINT) AS n_union_mins,
             um[len(um)] AS kth_union_min,
             CAST(len(list_filter(um, v ->
               list_contains(am, v) AND list_contains(bm, v)))
               AS BIGINT) AS n_both,
             CASE WHEN len(um) < 64 THEN CAST(len(um) AS DOUBLE)
                  ELSE 63.0 * 1000000007.0 / CAST(um[64] AS DOUBLE)
             END AS est_union
           FROM u)
         SELECT source_a, source_b, n_union_mins, kth_union_min, n_both,
           est_union,
           CAST(n_both AS DOUBLE) / CAST(n_union_mins AS DOUBLE)
             AS est_jaccard,
           (CAST(n_both AS DOUBLE) / CAST(n_union_mins AS DOUBLE))
             * est_union AS est_intersect
         FROM c"""
    },
    // Systematic-sample mirror: the x_shard_plan axis (same hash, same
    // bucket/hash/id order) cumulated GLOBALLY, integer stride test.
    "x_systematic_sample" -> {
      val ph = DuckSql.polyHash("('shard-v1:' || CAST(doc_id AS VARCHAR))")
      s"""WITH t AS (SELECT doc_id, source,
              CAST(len($W) AS BIGINT) AS n_tokens, $ph AS h
            FROM documents),
          o AS (SELECT *, h % 256 AS b FROM t),
          c AS (SELECT *, CAST(SUM(n_tokens) OVER (
                  ORDER BY b, h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
                FROM o)
          SELECT doc_id, source, n_tokens,
            end_tok - n_tokens AS start_tok,
            (end_tok - n_tokens) // 4096 + 1 AS tick,
            end_tok // 4096 - (end_tok - n_tokens) // 4096 AS n_ticks
          FROM c
          WHERE end_tok // 4096 > (end_tok - n_tokens) // 4096"""
    },
    "x_auc" ->
      """WITH e AS (SELECT event_type AS label,
             CAST(round(value * 100) AS BIGINT) AS s FROM events),
           counts AS (SELECT label, s, count(*) AS n_ls FROM e GROUP BY 1, 2),
           per_s AS (SELECT s, CAST(SUM(n_ls) AS BIGINT) AS n_s
             FROM counts GROUP BY 1),
           tot AS (SELECT s, n_s, CAST(COALESCE(SUM(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_tot_below
             FROM per_s),
           j AS (SELECT c.label, c.s, c.n_ls AS n_pos_s,
               t.n_s - c.n_ls AS n_neg_s, t.cum_tot_below,
               CAST(COALESCE(SUM(c.n_ls) OVER (PARTITION BY c.label
                 ORDER BY c.s ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING), 0) AS BIGINT) AS cum_pos_below
             FROM counts c JOIN tot t USING (s)),
           agg AS (SELECT label, CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
               CAST(SUM(n_pos_s * (2 * (cum_tot_below - cum_pos_below)
                 + n_neg_s)) AS BIGINT) AS u2
             FROM j GROUP BY 1),
           nall AS (SELECT count(*) AS n_all FROM events)
         SELECT label, n_pos, CAST(n_all - n_pos AS BIGINT) AS n_neg,
           CAST(u2 AS DOUBLE) /
             CAST(2 * (n_pos * (n_all - n_pos)) AS DOUBLE) AS auc
         FROM agg, nall""",
    "x_ks_drift" ->
      """WITH e AS (SELECT event_type AS grp,
             CAST(round(value * 100) AS BIGINT) AS s,
             (event_id % 2 = 0) AS r FROM events),
           c AS (SELECT grp, s,
               CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_s,
               CAST(SUM(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS n_cur_s
             FROM e GROUP BY 1, 2),
           w AS (SELECT grp,
               CAST(SUM(n_ref_s) OVER (PARTITION BY grp ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_ref,
               CAST(SUM(n_cur_s) OVER (PARTITION BY grp ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_cur,
               CAST(SUM(n_ref_s) OVER (PARTITION BY grp) AS BIGINT) AS tot_ref,
               CAST(SUM(n_cur_s) OVER (PARTITION BY grp) AS BIGINT) AS tot_cur
             FROM c)
         SELECT grp AS event_type,
           CAST(MAX(tot_ref) AS BIGINT) AS n_ref,
           CAST(MAX(tot_cur) AS BIGINT) AS n_cur,
           CAST(MAX(ABS(cum_ref * tot_cur - cum_cur * tot_ref)) AS DOUBLE)
             / CAST(MAX(tot_ref) * MAX(tot_cur) AS DOUBLE) AS ks_stat
         FROM w GROUP BY 1""",
    "x_calibration" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS s,
             (event_type = 'purchase') AS y FROM events),
           b AS (SELECT CAST(FLOOR(s / 5000.0) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(SUM(s) AS BIGINT) AS sum_s
             FROM e GROUP BY 1)
         SELECT bin, n, n_pos,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
           CAST(sum_s AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)) AS mean_score
         FROM b""",
    "x_psi_bins" ->
      """WITH e AS (SELECT event_type AS grp,
             CAST(FLOOR(CAST(round(value * 100) AS BIGINT) / 5000.0)
               AS BIGINT) AS bin,
             (event_id % 2 = 0) AS r FROM events),
           b AS (SELECT grp, bin,
               CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
             FROM e GROUP BY 1, 2),
           t AS (SELECT grp, CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
               CAST(SUM(n_cur) AS BIGINT) AS tot_cur
             FROM b GROUP BY 1)
         SELECT grp AS event_type, bin, n_ref, n_cur,
           CAST(n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE) AS p_ref,
           CAST(n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE) AS p_cur,
           CAST(n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE)
             - CAST(n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE) AS p_diff,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             CAST(n_cur * tot_ref AS DOUBLE) / CAST(n_ref * tot_cur AS DOUBLE)
             END AS ratio
         FROM b JOIN t USING (grp)""",
    "x_cramers_v" ->
      """WITH src AS (SELECT event_type,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS value_bin FROM events),
           observed AS (SELECT event_type AS a, value_bin AS b,
               CAST(count(*) AS BIGINT) AS n_obs FROM src GROUP BY 1, 2),
           at AS (SELECT a, CAST(SUM(n_obs) AS BIGINT) AS n_a
             FROM observed GROUP BY 1),
           bt AS (SELECT b, CAST(SUM(n_obs) AS BIGINT) AS n_b
             FROM observed GROUP BY 1),
           nn AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
               CAST(count(DISTINCT a) AS BIGINT) AS r,
               CAST(count(DISTINCT b) AS BIGINT) AS c
             FROM observed),
           cells AS (SELECT at.a, bt.b, at.n_a, bt.n_b,
               CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_ab
             FROM at CROSS JOIN bt
             LEFT JOIN observed ON observed.a = at.a AND observed.b = bt.b),
           comp AS (SELECT cells.a, cells.b, cells.n_ab, nn.n, nn.r, nn.c,
               CAST(n_a * n_b AS DOUBLE) / CAST(nn.n AS DOUBLE) AS expected,
               (CAST(n_ab AS DOUBLE)
                  - CAST(n_a * n_b AS DOUBLE) / CAST(nn.n AS DOUBLE))
               * (CAST(n_ab AS DOUBLE)
                  - CAST(n_a * n_b AS DOUBLE) / CAST(nn.n AS DOUBLE))
               / (CAST(n_a * n_b AS DOUBLE) / CAST(nn.n AS DOUBLE))
                 AS component
             FROM cells, nn),
           chi AS (SELECT CAST(CAST(SUM(CAST(component AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS chi2 FROM comp)
         SELECT a AS event_type, b AS value_bin, n_ab, expected, component,
           chi2, SQRT(chi2 / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE))
             AS cramers_v
         FROM comp, chi""",
    "x_seq_patterns" ->
      """WITH l AS (SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM l WHERE t3 IS NOT NULL GROUP BY 1, 2, 3""",
    "x_rolling_anomaly" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse,
             CAST(round(value * 100) AS BIGINT) AS s FROM events),
           f AS (SELECT *, CAST(COUNT(s) OVER w AS BIGINT) AS n_win,
               CAST(SUM(s) OVER w AS BIGINT) AS s1,
               CAST(SUM(s * s) OVER w AS BIGINT) AS s2
             FROM e WINDOW w AS (PARTITION BY event_type
               ORDER BY tse, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)),
           g AS (SELECT *, CAST(s * n_win - s1 AS DOUBLE)
               / SQRT(CAST(n_win * s2 - s1 * s1 AS DOUBLE)) AS z
             FROM f WHERE n_win >= 30 AND n_win * s2 - s1 * s1 > 0)
         SELECT event_type, event_id, tse, s, n_win, s1, s2, z
         FROM g WHERE ABS(z) > 1.5""",
    "x_ewma" ->
      """WITH e AS (SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(value AS DECIMAL(18,2)) AS v FROM events),
           s AS (SELECT event_type, hr, CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS x
             FROM e GROUP BY 1, 2)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           list_reduce(list(x ORDER BY hr),
             (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
         FROM s GROUP BY 1""",
    "x_rfm" ->
      """WITH u AS (SELECT user_id,
             CAST(MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS BIGINT)
               AS last_epoch,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS monetary
           FROM events GROUP BY 1),
           q AS (SELECT user_id, last_epoch, n_events, monetary,
             CAST(NTILE(5) OVER (ORDER BY last_epoch DESC, user_id)
               AS BIGINT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY n_events DESC, user_id)
               AS BIGINT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id)
               AS BIGINT) AS m_score
           FROM u)
         SELECT user_id, last_epoch, n_events, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm
         FROM q""",
    "x_modularity" ->
      s"""WITH $coPurchaseCte,
           nodes AS MATERIALIZED (SELECT DISTINCT v FROM
             (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)),
           asg AS MATERIALIZED (SELECT v, v % 4 AS community FROM nodes),
           mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
           ein AS (SELECT x.community AS community,
               CAST(count(*) AS BIGINT) AS e_in
             FROM edges e JOIN asg x ON e.a = x.v JOIN asg y ON e.b = y.v
             WHERE x.community = y.community GROUP BY 1),
           degs AS (SELECT community, CAST(count(*) AS BIGINT) AS deg_sum,
               CAST(count(DISTINCT v) AS BIGINT) AS n_nodes
             FROM (SELECT a AS v FROM edges
                   UNION ALL SELECT b AS v FROM edges) t
             JOIN asg USING (v) GROUP BY 1),
           comps AS (SELECT community, n_nodes,
               CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in, deg_sum,
               CAST(COALESCE(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE)
                 - (CAST(deg_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
                 * (CAST(deg_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
                 AS q_component
             FROM degs LEFT JOIN ein USING (community), mm),
           qt AS (SELECT CAST(CAST(SUM(CAST(q_component AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS q_total FROM comps)
         SELECT community, n_nodes, e_in, deg_sum, q_component, q_total
         FROM comps, qt""",
    "x_cusum" ->
      """WITH e AS (SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr,
             CAST(round(value * 100) AS BIGINT) AS s FROM events),
           h AS (SELECT event_type, hr, CAST(SUM(s) AS BIGINT) AS x
             FROM e GROUP BY 1, 2),
           r AS (SELECT event_type,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS c
             FROM h GROUP BY 1),
           p AS (SELECT h.event_type, hr, x, c,
               CAST(SUM(x - c) OVER (PARTITION BY h.event_type ORDER BY hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS p
             FROM h JOIN r USING (event_type)),
           sline AS (SELECT event_type, hr, x, c,
               CAST(p - LEAST(MIN(p) OVER (PARTITION BY event_type
                 ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW), 0) AS BIGINT) AS s_cusum
             FROM p)
         SELECT event_type, hr, x, c, s_cusum,
           s_cusum > 100000 AS flagged
         FROM sline""",
    "x_kaplan_meier" ->
      """WITH ed AS (SELECT user_id, CAST(ts AS DATE) AS dd FROM events),
           oe AS (SELECT MAX(dd) AS obs_end FROM ed),
           subj AS (SELECT user_id,
               CASE WHEN date_diff('day', MAX(dd),
                   (SELECT obs_end FROM oe)) >= 1
                 THEN date_diff('day', MIN(dd), MAX(dd))
                 ELSE date_diff('day', MIN(dd), (SELECT obs_end FROM oe))
                 END AS dur,
               date_diff('day', MAX(dd), (SELECT obs_end FROM oe)) >= 1
                 AS churned
             FROM ed GROUP BY user_id),
           bytime AS (SELECT CAST(dur AS BIGINT) AS t,
               CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                 AS d,
               CAST(COUNT(*) AS BIGINT) AS leaving
             FROM subj GROUP BY 1),
           curve AS (SELECT t, d,
               CAST(SUM(leaving) OVER ()
                 - COALESCE(SUM(leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
             FROM bytime),
           f AS (SELECT t, d, n_risk,
               1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
             FROM curve WHERE d > 0),
           fi AS (SELECT t, d, n_risk,
               ROW_NUMBER() OVER (ORDER BY t) AS i FROM f),
           packed AS (SELECT list(factor ORDER BY t) AS fs FROM f)
         SELECT t, d, n_risk,
           list_reduce(fs[1:i], (a, x) -> a * x) AS survival
         FROM fi, packed""",
    "x_cms_counts" ->
      """WITH k AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS key, CAST(count(*) AS BIGINT) AS exact
             FROM events
             WHERE json_extract_string(props, '$.k') IS NOT NULL
             GROUP BY 1),
           d AS (SELECT unnest(generate_series(0, 2)) AS i),
           ke AS (SELECT key, exact, i,
               ((key % 1000000007) * (2 * i + 1) + i) % 1000000007 % 64
                 AS cell
             FROM k CROSS JOIN d),
           cells AS (SELECT i, cell, CAST(SUM(exact) AS BIGINT) AS cnt
             FROM ke GROUP BY 1, 2),
           est AS (SELECT key, CAST(MIN(cnt) AS BIGINT) AS est
             FROM ke JOIN cells USING (i, cell) GROUP BY 1)
         SELECT k.key, k.exact, est.est, est.est - k.exact AS overcount
         FROM k JOIN est USING (key)""",
    "x_map_suite" ->
      s"""WITH tk AS (SELECT doc_id,
             unnest(list_filter($W, t -> t <> '')) AS t FROM documents),
           c AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS n
             FROM tk GROUP BY 1, 2)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(COALESCE(SUM(CASE WHEN t = 'the' THEN n END), 0) AS BIGINT)
             AS the_count,
           CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeated,
           CAST(SUM(n) AS BIGINT) AS n_tokens_total,
           CAST(MAX(n) AS BIGINT) AS max_count
         FROM c GROUP BY 1""",
    "x_confusion" ->
      """WITH t AS (SELECT event_type AS actual,
             CASE CAST(FLOOR(value / 100.0) AS BIGINT)
               WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
               ELSE 'error' END AS predicted
           FROM events),
           cells AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
             FROM t GROUP BY 1, 2),
           tpx AS (SELECT actual AS class, n AS tp FROM cells
             WHERE actual = predicted),
           a AS (SELECT actual AS class, CAST(SUM(n) AS BIGINT) AS n_actual
             FROM cells GROUP BY 1),
           p AS (SELECT predicted AS class,
               CAST(SUM(n) AS BIGINT) AS n_predicted
             FROM cells GROUP BY 1),
           j AS (SELECT class,
               CAST(COALESCE(n_actual, 0) AS BIGINT) AS n_actual,
               CAST(COALESCE(n_predicted, 0) AS BIGINT) AS n_predicted,
               CAST(COALESCE(tp, 0) AS BIGINT) AS tp
             FROM a FULL OUTER JOIN p USING (class)
             LEFT JOIN tpx USING (class))
         SELECT class, n_actual, n_predicted, tp,
           n_predicted - tp AS fp, n_actual - tp AS fn,
           CASE WHEN n_predicted > 0 THEN
             CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE) END AS precision,
           CASE WHEN n_actual > 0 THEN
             CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) END AS recall,
           CASE WHEN 2 * tp + (n_predicted - tp) + (n_actual - tp) > 0 THEN
             CAST(2 * tp AS DOUBLE) /
               CAST(2 * tp + (n_predicted - tp) + (n_actual - tp) AS DOUBLE)
             END AS f1
         FROM j""",
    "x_silhouette" ->
      s"""WITH $normCte,
          nz AS (SELECT * FROM ne WHERE nrm > 0),
          perdim AS (
            SELECT label, i AS pos,
              list_reduce(list_prepend(0.0::DOUBLE,
                list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
                (a, b) -> a + b) / count(*) AS m
            FROM nz CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY label, i),
          cent AS (
            SELECT label, c_emb,
              sqrt(${dotD("c_emb", "c_emb")}) AS c_nrm
            FROM (SELECT label, list(m ORDER BY pos) AS c_emb
                  FROM perdim GROUP BY label) t),
          scored AS (
            SELECT v.label, v.vec_id, c.label AS c_label,
              ${dotD("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) AS cos
            FROM nz v CROSS JOIN cent c),
          pv AS (SELECT vec_id, label,
              MAX(CASE WHEN label = c_label THEN cos END) AS own_cos,
              MAX(CASE WHEN label <> c_label THEN cos END) AS best_other
            FROM scored GROUP BY 1, 2),
          m AS (SELECT label, vec_id, own_cos - best_other AS margin
            FROM pv WHERE best_other IS NOT NULL)
          SELECT label, CAST(count(*) AS BIGINT) AS n,
            list_reduce(list_prepend(0.0::DOUBLE, list(margin ORDER BY vec_id)),
              (a, b) -> a + b) / count(*) AS mean_margin,
            CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_separated
          FROM m GROUP BY 1""",
    "x_simpson" ->
      """WITH t AS (SELECT user_id, event_type, count(*) AS n_t
             FROM events GROUP BY 1, 2),
           u AS (SELECT user_id, CAST(SUM(n_t) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(SUM(n_t * n_t) AS BIGINT) AS sum_sq
             FROM t GROUP BY 1)
         SELECT user_id, n_events, n_types,
           CAST(sum_sq AS DOUBLE) / CAST(n_events * n_events AS DOUBLE) AS hhi,
           1.0 - CAST(sum_sq AS DOUBLE) / CAST(n_events * n_events AS DOUBLE)
             AS simpson_diversity
         FROM u""",
    "x_token_stats" ->
      s"""SELECT doc_id,
            len($W)::BIGINT AS n_tokens,
            length(text)::BIGINT AS n_chars_obs,
            len(list_distinct($W))::BIGINT AS n_distinct,
            ${listSum(s"list_transform($W, x -> CAST(length(x) AS BIGINT))")} AS sum_token_len,
            CAST(${listSum(s"list_transform($W, x -> CAST(length(x) AS BIGINT))")} AS DOUBLE)
              / CAST(len($W) AS DOUBLE) AS avg_token_len
          FROM documents""",
    "x_quality_score" ->
      s"""SELECT doc_id, n_chars,
            len($W)::BIGINT AS n_tokens,
            len(list_filter($W, x -> x IN ('the', 'a')))::BIGINT AS stop_hits,
            CAST(len(list_filter($W, x -> x IN ('the', 'a'))) AS DOUBLE)
              / CAST(len($W) AS DOUBLE) AS stop_ratio,
            CASE WHEN CAST(len(list_filter($W, x -> x IN ('the', 'a'))) AS DOUBLE)
                   / CAST(len($W) AS DOUBLE) >= 0.15 THEN 'boilerplate'
                 WHEN n_chars >= 300 THEN 'long'
                 ELSE 'ok' END AS quality_band
          FROM documents""",
    "x_lang_id" -> {
      val score = langMarkers.map { case (l, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(w, x -> x IN ($set)))::BIGINT AS s_$l"
      }.mkString(",\n            ")
      val m = "greatest(s_de, s_en, s_es, s_fr)"
      val pred = langMarkers.map { case (l, _) => s"WHEN s_$l = $m THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (
            SELECT doc_id, lang,
            $score
            FROM (SELECT doc_id, lang, $W AS w FROM documents))
          SELECT lang,
            CASE WHEN $m = 0 THEN 'und' $pred END AS predicted,
            count(*) AS n, CAST(SUM(s_en) AS BIGINT) AS sum_s_en
          FROM scored GROUP BY 1, 2"""
    },
    "x_langid_eval" -> {
      val score = langMarkers.map { case (l, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(w, x -> x IN ($set)))::BIGINT AS s_$l"
      }.mkString(",\n            ")
      val m = "greatest(s_de, s_en, s_es, s_fr)"
      val pred = langMarkers.map { case (l, _) => s"WHEN s_$l = $m THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (
            SELECT doc_id, lang,
            $score
            FROM (SELECT doc_id, lang, $W AS w FROM documents)),
          t AS (SELECT lang AS actual,
              CASE WHEN $m = 0 THEN 'und' $pred END AS predicted
            FROM scored),
          cells AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
            FROM t GROUP BY 1, 2),
          tpx AS (SELECT actual AS class, n AS tp FROM cells
            WHERE actual = predicted),
          a AS (SELECT actual AS class, CAST(SUM(n) AS BIGINT) AS n_actual
            FROM cells GROUP BY 1),
          p AS (SELECT predicted AS class,
              CAST(SUM(n) AS BIGINT) AS n_predicted
            FROM cells GROUP BY 1),
          j AS (SELECT class,
              CAST(COALESCE(n_actual, 0) AS BIGINT) AS n_actual,
              CAST(COALESCE(n_predicted, 0) AS BIGINT) AS n_predicted,
              CAST(COALESCE(tp, 0) AS BIGINT) AS tp
            FROM a FULL OUTER JOIN p USING (class)
            LEFT JOIN tpx USING (class))
          SELECT class, n_actual, n_predicted, tp,
            n_predicted - tp AS fp, n_actual - tp AS fn,
            CASE WHEN n_predicted > 0 THEN
              CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE) END AS precision,
            CASE WHEN n_actual > 0 THEN
              CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE) END AS recall,
            CASE WHEN 2 * tp + (n_predicted - tp) + (n_actual - tp) > 0 THEN
              CAST(2 * tp AS DOUBLE) /
                CAST(2 * tp + (n_predicted - tp) + (n_actual - tp) AS DOUBLE)
              END AS f1
          FROM j"""
    },
    "x_fingerprint" -> {
      val gram = (1 to 4).foldLeft("c[i]") { (acc, j) => s"($acc*31 + c[i+$j])" }
      s"""SELECT doc_id,
            ${DuckSql.polyHash("text")} AS text_hash,
            list_min(g) AS fp_min,
            len(list_distinct(g))::BIGINT AS n_grams_distinct
          FROM (
            SELECT doc_id, text,
              CASE WHEN length(text) >= 5
              THEN list_transform(generate_series(1, length(text) - 4), i -> $gram)
              ELSE [] END AS g
            FROM (SELECT doc_id, text, ${DuckSql.charCodes("text")} AS c FROM documents))"""
    },
    "x_simhash_docs" ->
      s"""SELECT doc_id, ${DuckSql.simHash("text")} AS simhash FROM documents""",
    "d_exact_dedup" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)
         SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_id,
           count(*) AS n_copies
         FROM all_docs GROUP BY 1 HAVING count(*) > 1""",
    "d_ngram_jaccard" -> jaccardSql("0.5"),
    // Fidelity mirror: the exact-pair CTE (same text as jaccardSql) plus
    // a FULL signature replay — shingle polyHash, the 64 affine
    // permutations ((2k+1)·h + (k+1)·C mod P), per-permutation minima —
    // then agreement counted permutation-by-permutation. One wrong
    // constant in MinHashSig breaks the hash match.
    "d_minhash_fidelity" ->
      s"""WITH $shingleCte,
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          jp AS MATERIALIZED (
            SELECT a, b, inter,
              CAST(inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - inter AS DOUBLE) AS jaccard
            FROM pairs
            JOIN shc ca ON pairs.a = ca.doc_id
            JOIN shc cb ON pairs.b = cb.doc_id
            WHERE CAST(inter AS DOUBLE) / CAST(ca.nsh + cb.nsh - inter AS DOUBLE) >= 0.5),
          hx AS MATERIALIZED (
            SELECT doc_id, ${DuckSql.polyHash("shingle")} AS h FROM ex),
          perm AS MATERIALIZED (
            SELECT doc_id, kk,
              MIN(((2 * kk + 1) * h + (kk + 1) * 2654435761) % ${DuckSql.P}) AS m
            FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS kk) t
            GROUP BY 1, 2),
          ag AS (
            SELECT jp.a, jp.b,
              CAST(SUM(CASE WHEN px.m = py.m THEN 1 ELSE 0 END) AS BIGINT) AS agree
            FROM jp
            JOIN perm px ON px.doc_id = jp.a
            JOIN perm py ON py.doc_id = jp.b AND px.kk = py.kk
            GROUP BY 1, 2)
          SELECT jp.a, jp.b, inter, jaccard AS exact_j, agree,
            CAST(agree AS DOUBLE) / 64.0 AS est_j,
            ABS(CAST(agree AS DOUBLE) / 64.0 - jaccard) AS abs_err
          FROM jp JOIN ag ON jp.a = ag.a AND jp.b = ag.b""",
    // Impact mirror: planted-copy union (the d_exact_dedup fixture),
    // min-doc keeper, per-source integer rollup + one division.
    "x_dedup_impact" ->
      s"""WITH all_docs AS (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, source, text FROM documents
            WHERE doc_id % 7 = 0),
          tk AS (SELECT doc_id, source, text,
                   CAST(len($W) AS BIGINT) AS t FROM all_docs),
          keep AS (SELECT text, MIN(doc_id) AS keeper FROM tk GROUP BY 1)
          SELECT source,
            CAST(count(*) AS BIGINT) AS docs_before,
            CAST(SUM(t) AS BIGINT) AS tokens_before,
            CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
              AS docs_after,
            CAST(SUM(CASE WHEN doc_id = keeper THEN t ELSE 0 END) AS BIGINT)
              AS tokens_after,
            CAST(SUM(CASE WHEN doc_id = keeper THEN t ELSE 0 END) AS DOUBLE)
              / CAST(SUM(t) AS DOUBLE) AS pct_tokens_kept
          FROM tk JOIN keep USING (text)
          GROUP BY source""",
    "x_cross_source_dup" ->
      """WITH ts AS (
           SELECT DISTINCT text, source FROM (
             SELECT text, source FROM documents
             UNION ALL
             SELECT text, 'mirror' AS source FROM documents
             WHERE doc_id % 3 = 0))
         SELECT x.source AS source_a, y.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_texts
         FROM ts x JOIN ts y ON x.text = y.text AND x.source < y.source
         GROUP BY 1, 2""",
    "x_ngram_novelty" ->
      s"""WITH $shingleCte,
          firsts AS (SELECT shingle, MIN(doc_id) AS first_doc
                     FROM ex GROUP BY 1)
          SELECT ex.doc_id, shc.nsh,
            CAST(SUM(CASE WHEN first_doc = ex.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_first,
            CAST(SUM(CASE WHEN first_doc = ex.doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(shc.nsh AS DOUBLE) AS novelty
          FROM ex JOIN firsts USING (shingle)
          JOIN shc ON shc.doc_id = ex.doc_id
          WHERE shc.nsh > 0
          GROUP BY 1, 2""",
    "x_epoch_plan" ->
      s"""WITH per AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(len($W)) AS BIGINT) AS tokens
            FROM documents GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM per),
          pl AS (SELECT source, n_docs, tokens,
                   60000 // n_sources AS share FROM per, n),
          ep AS (SELECT *, LEAST(CAST(4 AS BIGINT),
                   (share + tokens - 1) // tokens) AS epochs FROM pl),
          dr AS (SELECT *, LEAST(share, epochs * tokens) AS tokens_drawn
                 FROM ep)
          SELECT source, n_docs, tokens, share, epochs, tokens_drawn,
            share - tokens_drawn AS shortfall
          FROM dr""",
    // PPJoin produces the SAME pair set as the full postings join — the
    // prefix filter is lossless by the prefix lemma, so the oracle is
    // shared verbatim.
    "d_ppjoin" -> jaccardSql("0.5"),
    "m_video_probe" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
           600 + (doc_id % 4) * 600 AS timescale,
           (doc_id % 7200 + 1) * 600 AS duration,
           ((doc_id % 7200 + 1) * 600) * 1000 // (600 + (doc_id % 4) * 600)
             AS duration_ms,
           TRUE AS ok
         FROM documents""",
    "m_audio_probe" ->
      """SELECT doc_id,
           doc_id % 2 + 1 AS channels,
           8000 + (doc_id % 5) * 8000 AS sample_rate,
           CAST(16 AS BIGINT) AS bits,
           (doc_id % 1000 + 1) * 4 AS data_bytes,
           TRUE AS ok
         FROM documents""",
    "m_video_stats" ->
      // Closed-form replay of the sample-table synthesis: two stts runs
      // and the per-sample stsz size formula.
      """WITH p AS (SELECT doc_id, 10 + doc_id % 5 AS n1,
                  100 + doc_id % 50 AS d1, 8 + doc_id % 3 AS n2,
                  200 + doc_id % 25 AS d2 FROM documents),
         sz AS (SELECT doc_id, 500 + (doc_id * 13 + i * 7) % 250 AS s
                FROM p, unnest(generate_series(0, n1 + n2 - 1)) t(i)),
         a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(SUM(s) AS BIGINT) AS total_bytes,
                 CAST(MAX(s) AS BIGINT) AS max_bytes
               FROM sz GROUP BY 1)
         SELECT p.doc_id, n_samples,
           CAST(n1 * d1 + n2 * d2 AS BIGINT) AS total_ticks,
           total_bytes, max_bytes, TRUE AS ok
         FROM p JOIN a USING (doc_id)""",
    "m_audio_fp" ->
      // Closed-form replay: p = 20 + id%30, crossings in frame f are the
      // multiples of p inside [f*500, f*500+499] (excluding sample 0),
      // mean |s| = the amplitude exactly, fold = (h*31 + c) % 1e9+7.
      """WITH f AS (SELECT doc_id, 20 + doc_id % 30 AS p FROM documents),
         fr AS (SELECT doc_id, fi,
                 ((fi * 500 + 499) // p) -
                   (CASE WHEN fi = 0 THEN 0 ELSE (fi * 500 - 1) // p END) AS cnt
               FROM f, unnest(generate_series(0, 7)) t(fi)),
         agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_crossings,
                  list_reduce(list_prepend(0::BIGINT, list(cnt ORDER BY fi)),
                    (h, c) -> (h * 31 + c) % 1000000007) AS fp_hash
                FROM fr GROUP BY 1)
         SELECT d.doc_id, 1000 + (d.doc_id % 7) * 500 AS mean_abs,
           n_crossings, fp_hash, TRUE AS ok
         FROM documents d JOIN agg USING (doc_id)""",
    "m_image_neardup" ->
      // Full replay: perturbed block formula → hash → distinct-signature
      // collapse (exact-copy multiplicity becomes a count, never a pair
      // listing) → 4×16 banding over signatures → candidate join →
      // exact Hamming gate, all in SQL.
      """WITH blocks AS MATERIALIZED (
           SELECT doc_id, b,
             ((doc_id // 5) * 31 + b * 7 +
               CASE WHEN doc_id % 5 > 0 AND b = ((doc_id % 5) * 11) % 64
                    THEN 96 ELSE 0 END) % 256 AS g
           FROM documents, unnest(generate_series(0, 63)) t(b)),
         m AS MATERIALIZED (SELECT doc_id, CAST(SUM(g) // 64 AS BIGINT) AS gmean
               FROM blocks GROUP BY 1),
         h AS MATERIALIZED (SELECT blocks.doc_id,
                 CAST(SUM(CASE WHEN g > gmean AND b >= 32
                   THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN g > gmean AND b < 32
                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM blocks JOIN m USING (doc_id) GROUP BY 1),
         sig AS MATERIALIZED (
           SELECT hi, lo, CAST(MIN(doc_id) AS BIGINT) AS rep,
             CAST(count(*) AS BIGINT) AS n_docs
           FROM h GROUP BY 1, 2),
         bands AS (
           SELECT rep, i AS band_idx,
             CASE i WHEN 0 THEN lo % 65536 WHEN 1 THEN (lo >> 16) % 65536
                    WHEN 2 THEN hi % 65536 ELSE (hi >> 16) % 65536 END AS band_val
           FROM sig, unnest(generate_series(0, 3)) t(i)),
         cand AS (SELECT DISTINCT x.rep AS a, y.rep AS b
                  FROM bands x JOIN bands y
                  ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                    AND x.rep < y.rep),
         v AS (SELECT a, b,
                 CAST(bit_count(xor(sa.hi, sb.hi))
                   + bit_count(xor(sa.lo, sb.lo)) AS BIGINT) AS hamming,
                 sa.n_docs AS docs_a, sb.n_docs AS docs_b
               FROM cand JOIN sig sa ON cand.a = sa.rep
               JOIN sig sb ON cand.b = sb.rep)
         SELECT a, b, hamming, docs_a, docs_b FROM v WHERE hamming <= 6
         UNION ALL
         SELECT rep, rep, CAST(0 AS BIGINT), n_docs, n_docs
         FROM sig WHERE n_docs > 1""",
    "m_image_incremental" ->
      // Replay of the incremental path: same perturbed-block hash formula
      // as m_image_neardup, corpus/batch split on doc_id % 7, both sides
      // collapsed to distinct signatures, positional band join, exact
      // Hamming gate — index persistence is invisible to the result.
      """WITH blocks AS MATERIALIZED (
           SELECT doc_id, b,
             ((doc_id // 5) * 31 + b * 7 +
               CASE WHEN doc_id % 5 > 0 AND b = ((doc_id % 5) * 11) % 64
                    THEN 96 ELSE 0 END) % 256 AS g
           FROM documents, unnest(generate_series(0, 63)) t(b)),
         m AS MATERIALIZED (SELECT doc_id, CAST(SUM(g) // 64 AS BIGINT) AS gmean
               FROM blocks GROUP BY 1),
         h AS MATERIALIZED (SELECT blocks.doc_id,
                 CAST(SUM(CASE WHEN g > gmean AND b >= 32
                   THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN g > gmean AND b < 32
                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM blocks JOIN m USING (doc_id) GROUP BY 1),
         csig AS (SELECT hi, lo, CAST(MIN(doc_id) AS BIGINT) AS rep,
                 CAST(count(*) AS BIGINT) AS n_docs
               FROM h WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
         bsig AS (SELECT hi AS bhi, lo AS blo,
                 CAST(MIN(doc_id) AS BIGINT) AS bat,
                 CAST(count(*) AS BIGINT) AS docs_bat
               FROM h WHERE doc_id % 7 = 0 GROUP BY 1, 2),
         cband AS (
           SELECT rep, hi, lo, n_docs, i AS band_idx,
             CASE i WHEN 0 THEN lo % 65536 WHEN 1 THEN (lo >> 16) % 65536
                    WHEN 2 THEN hi % 65536 ELSE (hi >> 16) % 65536 END AS band_val
           FROM csig, unnest(generate_series(0, 3)) t(i)),
         bband AS (
           SELECT bat, bhi, blo, docs_bat, i AS band_idx,
             CASE i WHEN 0 THEN blo % 65536 WHEN 1 THEN (blo >> 16) % 65536
                    WHEN 2 THEN bhi % 65536 ELSE (bhi >> 16) % 65536 END AS band_val
           FROM bsig, unnest(generate_series(0, 3)) t(i))
         SELECT DISTINCT bat, rep AS cor,
           CAST(bit_count(xor(bhi, hi)) + bit_count(xor(blo, lo)) AS BIGINT)
             AS hamming,
           docs_bat, n_docs AS docs_cor
         FROM bband x JOIN cband y
           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         WHERE bit_count(xor(bhi, hi)) + bit_count(xor(blo, lo)) <= 6""",
    "m_image_hash" ->
      // Closed-form replay of the block-constant synthesis: block b's
      // gray is (id*31 + b*7) % 256, block averages equal it exactly,
      // global mean = sum div 64, bit b set when above — recomputed here
      // with zero image code, so synthesis OR decode bugs break the hash.
      """WITH blocks AS (
           SELECT doc_id, b, (doc_id * 31 + b * 7) % 256 AS g
           FROM documents, unnest(generate_series(0, 63)) t(b)),
         m AS (SELECT doc_id, CAST(SUM(g) // 64 AS BIGINT) AS gmean
               FROM blocks GROUP BY 1),
         bits AS (SELECT blocks.doc_id, b, g, gmean FROM blocks
                  JOIN m USING (doc_id))
         SELECT doc_id,
           CAST(SUM(CASE WHEN g > gmean AND b >= 32
             THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT)
             AS ahash_hi,
           CAST(SUM(CASE WHEN g > gmean AND b < 32
             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS ahash_lo,
           MIN(gmean) AS mean_gray, TRUE AS ok
         FROM bits GROUP BY doc_id""",
    "m_image_probe" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
             AS format,
           doc_id % 507 + 1 AS width,
           doc_id % 281 + 1 AS height,
           TRUE AS ok
         FROM documents""",
    "x_decontaminate" ->
      s"""WITH $shingleCte,
          bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0),
          hits AS (SELECT ex.doc_id, count(*) AS n_hits
                   FROM ex JOIN bench USING (shingle)
                   WHERE ex.doc_id % 97 <> 0 GROUP BY 1)
          SELECT h.doc_id, h.n_hits, shc.nsh,
                 CAST(h.n_hits AS DOUBLE) / CAST(shc.nsh AS DOUBLE) AS overlap,
                 h.n_hits >= 5 AS contaminated
          FROM hits h JOIN shc ON h.doc_id = shc.doc_id""",
    "d_jaccard_capped" ->
      s"""WITH $shingleCte,
          $cappedCte,
          pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                    FROM exr x JOIN exr y
                    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                    GROUP BY 1, 2)
          SELECT a, b, inter, na.nsh AS na, nb.nsh AS nb,
            CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) AS jaccard
          FROM pairs
          JOIN nr na ON pairs.a = na.doc_id
          JOIN nr nb ON pairs.b = nb.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.5""",
    "d_containment" ->
      s"""WITH wdocs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 300000,
              array_to_string(list_slice(w, 1,
                greatest(1, CAST(floor(len(w) / 2.0) AS INT))), ' ')
            FROM (SELECT doc_id, $W AS w FROM documents)
            WHERE doc_id % 9 = 0),
          sh AS (SELECT doc_id, ${DuckSql.wordShingles("w", 3)} AS shingles
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM wdocs)),
          ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
          $cappedCte,
          pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
                    FROM exr x JOIN exr y
                    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                    GROUP BY 1, 2)
          SELECT a, b, inter, na.nsh AS na, nb.nsh AS nb,
            CAST(inter AS DOUBLE) / CAST(least(na.nsh, nb.nsh) AS DOUBLE) AS containment
          FROM pairs
          JOIN nr na ON pairs.a = na.doc_id
          JOIN nr nb ON pairs.b = nb.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(least(na.nsh, nb.nsh) AS DOUBLE) >= 0.9""",
    // r12 re-anchor (found BY the sf10 sweep, the predicted defect
    // class): at 100× rows the engine returned 25,599 pairs vs the
    // exact oracle's 25,600 — ONE borderline j ≈ 0.8 pair with no band
    // collision. LSH banding recall is < 1 BY DESIGN (1−(1−j⁴)¹⁶ ≈
    // 0.9998 at j = 0.8), so asserting the exact pair set was a wrong
    // CONTRACT, luck-green at small SF: the operator's semantics are
    // "banding-candidate-bounded exact pairs". The oracle now replays
    // the engine's deterministic pipeline — signature permutations
    // (the d_minhash_fidelity CTEs), positional 16×4 banding with the
    // base-31 bucket fold, ≥ 32-of-64 agreement pre-filter, exact
    // Jaccard ≥ 0.8 on survivors — so engine and oracle agree at every
    // SF. Recall vs the exact pair set stays MEASURED, not assumed, by
    // d_minhash_fidelity (exact pairs + signature agreement per pair).
    "d_minhash_lsh" ->
      s"""WITH $shingleCte,
          hx AS (SELECT doc_id, ${DuckSql.polyHash("shingle")} AS h FROM ex),
          perm AS MATERIALIZED (
            SELECT doc_id, kk,
              MIN(((2 * kk + 1) * h + (kk + 1) * 2654435761) % ${DuckSql.P}) AS m
            FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS kk) t
            GROUP BY 1, 2),
          bkt AS MATERIALIZED (
            SELECT doc_id, kk // 4 AS band,
              list_reduce(list_prepend(0::BIGINT, list(m ORDER BY kk)),
                (acc, v) -> acc * 31 + v) AS bucket
            FROM perm GROUP BY 1, 2),
          cand AS MATERIALIZED (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bkt x JOIN bkt y ON x.band = y.band
              AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
          ag AS (
            SELECT c.a, c.b
            FROM cand c
            JOIN perm px ON px.doc_id = c.a
            JOIN perm py ON py.doc_id = c.b AND px.kk = py.kk
            GROUP BY 1, 2
            HAVING SUM(CASE WHEN px.m = py.m THEN 1 ELSE 0 END) >= 32),
          iv AS (
            SELECT g.a, g.b, count(*) AS inter
            FROM ag g
            JOIN ex x ON x.doc_id = g.a
            JOIN ex y ON y.doc_id = g.b AND y.shingle = x.shingle
            GROUP BY 1, 2)
          SELECT iv.a, iv.b, iv.inter, ca.nsh AS na, cb.nsh AS nb,
            CAST(iv.inter AS DOUBLE)
              / CAST(ca.nsh + cb.nsh - iv.inter AS DOUBLE) AS jaccard
          FROM iv
          JOIN shc ca ON iv.a = ca.doc_id
          JOIN shc cb ON iv.b = cb.doc_id
          WHERE CAST(iv.inter AS DOUBLE)
              / CAST(ca.nsh + cb.nsh - iv.inter AS DOUBLE) >= 0.8""",
    "d_simhash_pairs" ->
      s"""WITH sim AS (
            SELECT doc_id, ${DuckSql.simHashFromWh(DuckSql.bigramHashes("w"), 28)} AS sh
            FROM (SELECT doc_id, ${DuckSql.words("text")} AS w FROM documents))
          SELECT x.doc_id AS a, y.doc_id AS b,
            bit_count(xor(x.sh, y.sh)) AS hamming
          FROM sim x JOIN sim y ON x.doc_id < y.doc_id
          WHERE bit_count(xor(x.sh, y.sh)) <= 3""",
    // r11 re-anchor: the oracle replays the engine's LSH-routed
    // candidate generation (semPairCtes == semanticNearDupPairs), not an
    // all-pairs scan — the contract row's cost is O(N·cell·tables) at
    // every scale. At the driver SF the adaptive bit count is 0 and the
    // result is identical to the former label-bucket all-pairs form.
    "d_embed_neardup" ->
      s"""WITH $normCte,
          ${semPairCtes("0.4")}
          SELECT a, b, cos FROM p""",
    "x_ann_topk" ->
      s"""WITH $normCte,
          scored AS (
            SELECT q.vec_id AS q_id, v.vec_id AS n_id,
              ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos
            FROM ne q JOIN ne v ON q.vec_id != v.vec_id
            WHERE q.vec_id < 20)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
          WHERE rank <= 5""",
    "x_hard_negatives" ->
      s"""WITH $normCte,
          scored AS (
            SELECT q.vec_id AS q_id, v.vec_id AS n_id, v.label AS n_label,
              ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos
            FROM ne q JOIN ne v ON q.vec_id != v.vec_id AND q.label != v.label
            WHERE q.vec_id < 20)
          SELECT q_id, n_id, n_label, rank, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
          WHERE rank <= 3""",
    "x_ann_topk_agg" ->
      s"""WITH $normCte,
          scored AS (
            SELECT q.vec_id AS q_id, v.vec_id AS n_id,
              ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos
            FROM ne q JOIN ne v ON q.vec_id != v.vec_id
            WHERE q.vec_id < 20)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
          WHERE rank <= 5""",
    "x_ann_ivf" ->
      s"""WITH $normCte,
          cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
                   FROM ne WHERE vec_id < 10),
          cellranks AS (
            SELECT v.vec_id, v.embedding, v.nrm, c.c_id,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                ${dotD("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) DESC, c.c_id) AS r
            FROM ne v CROSS JOIN cent c),
          assigned AS (SELECT c_id AS cell, vec_id AS n_id, embedding AS n_emb, nrm AS n_nrm
                       FROM cellranks WHERE r = 1),
          probes AS (SELECT c_id AS cell, vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
                     FROM cellranks WHERE r <= 2 AND vec_id < 20),
          cand AS (
            SELECT p.q_id, a.n_id,
              ${dotD("p.q_emb", "a.n_emb")} / (p.q_nrm * a.n_nrm) AS cos
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE p.q_id != a.n_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM cand)
          WHERE rank <= 5""",
    "x_ann_ivf_trained" -> ivfTrainedSql(8, 3, 64),
    // PQ/ADC mirror of Similarity.pqTopK: m=8 subspaces × subDim=8 over
    // unit vectors, nCode=16 codewords seeded from the 16 lowest vec_ids.
    // Every reduction is the same serial left-fold as the Spark side;
    // argmin = list_min + first list_indexof (ties → lowest codeword).
    // The [dists] single-element-list transform binds the distance list
    // to a lambda variable (SQL has no let).
    "x_ann_pq" -> {
      def fold1(terms: String) =
        s"list_reduce(list_prepend(0.0::DOUBLE, $terms), (a, v) -> a + v)"
      val distTerms =
        """list_transform(generate_series(1, 8), i ->
             (list_slice(u, s*8 + 1, s*8 + 8)[i] - cvec[i])
             * (list_slice(u, s*8 + 1, s*8 + 8)[i] - cvec[i]))"""
      val lutTerms =
        """list_transform(generate_series(1, 8), i ->
             list_slice(u, (s-1)*8 + 1, (s-1)*8 + 8)[i] * cvec[i])"""
      s"""WITH $normCte,
          un AS (
            SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
            FROM ne WHERE nrm > 0),
          cbt AS (
            SELECT list_transform(generate_series(0, 7), s ->
                     list_transform(vs, v -> list_slice(v, s*8 + 1, s*8 + 8))) AS cb
            FROM (SELECT list(u ORDER BY vec_id) AS vs FROM un WHERE vec_id < 16)),
          coded AS (
            SELECT vec_id AS n_id,
              list_transform(generate_series(0, 7), s ->
                CAST(list_transform(
                    [list_transform(cb[s + 1], cvec -> ${fold1(distTerms)})],
                    d -> list_indexof(d, list_min(d)))[1] - 1 AS INT)) AS codes
            FROM un CROSS JOIN cbt),
          qlut AS (
            SELECT vec_id AS q_id,
              list_transform(generate_series(1, 8), s ->
                list_transform(cb[s], cvec -> ${fold1(lutTerms)})) AS lut
            FROM un CROSS JOIN cbt WHERE vec_id < 20),
          scored AS (
            SELECT q.q_id, c.n_id,
              list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(generate_series(1, 8), s ->
                  q.lut[s][c.codes[s] + 1])),
                (a, v) -> a + v) AS adc
            FROM qlut q JOIN coded c ON q.q_id != c.n_id)
          SELECT q_id, n_id, rank, adc FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY adc DESC, n_id) AS rank
            FROM scored)
          WHERE rank <= 5""" },
    "m_media_meta" -> {
      val samp = s"""list_transform(generate_series(0, (length(text) + 63) // 64 - 1),
                       i -> CAST(ascii(substr(text, i*64 + 1, 1)) AS BIGINT))"""
      s"""SELECT doc_id,
            CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                 ELSE 'video' END AS media_type,
            length(text)::BIGINT AS n_bytes,
            ((length(text) + 63) // 64)::BIGINT AS frame_count,
            ${listSum(samp)} AS sample_sum,
            list_reduce(list_prepend(0::BIGINT, $samp),
              (a, b) -> (a*31 + b) % ${DuckSql.P}) AS sample_hash
          FROM documents"""
    },
    "m_frame_sample" ->
      """WITH m AS (
           SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             text, (length(text) + 63) // 64 AS fc
           FROM documents)
         SELECT doc_id, media_type,
           CAST(i AS BIGINT) AS frame_idx,
           CAST(ascii(substr(text, i*64 + 1, 1)) AS BIGINT) AS frame_byte
         FROM m, unnest(generate_series(0, fc - 1,
           CASE media_type WHEN 'image' THEN 2147483647
                           WHEN 'video' THEN 4 ELSE 8 END)) t(i)""",
    "x_event_window" ->
      """SELECT event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           count(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1, 2""",
    "x_ohlc_bars" ->
      """WITH e AS (
           SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             value, ts, event_id
           FROM events),
         r AS (
           SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour_epoch
               ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour_epoch
               ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM e)
         SELECT event_type, hour_epoch,
           count(*) AS n,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           MAX(value) AS high, MIN(value) AS low,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS volume
         FROM r GROUP BY 1, 2""",
    "x_sessionize" ->
      """WITH e AS (
           -- FLOOR before the cast: DuckDB ROUNDS double->BIGINT, Spark's
           -- unix_timestamp truncates
           SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
         m AS (
           SELECT *, CASE WHEN tse - LAG(tse) OVER w > 1800
                            OR LAG(tse) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_seq FROM m)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           MIN(tse) AS start_epoch, MAX(tse) AS end_epoch,
           MAX(tse) - MIN(tse) AS duration_s
         FROM s GROUP BY 1, 2""",
    "x_percentiles" ->
      """SELECT lang, count(*) AS n,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         FROM documents GROUP BY lang""",
    "x_ngram_freq" ->
      s"""WITH grams AS (
            SELECT unnest(CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
              ELSE [] END) AS bigram
            FROM (SELECT $W AS w FROM documents)),
          freq AS (SELECT bigram, count(*) AS n FROM grams GROUP BY 1)
          SELECT bigram, n, rnk FROM (
            SELECT *, row_number() OVER (ORDER BY n DESC, bigram) AS rnk FROM freq)
          WHERE rnk <= 100""",
    "x_ann_lsh" -> {
      def comp(j: String, i: String) =
        s"(CAST((($j*64 + $i) * 2654435761) % 1000000007 AS DOUBLE) / 1000000007.0 - 0.5)"
      val planeDot =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(generate_series(1, len(embedding)), i ->
                CAST(embedding[i] AS DOUBLE) * ${comp("j", "i")})),
            (acc, v) -> acc + v)"""
      val bucket =
        s"""list_reduce(list_prepend(0::BIGINT,
              list_transform(generate_series(0, 7), j ->
                CASE WHEN $planeDot >= 0 THEN CAST(POW(2.0, j) AS BIGINT) ELSE 0 END)),
            (a, b) -> a + b)"""
      s"""WITH ne AS (SELECT vec_id, embedding,
            sqrt(${dotD("embedding", "embedding")}) AS nrm,
            $bucket AS bucket
          FROM embeddings),
          scored AS (
            SELECT q.vec_id AS q_id, v.vec_id AS n_id,
              ${dotD("q.embedding", "v.embedding")} / (q.nrm * v.nrm) AS cos
            FROM ne q JOIN ne v ON q.bucket = v.bucket AND q.vec_id != v.vec_id
            WHERE q.vec_id < 20)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM scored)
          WHERE rank <= 5"""
    },
    "x_curation_pipeline" ->
      s"""WITH gated AS (
            SELECT doc_id, lang, n_chars, text,
              len(w)::BIGINT AS n_tokens,
              len(list_filter(w, x -> x IN ('the', 'a')))::BIGINT AS stop_hits
            FROM (SELECT doc_id, lang, n_chars, text, $W AS w FROM documents)
            WHERE n_chars >= 60),
          q AS (SELECT * FROM gated
                WHERE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.4),
          sh AS (SELECT doc_id, ${DuckSql.wordShingles("w", 3)} AS shingles
                 FROM (SELECT doc_id, $W AS w FROM q)),
          ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
          $cappedCte,
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM exr x JOIN exr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          drops AS (
            SELECT DISTINCT b AS doc_id FROM pairs
            JOIN nr na ON pairs.a = na.doc_id
            JOIN nr nb ON pairs.b = nb.doc_id
            WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.8)
          SELECT lang, count(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
            CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM q WHERE doc_id NOT IN (SELECT doc_id FROM drops)
          GROUP BY lang""",
    "x_quality_funnel" ->
      s"""WITH flagged AS (
            SELECT doc_id, n_chars, len(w)::BIGINT AS n_tokens,
              len(list_filter(w, x -> x IN ('the', 'a')))::BIGINT AS stop_hits
            FROM (SELECT doc_id, n_chars, $W AS w FROM documents)),
          f2 AS (
            SELECT doc_id, n_chars >= 60 AS pass_len,
              n_chars >= 60 AND
                CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.4 AS pass_stop
            FROM flagged),
          sh AS (SELECT doc_id, ${DuckSql.wordShingles("w", 3)} AS shingles
                 FROM (SELECT doc_id, $W AS w FROM documents
                       WHERE doc_id IN (SELECT doc_id FROM f2 WHERE pass_stop))),
          ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
          $cappedCte,
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM exr x JOIN exr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          drops AS (
            SELECT DISTINCT b AS doc_id FROM pairs
            JOIN nr na ON pairs.a = na.doc_id
            JOIN nr nb ON pairs.b = nb.doc_id
            WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.8)
          SELECT count(*) AS n_total,
            count(*) FILTER (pass_len) AS n_after_len,
            count(*) FILTER (pass_stop) AS n_after_stop,
            count(*) FILTER (pass_stop AND doc_id NOT IN (SELECT doc_id FROM drops))
              AS n_after_dedup
          FROM f2""",
    "x_curation_cc" ->
      s"""WITH RECURSIVE gated AS (
            SELECT doc_id, lang, n_chars, text,
              len(w)::BIGINT AS n_tokens,
              len(list_filter(w, x -> x IN ('the', 'a')))::BIGINT AS stop_hits
            FROM (SELECT doc_id, lang, n_chars, text, $W AS w FROM documents)
            WHERE n_chars >= 60),
          q AS (SELECT * FROM gated
                WHERE CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.4),
          sh AS (SELECT doc_id, ${DuckSql.wordShingles("w", 3)} AS shingles
                 FROM (SELECT doc_id, $W AS w FROM q)),
          ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
          $cappedCte,
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM exr x JOIN exr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          p8 AS (
            SELECT a, b FROM pairs
            JOIN nr na ON pairs.a = na.doc_id
            JOIN nr nb ON pairs.b = nb.doc_id
            WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.8),
          edges AS (SELECT a AS src, b AS dst FROM p8
                    UNION SELECT b, a FROM p8),
          reach(node, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
          cc AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
          drops AS (SELECT node AS doc_id FROM cc WHERE node <> label)
          SELECT lang, count(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
            CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM q WHERE doc_id NOT IN (SELECT doc_id FROM drops)
          GROUP BY lang""",
    "x_asof_join" -> asofOracle,
    "x_asof_native" -> asofOracle,
    "x_asof_broadcast" -> asofOracle,
    "x_asof_forward" -> asofOracle.replace("p.ts >= c.ts", "p.ts <= c.ts"),
    "x_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "x_orc_scan" ->
      """SELECT s_nationkey, count(*) AS n,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
         FROM supplier GROUP BY s_nationkey""",
    "x_bpe_tokens" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_bpe,
           CAST(len(list_distinct(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))) AS BIGINT) AS n_bpe_distinct
         FROM documents""",
    // Unrolled BPE training rounds mirroring TextKit.bpeTrainState (see
    // bpeCtes below): x_bpe_train reads the per-round argmax tables.
    "x_bpe_train" ->
      s"""WITH ${bpeCtes(6)}
          ${(1 to 6).map(i =>
            s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS cnt FROM t$i")
            .mkString("\nUNION ALL\n")}""",
    // Corpus encode with the trained vocabulary: the final word table's
    // segmentation joins back to the exploded corpus words.
    "x_bpe_encode" ->
      s"""WITH ${bpeCtes(6)},
          wt AS (SELECT w, len(syms) AS n_tok FROM s6),
          dw AS (
            SELECT doc_id, unnest(list_filter(
              regexp_split_to_array(lower(text), '[^a-z]+'),
              x -> x <> '')) AS w
            FROM documents)
          SELECT doc_id, count(*) AS n_words,
            CAST(SUM(length(w)) AS BIGINT) AS n_chars_az,
            CAST(SUM(n_tok) AS BIGINT) AS n_bpe,
            CAST(CAST(SUM(length(w)) AS BIGINT) AS DOUBLE)
              / CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) AS chars_per_token
          FROM dw JOIN wt USING (w)
          GROUP BY doc_id""",
    // Bigram-LM scoring mirror of lmScore: identical token positions,
    // counts, smoothing, and a serial likelihood fold in pos order.
    "x_lm_score" ->
      """WITH d AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z]+'),
             x -> x <> '') AS ws
           FROM documents),
         tok AS (
           SELECT ws[j] AS w FROM d, unnest(generate_series(1, len(ws))) t(j)),
         uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1),
         voc AS (SELECT count(*) AS v FROM uni),
         grams AS (
           SELECT doc_id, j AS pos, ws[j] AS w1, ws[j + 1] AS w2
           FROM d, unnest(generate_series(1, len(ws) - 1)) t(j)
           WHERE len(ws) > 1),
         bi AS (SELECT w1, w2, count(*) AS c2 FROM grams GROUP BY 1, 2),
         scored AS (
           SELECT doc_id, pos,
             CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS p
           FROM grams
           JOIN bi USING (w1, w2)
           JOIN uni ON grams.w1 = uni.w
           CROSS JOIN voc)
         SELECT doc_id, count(*) AS n_bigrams,
           MIN(p) AS min_p,
           list_reduce(list_prepend(1.0::DOUBLE, list(p ORDER BY pos)),
             (a, b) -> a * b) AS lm_likelihood
         FROM scored GROUP BY doc_id""",
    "x_repetition" ->
      s"""WITH grams AS (
            SELECT doc_id, unnest(CASE WHEN len(w) >= 2
              THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
              ELSE [] END) AS bigram
            FROM (SELECT doc_id, $W AS w FROM documents)),
          freq AS (SELECT doc_id, bigram, count(*) AS n FROM grams GROUP BY 1, 2)
          SELECT doc_id, n_bigrams, top_n,
            CAST(top_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_ratio
          FROM (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
                  MAX(n) AS top_n FROM freq GROUP BY doc_id)""",
    "x_pii_scrub" -> {
      val e = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val p = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
      s"""WITH d AS (
            SELECT doc_id,
              text ||
              (CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END) ||
              (CASE WHEN doc_id % 5 = 0
                 THEN ' call +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' 2368'
                 ELSE '' END) AS text2
            FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(text2, '$e')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(text2, '$p')) AS BIGINT) AS n_phones,
            regexp_replace(regexp_replace(text2, '$e', '<EMAIL>', 'g'),
              '$p', '<PHONE>', 'g') AS clean
          FROM d"""
    },
    "x_group_topk" ->
      """WITH s AS (
           SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS id,
             CAST(l_extendedprice AS DOUBLE) AS price
           FROM lineitem),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY l_returnflag ORDER BY price DESC, id) AS rank
               FROM s)
         SELECT l_returnflag, id, rank, price FROM r WHERE rank <= 3""",
    "x_chunk_docs" ->
      """SELECT doc_id, chunk_id,
           array_to_string(list_slice(w, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ') AS chunk_text,
           least(64, n_tokens - chunk_id * 48) AS chunk_tokens
         FROM (
           SELECT doc_id, w, len(w) AS n_tokens,
             unnest(generate_series(0,
               greatest(0, CAST(ceil((len(w) - 16) / 48.0) AS INT) - 1))) AS chunk_id
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""",
    "x_pack_sequences" ->
      """SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum,
           CAST(floor((CAST(SUM(n_tokens) OVER w AS BIGINT) - n_tokens) / 512.0) AS BIGINT) AS pack_id
         FROM (SELECT doc_id, lang,
                 CAST(least(512, len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents)
         WINDOW w AS (PARTITION BY lang ORDER BY doc_id)""",
    "x_resample" ->
      """WITH daily AS (
           SELECT o_custkey,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d_day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spend
           FROM orders WHERE o_custkey % 50 = 0
           GROUP BY 1, 2),
         cal AS (
           SELECT o_custkey, unnest(generate_series(lo, hi)) AS d_day
           FROM (SELECT o_custkey, MIN(d_day) AS lo, MAX(d_day) AS hi
                 FROM daily GROUP BY 1))
         SELECT cal.o_custkey, cal.d_day, daily.spend,
           daily.spend IS NOT NULL AS is_observed,
           last_value(daily.spend IGNORE NULLS) OVER
             (PARTITION BY cal.o_custkey ORDER BY cal.d_day) AS spend_ff
         FROM cal LEFT JOIN daily
           ON cal.o_custkey = daily.o_custkey AND cal.d_day = daily.d_day""",
    "x_gap_fill" ->
      """WITH daily AS (
           SELECT o_orderpriority,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d_day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS rev
           FROM orders WHERE o_totalprice > 450000
           GROUP BY 1, 2),
         cal AS (
           SELECT o_orderpriority, unnest(generate_series(lo, hi)) AS d_day
           FROM (SELECT o_orderpriority, MIN(d_day) AS lo, MAX(d_day) AS hi
                 FROM daily GROUP BY 1)),
         anch AS (
           SELECT cal.o_orderpriority, cal.d_day, daily.rev,
             last_value(daily.rev IGNORE NULLS) OVER
               (PARTITION BY cal.o_orderpriority ORDER BY cal.d_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rev,
             last_value(CASE WHEN daily.rev IS NOT NULL THEN cal.d_day END
                 IGNORE NULLS) OVER
               (PARTITION BY cal.o_orderpriority ORDER BY cal.d_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
             first_value(daily.rev IGNORE NULLS) OVER
               (PARTITION BY cal.o_orderpriority ORDER BY cal.d_day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rev,
             first_value(CASE WHEN daily.rev IS NOT NULL THEN cal.d_day END
                 IGNORE NULLS) OVER
               (PARTITION BY cal.o_orderpriority ORDER BY cal.d_day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
           FROM cal LEFT JOIN daily
             ON cal.o_orderpriority = daily.o_orderpriority
             AND cal.d_day = daily.d_day)
         SELECT o_orderpriority, d_day, rev,
           rev IS NULL AS is_gap,
           CASE WHEN rev IS NOT NULL THEN rev
                ELSE prev_rev + (next_rev - prev_rev) *
                  (CAST(d_day - prev_day AS DOUBLE)
                   / CAST(next_day - prev_day AS DOUBLE)) END AS rev_interp
         FROM anch""",
    "x_salted_join" ->
      """SELECT d.flag_label, count(*) AS n,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem l
         JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
           AS d(l_returnflag, flag_label)
           ON l.l_returnflag = d.l_returnflag
         GROUP BY d.flag_label""",
    "x_salted_agg" ->
      """SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
         FROM lineitem GROUP BY l_returnflag""",
    "d_incremental" ->
      // Exact all-pairs Jaccard restricted to the incremental pair space
      // (b always in the batch; a in the corpus, or a smaller batch id).
      s"""WITH alld AS (
            SELECT doc_id, 'corpus' AS src, text FROM documents WHERE doc_id % 5 <> 0
            UNION ALL
            SELECT doc_id, 'batch', text FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 200000, 'batch', text FROM documents WHERE doc_id % 11 = 0),
          sh AS (SELECT doc_id, src, ${DuckSql.wordShingles("w", 3)} AS shingles
                 FROM (SELECT doc_id, src, $W AS w FROM alld)),
          shc AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
          ex AS (SELECT doc_id, src, unnest(shingles) AS shingle FROM sh),
          pairs AS (
            SELECT x.doc_id AS a, x.src AS src_a, y.doc_id AS b, count(*) AS inter
            FROM ex x JOIN ex y ON x.shingle = y.shingle
              AND y.src = 'batch'
              AND (x.src = 'corpus' OR x.doc_id < y.doc_id)
            GROUP BY 1, 2, 3)
          SELECT a, src_a, b, inter, na.nsh AS na, nb.nsh AS nb,
            CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) AS jaccard
          FROM pairs
          JOIN shc na ON pairs.a = na.doc_id
          JOIN shc nb ON pairs.b = nb.doc_id
          WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.8""",
    "d_dup_clusters" ->
      // Connected components via recursive reachability closure: every
      // label a node can reach propagates; min per node = component id.
      s"""WITH RECURSIVE $shingleCte,
          $cappedCte,
          pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM exr x JOIN exr y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          p8 AS (
            SELECT a, b FROM pairs
            JOIN nr na ON pairs.a = na.doc_id
            JOIN nr nb ON pairs.b = nb.doc_id
            WHERE CAST(inter AS DOUBLE) / CAST(na.nsh + nb.nsh - inter AS DOUBLE) >= 0.8),
          edges AS (SELECT a AS src, b AS dst FROM p8
                    UNION SELECT b, a FROM p8),
          reach(node, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
          SELECT node AS doc_id, MIN(r) AS cluster_id,
            node = MIN(r) AS is_canonical
          FROM reach GROUP BY node""",
    "d_line_dedup" ->
      """WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          lines AS (
            SELECT doc_id, i AS pos,
              array_to_string(list_slice(w, i*8 + 1, i*8 + 8), ' ') AS line
            FROM wd, unnest(generate_series(0,
              CAST(ceil(len(w) / 8.0) AS INT) - 1)) t(i)),
          dfreq AS (SELECT line, count(DISTINCT doc_id) AS df
                    FROM lines GROUP BY 1),
          j AS (SELECT l.doc_id, l.pos, l.line, d.df <= 4 AS kept
                FROM lines l JOIN dfreq d USING (line))
          SELECT doc_id,
            count(*) AS n_lines,
            count(*) FILTER (kept) AS n_kept,
            count(*) - count(*) FILTER (kept) AS n_removed,
            coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (kept), '')
              AS clean_text
          FROM j GROUP BY doc_id""",
    "d_span_coverage" ->
      """WITH grams AS (
           SELECT doc_id, substr(text, (g - 1) * 10 + 1, 40) AS gram
           FROM documents,
             unnest(generate_series(1, (length(text) - 40) // 10 + 1)) AS t(g)
           WHERE length(text) >= 40),
         marks AS (
           SELECT gram, count(DISTINCT doc_id) >= 2 AS is_shared
           FROM grams GROUP BY gram)
         SELECT g.doc_id,
           count(*) AS n_spans,
           CAST(SUM(CASE WHEN m.is_shared THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(CAST(SUM(CASE WHEN m.is_shared THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM grams g JOIN marks m USING (gram)
         GROUP BY g.doc_id""",
    "d_semantic_keep" -> {
      // Candidate generation shared with d_embed_neardup via semPairCtes
      // (the exact mirror of Similarity.semanticNearDupPairs).
      s"""WITH RECURSIVE $normCte,
          ${semPairCtes("0.4")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
                    UNION SELECT b, a FROM p),
          reach(node, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
          cc AS MATERIALIZED (SELECT node, MIN(r) AS label FROM reach GROUP BY node)
          SELECT v.vec_id,
            coalesce(cc.label, v.vec_id) AS cluster,
            coalesce(cc.label, v.vec_id) = v.vec_id AS keep
          FROM embeddings v LEFT JOIN cc ON v.vec_id = cc.node"""
    },
    "x_label_cohesion" ->
      s"""WITH $normCte,
          nz AS (SELECT * FROM ne WHERE nrm > 0),
          perdim AS (
            SELECT label, i AS pos,
              list_reduce(list_prepend(0.0::DOUBLE,
                list(CAST(embedding[i] AS DOUBLE) ORDER BY vec_id)),
                (a, b) -> a + b) / count(*) AS m
            FROM nz CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
            GROUP BY label, i),
          cent AS (
            SELECT label, c_emb,
              sqrt(${dotD("c_emb", "c_emb")}) AS c_nrm
            FROM (SELECT label, list(m ORDER BY pos) AS c_emb
                  FROM perdim GROUP BY label) t),
          scored AS (
            SELECT v.label, v.vec_id,
              ${dotD("v.embedding", "c.c_emb")} / (v.nrm * c.c_nrm) AS cos
            FROM nz v JOIN cent c USING (label))
          SELECT label, count(*) AS n,
            list_reduce(list_prepend(0.0::DOUBLE, list(cos ORDER BY vec_id)),
              (a, b) -> a + b) / count(*) AS mean_cos,
            min(cos) AS min_cos
          FROM scored GROUP BY label""",
    "x_token_budget_mix" ->
      s"""WITH t AS (
            SELECT doc_id, source,
              CAST(len($W) AS BIGINT) AS n_tokens,
              (doc_id % ${DuckSql.P} * 2654435761) % ${DuckSql.P} AS priority
            FROM documents),
          c AS (
            SELECT *, CAST(SUM(n_tokens) OVER (
              PARTITION BY source ORDER BY priority, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM t)
          SELECT doc_id, source, n_tokens, priority, cum_tokens
          FROM c WHERE cum_tokens <= 600""",
    // Temperature-mix mirror: α = 0.5 via sqrt (exactly rounded on both
    // engines), source-name-ordered fold for the cross-source
    // denominator, then single mirrored share/rate expressions and the
    // deterministic priority-hash Bernoulli filter.
    "x_temperature_mix" ->
      s"""WITH b AS (
            SELECT doc_id, source, CAST(len($W) AS BIGINT) AS n_tokens
            FROM documents),
          s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok,
                  sqrt(CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE)) AS sq
                FROM b GROUP BY 1),
          d AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    list(sq ORDER BY source)), (a, x) -> a + x) AS denom
                FROM s),
          r AS (SELECT source, tok, sq / denom AS share
                FROM s CROSS JOIN d),
          rr AS (SELECT source, share,
                   LEAST(1.0, 2000.0 * share / CAST(tok AS DOUBLE)) AS rate
                 FROM r)
          SELECT b.doc_id, b.source, b.n_tokens, rr.share, rr.rate
          FROM b JOIN rr USING (source)
          WHERE CAST((b.doc_id % ${DuckSql.P} * 2654435761) % ${DuckSql.P} AS DOUBLE)
            < rr.rate * 1000000007.0""",
    // Shard-plan mirror: the SINGLE-WINDOW reference form — the Spark
    // side runs the two-phase distributed prefix sum, so hash equality
    // here proves the scale path computes the identical shard layout.
    "x_shard_plan" -> {
      val ph = DuckSql.polyHash("('shard-v1:' || CAST(doc_id AS VARCHAR))")
      s"""WITH t AS (SELECT doc_id, source,
                CAST(len($W) AS BIGINT) AS n_tokens, $ph AS h
              FROM documents),
          o AS (SELECT *, h % 256 AS b FROM t),
          c AS (SELECT *, CAST(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY b, h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
                FROM o)
          SELECT source, start // 200 AS shard_id,
            count(*) AS n_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
            MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
          FROM c GROUP BY 1, 2"""
    },
    // Sampled-quantiles mirror: the same deterministic hash sample
    // (membership is a set function of the data), exact interpolated
    // quantiles over it (quantile_cont ≡ percentile, x_percentiles).
    // Sampled-quantile mirror: same ranked-endpoint construction and the
    // SAME literal interpolation expression (lo + (hi-lo)*(fnum/den)) —
    // no engine quantile built-in on either side, so the double output
    // is bit-identical by shared IEEE op order, not by luck.
    "x_sampled_quantiles" -> {
      val ph = DuckSql.polyHash("('qsamp-v1:' || CAST(doc_id AS VARCHAR))")
      s"""WITH smp AS (SELECT lang, n_chars FROM documents WHERE $ph % 4 = 0),
          r AS (SELECT lang, n_chars,
                  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
                  count(*) OVER (PARTITION BY lang) AS n
                FROM smp),
          a AS (SELECT lang, CAST(MAX(n) AS BIGINT) AS n_sample,
                  MIN(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_chars END) AS lo50,
                  MIN(CASE WHEN rn = n // 2 + 1 THEN n_chars END) AS hi50,
                  MIN(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN n_chars END) AS lo90,
                  MIN(CASE WHEN rn = ((n - 1) * 9 + 9) // 10 + 1 THEN n_chars END) AS hi90,
                  MIN(n_chars) AS min_s, MAX(n_chars) AS max_s
                FROM r GROUP BY lang)
          SELECT lang, n_sample,
            CAST(lo50 AS DOUBLE) + CAST(hi50 - lo50 AS DOUBLE)
              * (CAST((n_sample - 1) % 2 AS DOUBLE) / 2.0) AS p50_s,
            CAST(lo90 AS DOUBLE) + CAST(hi90 - lo90 AS DOUBLE)
              * (CAST(((n_sample - 1) * 9) % 10 AS DOUBLE) / 10.0) AS p90_s,
            min_s, max_s
          FROM a"""
    },
    // Autocorr mirror: exact integer/decimal Pearson sums on the hourly
    // self-join, identical IEEE op order for r, null on zero variance.
    "x_autocorr" ->
      """WITH hc AS (SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr,
               count(*) AS x
             FROM events GROUP BY 1, 2),
          pr AS (SELECT c.event_type, c.x AS x, p.x AS y
                 FROM hc c JOIN hc p ON c.event_type = p.event_type
                   AND c.hr = p.hr + 3600),
          s AS (SELECT event_type, count(*) AS n_pairs,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
                FROM pr GROUP BY 1)
          SELECT event_type, n_pairs,
            CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                  AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
              THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
              ELSE NULL END AS r_lag1
          FROM s""",
    // RRF mirror: bm25 CTEs verbatim from x_bm25, rational query TF-IDF
    // with term-ordered fold, top-50 per list, one divide per list +
    // one add — every double op mirrored.
    "x_rrf_fusion" ->
      s"""WITH dls AS (SELECT doc_id,
                  CAST(len($W) AS BIGINT) AS dl FROM documents),
          st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot,
                   count(*) AS n_docs FROM dls),
          t AS (SELECT doc_id, unnest($W) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                 WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id, tf.term,
                   (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5) AS idf_ratio,
                   (CAST(tf AS DOUBLE) * 2.2)
                     / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                         (CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
                     AS tf_part
                 FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id)
                 CROSS JOIN st),
          bm AS (SELECT doc_id,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list(idf_ratio * tf_part ORDER BY term)),
                     (a, b) -> a + b) AS bm25
                 FROM sc GROUP BY doc_id),
          nn AS (SELECT count(*) AS n_docs FROM documents),
          ts AS (SELECT doc_id,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list(CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE)
                            / CAST(df AS DOUBLE) ORDER BY term)),
                     (a, b) -> a + b) AS tfidf
                 FROM tf JOIN dfq USING (term) CROSS JOIN nn
                 GROUP BY doc_id),
          ra AS (SELECT doc_id, r_bm25 FROM (
                   SELECT doc_id, row_number() OVER (
                     ORDER BY bm25 DESC, doc_id) AS r_bm25 FROM bm)
                 WHERE r_bm25 <= 50),
          rb AS (SELECT doc_id, r_tfidf FROM (
                   SELECT doc_id, row_number() OVER (
                     ORDER BY tfidf DESC, doc_id) AS r_tfidf FROM ts)
                 WHERE r_tfidf <= 50),
          f AS (SELECT doc_id, r_bm25, r_tfidf,
                  COALESCE(1.0 / (60.0 + CAST(r_bm25 AS DOUBLE)), 0.0)
                    + COALESCE(1.0 / (60.0 + CAST(r_tfidf AS DOUBLE)), 0.0)
                    AS rrf
                FROM ra FULL OUTER JOIN rb USING (doc_id))
          SELECT doc_id, r_bm25, r_tfidf, rrf, fused_rank FROM (
            SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id)
              AS fused_rank FROM f)
          WHERE fused_rank <= 20""",
    "x_range_native" ->
      // Plain inequality-join mirror of the native merge sweep,
      // overlapping bands included.
      """WITH pts AS (SELECT o_orderkey, o_custkey % 100 AS k,
                  CAST(o_totalprice AS DOUBLE) AS v FROM orders),
         iv AS (SELECT a.k, b.band,
                  CAST(b.band * 50000 AS DOUBLE) AS lo,
                  CAST(b.band * 50000 + 75000 AS DOUBLE) AS hi
                FROM generate_series(0, 99) a(k),
                     generate_series(0, 9) b(band))
         SELECT o_orderkey, pts.k, v, band
         FROM pts JOIN iv ON pts.k = iv.k AND v >= lo AND v < hi""",
    "x_range_join" ->
      """WITH bands AS (
           SELECT 'band_' || lpad(CAST(i AS VARCHAR), 2, '0') AS band,
             CAST(i * 50000 AS DOUBLE) AS lo, CAST((i+1) * 50000 AS DOUBLE) AS hi
           FROM generate_series(0, 9) t(i))
         SELECT band, count(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
         FROM orders JOIN bands
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band""",
    "x_overlap_join" ->
      """WITH a AS (SELECT CAST(o_orderkey AS BIGINT) AS ak,
                o_totalprice AS alo, o_totalprice + 20000 AS ahi
              FROM orders WHERE o_orderkey % 97 = 0),
           b AS (SELECT CAST(o_orderkey AS BIGINT) AS bk,
                o_totalprice AS blo, o_totalprice + 30000 AS bhi
              FROM orders WHERE o_orderkey % 89 = 0)
         SELECT count(*) AS n_pairs,
           CAST(SUM((ak % 1000000007 * 1000003 % 1000000007
                     + bk % 1000000007) % 1000000007) AS BIGINT) AS key_sum
         FROM a JOIN b ON alo < bhi AND blo < ahi""",
    "x_pivot" -> {
      def cell(s: String) =
        s"""coalesce(count(*) FILTER (o_orderstatus = '$s'), 0) AS "${s}_n",
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (o_orderstatus = '$s') AS VARCHAR) AS DOUBLE) AS "${s}_sum\""""
      s"""SELECT o_orderpriority, ${Seq("F", "O", "P").map(cell).mkString(", ")}
          FROM orders GROUP BY o_orderpriority"""
    },
    "x_aqp_sample" ->
      """WITH s AS (
           SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders
           WHERE (o_orderkey % 1000000007 * 2654435761 % 1000000007) % 100 < 1),
         g AS (
           SELECT o_orderpriority, count(*) AS n_sample,
             SUM(p) AS sum_dec, SUM(p * p) AS sum2_dec
           FROM s GROUP BY 1)
         SELECT o_orderpriority, n_sample,
           n_sample * 100 AS est_count,
           CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) * 100.0 AS est_sum,
           sqrt(9900.0 * CAST(CAST(sum2_dec AS VARCHAR) AS DOUBLE)) AS se_sum,
           sqrt(9900.0 * CAST(CAST(sum2_dec AS VARCHAR) AS DOUBLE))
             / (CAST(CAST(sum_dec AS VARCHAR) AS DOUBLE) * 100.0) AS rel_se
         FROM g""",
    "x_stratified_sample" -> {
      val h = DuckSql.polyHash("CAST(doc_id AS VARCHAR) || ':' || lang")
      s"""SELECT lang, count(*) AS n_kept,
            MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          WHERE $h % 100 < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 30
                           ELSE 50 END
          GROUP BY lang"""
    },
    "x_train_val_split" -> {
      val h = DuckSql.polyHash("'split-v1:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT source,
            CASE WHEN $h % 100 < 80 THEN 'train'
                 WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split,
            count(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
            MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
          FROM documents
          GROUP BY 1, 2"""
    },
    "x_outliers" ->
      """WITH s AS (SELECT lang, count(*) AS n, SUM(n_chars) AS s1x,
             SUM(n_chars * n_chars) AS s2x FROM documents GROUP BY 1),
           j AS (SELECT d.doc_id, d.lang, d.n_chars,
             CAST(s.s1x AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean,
             CAST(s.s2x AS DOUBLE) / CAST(s.n AS DOUBLE) AS m2
           FROM documents d JOIN s USING (lang))
         SELECT doc_id, lang, n_chars,
           (CAST(n_chars AS DOUBLE) - mean) / sqrt(m2 - mean * mean) AS z
         FROM j
         WHERE abs((CAST(n_chars AS DOUBLE) - mean)
                   / sqrt(m2 - mean * mean)) > 2.0""",
    "x_data_card" ->
      """WITH h AS (
           SELECT source,
             string_agg(lang || ':' || n, ',' ORDER BY lang || ':' || n)
               AS lang_hist
           FROM (SELECT source, lang, count(*) AS n
                 FROM documents GROUP BY source, lang)
           GROUP BY source)
         SELECT d.source,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           count(*) - count(DISTINCT text) AS dup_copies,
           CAST(CAST(SUM(n_chars) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_chars,
           any_value(h.lang_hist) AS lang_hist
         FROM documents d JOIN h ON d.source = h.source
         GROUP BY d.source""",
    "x_regression" ->
      """WITH m AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag),
         s AS (
           SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
           FROM m)
         SELECT l_returnflag, slope,
           (sy - slope * sx) / n AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
         FROM s""",
    "x_decay_features" ->
      """WITH e AS (SELECT user_id, event_id, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
           m AS (SELECT user_id, MAX(tse) AS max_tse FROM e GROUP BY 1)
         SELECT e.user_id, count(*) AS n_events,
           list_reduce(list_prepend(0.0::DOUBLE,
             list(e.value / (1.0 + CAST((m.max_tse - e.tse) // 86400 AS DOUBLE))
               ORDER BY e.tse, e.event_id)),
             (a, b) -> a + b) AS decayed_sum
         FROM e JOIN m USING (user_id) GROUP BY e.user_id""",
    "m_binary_scan" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha_hex FROM documents""",
    "x_cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
           f AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY 1)
         SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
           count(*) AS n_users
         FROM w JOIN f USING (user_id) GROUP BY 1, 2""",
    "x_date_spine" ->
      """WITH s AS (SELECT CAST(unnest(generate_series(DATE '2023-12-25',
             DATE '2024-02-05', INTERVAL 1 DAY)) AS DATE) AS d)
         SELECT s.d, count(e.event_id) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM s LEFT JOIN events e ON CAST(e.ts AS DATE) = s.d
         GROUP BY s.d""",
    "x_stage_latency" ->
      """WITH su AS (SELECT user_id, MIN(ts) AS su FROM events
             WHERE event_type = 'signup' GROUP BY 1),
           cl AS (SELECT e.user_id, MIN(e.ts) AS cl
             FROM events e JOIN su USING (user_id)
             WHERE e.event_type = 'click' AND e.ts >= su.su GROUP BY 1),
           d AS (SELECT CAST(date_trunc('week', su.su) AS DATE) AS cohort_week,
             CAST(FLOOR(epoch(cl.cl)) AS BIGINT)
               - CAST(FLOOR(epoch(su.su)) AS BIGINT) AS delay_s
             FROM su JOIN cl USING (user_id))
         SELECT cohort_week, count(*) AS n_conv,
           quantile_cont(delay_s, 0.5) AS p50_s,
           quantile_cont(delay_s, 0.9) AS p90_s
         FROM d GROUP BY 1""",
    "x_burstiness" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
           g AS (SELECT user_id,
             tse - LAG(tse) OVER (PARTITION BY user_id
               ORDER BY tse, event_id) AS gap FROM e),
           m AS (SELECT user_id, count(*) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS s1,
             CAST(SUM(gap * gap) AS BIGINT) AS s2
             FROM g WHERE gap IS NOT NULL GROUP BY 1)
         SELECT user_id, n_gaps,
           CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
           sqrt(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
             - (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
             / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS cv
         FROM m WHERE s1 > 0""",
    "x_ttr" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_types,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
         FROM documents""",
    "x_concentration" ->
      """WITH per AS (SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
           r AS (SELECT *, CAST(ROW_NUMBER() OVER
             (ORDER BY rev ASC, o_custkey ASC) AS BIGINT) AS rk FROM per),
           c AS (SELECT count(*) AS n_cust FROM per)
         SELECT n_cust,
           CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS total,
           (2.0 * CAST(CAST(SUM(rev * rk) AS VARCHAR) AS DOUBLE)) /
             (CAST(n_cust AS DOUBLE) * CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)) -
             (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE) AS gini,
           CAST(CAST(SUM(CASE WHEN rk > (n_cust * 9) // 10 THEN rev END) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS top_decile_share
         FROM r, c GROUP BY n_cust""",
    "x_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
           c AS (SELECT DISTINCT user_id, day + CAST(off AS INTEGER) AS wday
             FROM ud, UNNEST(generate_series(0, 6)) AS t(off)),
           h AS (SELECT MAX(day) AS max_day FROM ud)
         SELECT wday, count(*) AS mau7 FROM c, h
         WHERE wday <= max_day GROUP BY 1""",
    "x_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
             AS VARCHAR), 1, 1) AS digit
           FROM orders WHERE o_totalprice > 0),
           c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
           t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
         SELECT digit, n, CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
         FROM c, t""",
    "x_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
           s AS (SELECT event_type, LAG(event_type) OVER
             (PARTITION BY user_id ORDER BY tse, event_id) AS prev FROM e),
           t AS (SELECT prev AS from_type, event_type AS to_type,
             count(*) AS n FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
           f AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
             FROM t GROUP BY 1)
         SELECT t.from_type, to_type, n, n_from,
           CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS share
         FROM t JOIN f USING (from_type)""",
    "x_reservoir" ->
      """WITH d AS (SELECT source, doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS draw FROM documents),
           r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY draw, doc_id) AS rn FROM d)
         SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3""",
    "x_quantile_norm" ->
      """SELECT doc_id, lang, n_chars,
           percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
         FROM documents WINDOW w AS (PARTITION BY lang ORDER BY n_chars)""",
    "x_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
           p AS (SELECT a.event_type AS ta, b.event_type AS tb,
             count(*) AS n_ab
             FROM ut a JOIN ut b ON a.user_id = b.user_id
               AND a.event_type < b.event_type GROUP BY 1, 2),
           s AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
           u AS (SELECT count(DISTINCT user_id) AS n_users FROM ut)
         SELECT ta, tb, n_ab, sa.n AS n_a, sb.n AS n_b,
           CAST(n_ab AS DOUBLE) * CAST(n_users AS DOUBLE) /
             (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
         FROM p JOIN s sa ON p.ta = sa.event_type
           JOIN s sb ON p.tb = sb.event_type CROSS JOIN u""",
    "x_mode" ->
      """WITH c AS (SELECT lang, source, count(*) AS n
             FROM documents GROUP BY 1, 2),
           r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY n DESC, source) AS rn FROM c)
         SELECT lang, source AS top_source, n AS n_docs FROM r WHERE rn = 1""",
    "x_growth_accounting" ->
      """WITH wk AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
           s AS (SELECT *, MIN(week) OVER (PARTITION BY user_id) AS first_week,
             LAG(week) OVER w AS prev_week, LEAD(week) OVER w AS next_week
             FROM wk WINDOW w AS (PARTITION BY user_id ORDER BY week)),
           a AS (SELECT week, CASE WHEN week = first_week THEN 'new'
             WHEN date_diff('day', prev_week, week) = 7 THEN 'retained'
             ELSE 'resurrected' END AS status FROM s),
           h AS (SELECT MAX(week) AS max_week FROM wk),
           c AS (SELECT week + 7 AS week, 'churned' AS status FROM s, h
             WHERE (next_week IS NULL OR date_diff('day', week, next_week) > 7)
               AND week + 7 <= max_week),
           u AS (SELECT * FROM a UNION ALL SELECT * FROM c)
         SELECT week, status, count(*) AS n_users FROM u GROUP BY 1, 2""",
    "x_session_features" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
           w AS (SELECT *, LAG(tse) OVER win AS prev_tse,
             ROW_NUMBER() OVER win AS rn
             FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tse, event_id)),
           m AS (SELECT *, CASE WHEN prev_tse IS NULL OR tse - prev_tse > 1800
             THEN 1 ELSE 0 END AS is_new FROM w),
           r AS (SELECT *, SUM(is_new) OVER wrun AS session_seq,
             MAX(CASE WHEN is_new = 1 THEN tse END) OVER wrun AS sess_start,
             MAX(CASE WHEN is_new = 1 THEN rn END) OVER wrun AS sess_start_rn
             FROM m WINDOW wrun AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS UNBOUNDED PRECEDING))
         SELECT user_id, event_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(rn - sess_start_rn + 1 AS BIGINT) AS event_idx,
           tse - sess_start AS secs_in_session,
           tse - prev_tse AS secs_since_prev
         FROM r""",
    "x_user_state" ->
      """SELECT user_id, count(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS sum_cents,
           count(DISTINCT event_type) AS n_types
         FROM events GROUP BY 1""",
    "x_concurrency" ->
      """WITH e AS (SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(60 + event_id % 240 AS BIGINT) AS dur FROM events),
           d AS (SELECT event_type, s AS t, 1 AS delta FROM e
             UNION ALL SELECT event_type, s + dur AS t, -1 AS delta FROM e),
           r AS (SELECT event_type, t,
             SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS conc
             FROM d),
           m AS (SELECT *, MAX(conc) OVER (PARTITION BY event_type) AS mx FROM r)
         SELECT event_type, CAST(MAX(mx) AS BIGINT) AS max_concurrent,
           MIN(t) AS first_peak_epoch
         FROM m WHERE conc = mx GROUP BY 1""",
    "x_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 60 + event_id % 240 AS e
           FROM events),
           m AS (SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
             FROM iv),
           o AS (SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
             THEN 1 ELSE 0 END AS opens FROM m),
           i AS (SELECT *, SUM(opens) OVER (PARTITION BY user_id
             ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS island FROM o),
           g AS (SELECT user_id, island, count(*) AS n_iv,
             MAX(e) - MIN(s) AS cover FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
           CAST(MAX(island) AS BIGINT) AS n_islands,
           CAST(SUM(cover) AS BIGINT) AS covered_s
         FROM g GROUP BY 1""",
    "x_event_funnel" ->
      """WITH su AS (SELECT user_id,
             MIN(ts) FILTER (event_type = 'signup') AS signup_ts
           FROM events GROUP BY 1),
           cl AS (SELECT e.user_id, MIN(e.ts) AS click_ts
             FROM events e JOIN su USING (user_id)
             WHERE e.event_type = 'click' AND su.signup_ts IS NOT NULL
               AND e.ts >= su.signup_ts GROUP BY 1),
           pu AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
             FROM events e JOIN cl USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts >= cl.click_ts
             GROUP BY 1)
         SELECT CAST(date_trunc('week', su.signup_ts) AS DATE) AS cohort_week,
           count(*) AS n_signup, count(cl.click_ts) AS n_click,
           count(pu.purchase_ts) AS n_purchase,
           CAST(count(pu.purchase_ts) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS conv
         FROM su LEFT JOIN cl USING (user_id) LEFT JOIN pu USING (user_id)
         WHERE su.signup_ts IS NOT NULL GROUP BY 1""",
    // r12 re-anchor: the oracle replays the engine's variable-length
    // PassJoin pigeonhole candidates (index side posts maxDist+1
    // segments under its own prefix length; the longer side probes
    // displaced windows), then runs Levenshtein only on survivors. The
    // pigeonhole is LOSSLESS, so this is value-identical to the former
    // plain block-quadratic join at every SF — but where that form's
    // DP cost exceeded the 900 s oracle timeout at 100× rows, this one
    // is candidate-bounded like the engine. The plain form remains the
    // spec twin (AnalyticsSpec "segment filter is lossless").
    "d_edit_distance" ->
      """WITH d AS MATERIALIZED (
           SELECT doc_id, lang, substr(text, 1, 64) AS prefix,
             n_chars // 40 AS blk, len(substr(text, 1, 64)) AS plen
           FROM documents),
         lens AS (SELECT DISTINCT lang, blk, plen AS L FROM d),
         segs AS (
           SELECT d.doc_id AS b, d.lang, d.blk, d.plen AS L, g.i,
             substr(d.prefix,
                    1 + g.i * (d.plen // 13) + least(g.i, d.plen % 13),
                    d.plen // 13
                      + CASE WHEN g.i < d.plen % 13 THEN 1 ELSE 0 END) AS sub
           FROM d CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i) g),
         pr AS (
           SELECT x.doc_id AS a, x.lang, x.blk, x.plen, l.L, g.i,
             l.L // 13 + CASE WHEN g.i < l.L % 13 THEN 1 ELSE 0 END AS sl,
             1 + g.i * (l.L // 13) + least(g.i, l.L % 13) AS st,
             x.prefix
           FROM d x
           JOIN lens l ON x.lang = l.lang AND x.blk = l.blk
             AND l.L BETWEEN x.plen - 12 AND x.plen
           CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i) g),
         probes AS (
           SELECT a, lang, blk, plen, L, i, sl, prefix,
             unnest(generate_series(greatest(st - 12, 1),
                                    least(st + 12, plen - sl + 1))) AS p
           FROM pr),
         cand AS (
           SELECT DISTINCT least(p.a, s.b) AS a, greatest(p.a, s.b) AS b,
             p.lang, p.blk
           FROM (SELECT a, lang, blk, plen, L, i,
                   substr(prefix, p, sl) AS sub FROM probes) p
           JOIN segs s ON p.lang = s.lang AND p.blk = s.blk
             AND p.L = s.L AND p.i = s.i AND p.sub = s.sub
           WHERE p.plen > s.L OR p.a < s.b)
         SELECT c.a, c.b, c.lang,
           CAST(levenshtein(da.prefix, db.prefix) AS BIGINT) AS dist
         FROM cand c
         JOIN d da ON da.doc_id = c.a
         JOIN d db ON db.doc_id = c.b
         WHERE levenshtein(da.prefix, db.prefix) <= 12""",
    "x_profile" -> {
      def num(c: String, e: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
              count(*) - count($c) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              CAST(MIN($e) AS DOUBLE) AS min_num,
              CAST(MAX($e) AS DOUBLE) AS max_num,
              NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
            FROM orders"""
      def str(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
              count(*) - count($c) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
              MIN($c) AS min_str, MAX($c) AS max_str
            FROM orders"""
      Seq(
        num("o_orderkey", "o_orderkey"), num("o_custkey", "o_custkey"),
        str("o_orderstatus"), num("o_totalprice", "o_totalprice"),
        num("o_orderdate", "FLOOR(epoch(o_orderdate))"),
        str("o_orderpriority")).mkString(" UNION ALL ")
    },
    "x_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($W) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
                  CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                    / CAST(df.df AS DOUBLE) AS score
                FROM tf JOIN df USING (term) CROSS JOIN n)
          SELECT doc_id, term, tf, df, n_docs, score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rn FROM s)
          WHERE rn = 1""",
    // BM25 mirror of bm25(): identical tokenization, query-term filter,
    // df/dl/avgdl statistics, the same IEEE expression tree per term
    // (un-logged idf odds × Robertson saturation), and a term-ordered
    // sum fold.
    "x_bm25" ->
      s"""WITH dls AS (SELECT doc_id,
                  CAST(len($W) AS BIGINT) AS dl FROM documents),
          st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot,
                   count(*) AS n_docs FROM dls),
          t AS (SELECT doc_id, unnest($W) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                 WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id, tf.term,
                   (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5) AS idf_ratio,
                   (CAST(tf AS DOUBLE) * 2.2)
                     / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                         (CAST(dl AS DOUBLE)
                           / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
                     AS tf_part
                 FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id)
                 CROSS JOIN st)
          SELECT doc_id, count(*) AS n_hit_terms,
            list_reduce(list_prepend(0.0::DOUBLE,
                list(idf_ratio * tf_part ORDER BY term)),
              (a, b) -> a + b) AS bm25
          FROM sc GROUP BY doc_id""",
    // MAD mirror: quantile_cont ≡ Spark percentile (bit-identical
    // interpolation, pinned by x_percentiles), then per-row abs-dev.
    "x_mad_outliers" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x FROM documents),
         med AS (SELECT lang, quantile_cont(x, 0.5) AS med FROM d GROUP BY 1),
         dev AS (SELECT d.lang, med, abs(x - med) AS adev
                 FROM d JOIN med USING (lang)),
         mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT dev.lang, count(*) AS n, MIN(med) AS med, MIN(mad) AS mad,
           CAST(SUM(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM dev JOIN mad USING (lang) GROUP BY 1""",
    // Row-number mirror: the single-partition window form — the values
    // are what rowNumbered computes distributively.
    "x_row_number" ->
      """SELECT doc_id, lang,
           ROW_NUMBER() OVER (ORDER BY doc_id) AS row_num,
           (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 100 AS shard
         FROM documents""",
    // Sorted-neighborhood mirror: global positions by (key, doc_id),
    // then the w=4 window as an explicit rank-distance self-join (the
    // quadratic form the bucket join avoids).
    "x_sorted_blocking" ->
      """WITH n AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents),
         r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM n)
         SELECT r1.doc_id AS a, r2.doc_id AS b, r2.rn - r1.rn AS gap
         FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3""",
    // Blocking-audit mirror: same dup-bearing universe as d_exact_dedup,
    // same SNM candidate construction as x_sorted_blocking, EXISTS for
    // the capture semi-join, two mirrored IEEE divisions at the end.
    "x_blocking_audit" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
         t AS (SELECT x.doc_id AS a, y.doc_id AS b
               FROM all_docs x JOIN all_docs y
                 ON sha256(x.text) = sha256(y.text) AND x.doc_id < y.doc_id),
         n AS (SELECT doc_id, substr(text, 1, 12) AS k FROM all_docs),
         r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM n),
         c AS (SELECT r1.doc_id AS a, r2.doc_id AS b
               FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3),
         s AS (SELECT
                 (SELECT count(*) FROM all_docs) AS n_docs,
                 (SELECT count(*) FROM t) AS n_true,
                 (SELECT count(*) FROM c) AS n_cand,
                 (SELECT count(*) FROM t
                  WHERE EXISTS (SELECT 1 FROM c
                                WHERE c.a = t.a AND c.b = t.b)) AS n_captured)
         SELECT n_docs, n_true, n_cand, n_captured,
           CASE WHEN n_true > 0
             THEN CAST(n_captured AS DOUBLE) / CAST(n_true AS DOUBLE)
           END AS pairs_completeness,
           1.0 - CAST(n_cand AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0) / 2.0)
             AS reduction_ratio
         FROM s""",
    // Fellegi–Sunter mirror: same dup-bearing universe and SNM
    // candidates, same three agreement attributes, UNION-ALL unpivot,
    // integer odds products, one mirrored division.
    "x_fs_weights" ->
      """WITH all_docs AS (
           SELECT doc_id, text, lang, source, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 100000, text, lang, source, n_chars
           FROM documents WHERE doc_id % 7 = 0),
         n AS (SELECT doc_id, substr(text, 1, 12) AS k FROM all_docs),
         r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM n),
         cand AS (SELECT r1.doc_id AS a, r2.doc_id AS b
                  FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3),
         p AS (SELECT (da.text = db.text) AS is_match,
                 (da.lang = db.lang) AS ag_lang,
                 (da.source = db.source) AS ag_source,
                 (abs(da.n_chars - db.n_chars) <= 5) AS ag_len
               FROM cand JOIN all_docs da ON cand.a = da.doc_id
                         JOIN all_docs db ON cand.b = db.doc_id),
         l AS (SELECT is_match, 'lang' AS attr, ag_lang AS agree FROM p
               UNION ALL
               SELECT is_match, 'source', ag_source FROM p
               UNION ALL
               SELECT is_match, 'len5', ag_len FROM p),
         agg AS (SELECT attr,
             CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree_match,
             CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unmatch,
             CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree_unmatch
           FROM l GROUP BY 1)
         SELECT attr, n_match, n_agree_match, n_unmatch, n_agree_unmatch,
           n_agree_match * n_unmatch AS odds_num,
           n_match * n_agree_unmatch AS odds_den,
           CASE WHEN n_match * n_agree_unmatch > 0
             THEN CAST(n_agree_match * n_unmatch AS DOUBLE)
               / CAST(n_match * n_agree_unmatch AS DOUBLE)
           END AS agreement_odds
         FROM agg""",
    // Golden-record mirror: same SNM candidates and prefix-Levenshtein
    // match, transitive closure by recursive reachability (min label =
    // entity id — CC's fixed point is iteration-order independent), and
    // the same survivorship window/rollup.
    "x_golden_record" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents),
         r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM n),
         cand AS (SELECT r1.doc_id AS a, r2.doc_id AS b
                  FROM r r1 JOIN r r2 ON r2.rn - r1.rn BETWEEN 1 AND 3),
         m AS (SELECT a, b FROM cand
               JOIN documents da ON cand.a = da.doc_id
               JOIN documents db ON cand.b = db.doc_id
               WHERE levenshtein(substr(da.text, 1, 64),
                                 substr(db.text, 1, 64)) <= 12),
         edges AS (SELECT a AS src, b AS dst FROM m
                   UNION SELECT b, a FROM m),
         reach(node, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
         lbl AS (SELECT node AS doc_id, MIN(r) AS label FROM reach GROUP BY 1),
         member AS (
           SELECT d.doc_id, d.lang, d.n_chars,
             COALESCE(lbl.label, d.doc_id) AS cluster
           FROM documents d LEFT JOIN lbl USING (doc_id)),
         rep AS (
           SELECT cluster, doc_id AS rep_id, n_chars AS rep_n_chars FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY n_chars DESC, doc_id) AS rn FROM member)
           WHERE rn = 1)
         SELECT member.cluster, count(*) AS n_members,
           MIN(doc_id) AS canonical_id,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           rep_id, rep_n_chars
         FROM member JOIN rep ON member.cluster = rep.cluster
         GROUP BY member.cluster, rep_id, rep_n_chars""",
    // Drift mirror: same parity split, same width-50 bins, same rescaled
    // expectation and chi-square component arithmetic; ref-unseen bins
    // NULL on both sides.
    "x_drift" ->
      """WITH e AS (SELECT event_type,
                  event_id % 2 = 0 AS is_ref,
                  CAST(FLOOR(value / 50.0) AS BIGINT) AS bin FROM events),
         counts AS (SELECT event_type, bin,
                  CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                  CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
                FROM e GROUP BY 1, 2),
         totals AS (SELECT event_type,
                  CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
                  CAST(SUM(n_cur) AS BIGINT) AS tot_cur
                FROM counts GROUP BY 1),
         ex AS (SELECT counts.event_type, bin, n_ref, n_cur,
                  CASE WHEN n_ref > 0 THEN CAST(n_ref AS DOUBLE) *
                    (CAST(tot_cur AS DOUBLE) / CAST(tot_ref AS DOUBLE))
                  END AS expected
                FROM counts JOIN totals USING (event_type))
         SELECT event_type, bin, n_ref, n_cur, expected,
           (CAST(n_cur AS DOUBLE) - expected) *
             (CAST(n_cur AS DOUBLE) - expected) / expected AS chi2_component
         FROM ex""",
    "x_session_window" ->
      // Same gaps-and-islands state machine as x_sessionize (the native
      // session_window merge is end-inclusive: an event exactly gap
      // seconds after the last still merges, hence strict >), with the
      // window-end convention end_epoch = last event + gap.
      """WITH e AS (
           SELECT user_id, ts, event_id, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tse FROM events),
         m AS (
           SELECT *, CASE WHEN tse - LAG(tse) OVER w > 1800
                            OR LAG(tse) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS seq FROM m)
         SELECT user_id,
           MIN(tse) AS start_epoch, MAX(tse) + 1800 AS end_epoch,
           count(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, seq""",
    "x_heavy_hitters" -> {
      val G = "list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])"
      s"""WITH grams AS (
            SELECT unnest(CASE WHEN len(w) >= 2 THEN $G ELSE [] END) AS b
            FROM (SELECT $W AS w FROM documents)),
          n AS (SELECT count(*) AS n_total FROM grams)
          SELECT b AS bigram, count(*) AS cnt, n.n_total AS n_total
          FROM grams, n
          GROUP BY b, n.n_total
          HAVING CAST(count(*) AS DOUBLE) >= CAST(n.n_total AS DOUBLE) * 0.001"""
    },
    "x_vocab_encode" -> {
      val G = "list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])"
      s"""WITH grams AS (
            SELECT unnest(CASE WHEN len(w) >= 2 THEN $G ELSE [] END) AS b
            FROM (SELECT $W AS w FROM documents)),
          top AS (SELECT b, count(*) AS cnt FROM grams
                  GROUP BY 1 ORDER BY cnt DESC, b LIMIT 256),
          voc AS (SELECT list(b ORDER BY cnt DESC, b) AS vl FROM top),
          enc AS (
            SELECT doc_id,
              list_transform(
                CASE WHEN len(w) >= 2 THEN $G ELSE [] END,
                t -> coalesce(list_position(vl, t), 0)) AS ids
            FROM (SELECT doc_id, $W AS w FROM documents), voc)
          SELECT doc_id,
            array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ' ')
              AS ids_str,
            CAST(len(ids) AS BIGINT) AS n_grams,
            CAST(len(list_filter(ids, i -> i = 0)) AS BIGINT) AS n_oov
          FROM enc"""
    },
    "d_cdc_chunks" -> {
      // outer index vars must not be `i`: DuckSql.polyHash's inner lambda
      // binds `i` and would shadow it inside the hashed expression
      val hashWord = DuckSql.polyHash("ws[wi]")
      val hashChunk =
        DuckSql.polyHash("array_to_string(list_slice(ws, starts[ci], ends[ci]), ' ')")
      s"""WITH base AS (SELECT doc_id, $W AS ws FROM documents),
          b AS (
            SELECT doc_id, ws,
              list_filter(generate_series(1, len(ws)), wi -> $hashWord % 16 = 0) AS bs
            FROM base),
          se AS (
            SELECT doc_id, ws,
              list_prepend(1, list_transform(bs, x -> x + 1)) AS starts,
              list_append(bs, len(ws)) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              CAST(ends[ci] - starts[ci] + 1 AS BIGINT) AS n_words,
              $hashChunk AS chunk_hash
            FROM se, unnest(generate_series(1, len(starts))) t(ci)
            WHERE starts[ci] <= ends[ci]),
          dfq AS (
            SELECT chunk_hash, count(DISTINCT doc_id) AS cdf FROM ch GROUP BY 1)
          SELECT ch.doc_id, count(*) AS n_chunks,
            CAST(SUM(CASE WHEN dfq.cdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_shared_chunks,
            CAST(SUM(ch.n_words) AS BIGINT) AS n_words
          FROM ch JOIN dfq USING (chunk_hash)
          GROUP BY ch.doc_id"""
    },
    "x_bloom_prune" ->
      """SELECT l_returnflag, count(*) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag""",
    "x_triangles" ->
      // Oracle enumerates triangles in plain a<b<c id order; the Spark
      // side's degree-ordered orientation finds the same triangle set
      // (orientation only changes WHERE each triangle is discovered).
      s"""WITH $coPurchaseCte,
         tri AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM edges e1 JOIN edges e2 ON e1.b = e2.a
           JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT v AS user_id, count(*) AS n_triangles
         FROM (SELECT x AS v FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         GROUP BY 1""",
    "x_pagerank" ->
      // Exact replay of the fixed-point iterations: integer division at
      // the same two points (per-source share, damping) makes every
      // intermediate a bit-exact BIGINT in both engines.
      s"""WITH $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         p0 AS MATERIALIZED (SELECT u, CAST(1000000000000 AS BIGINT) AS pr FROM deg),
         c1 AS MATERIALIZED (SELECT und.v AS u, CAST(SUM(p0.pr // d.deg) AS BIGINT) AS s
                FROM und JOIN deg d USING (u) JOIN p0 USING (u) GROUP BY 1),
         p1 AS MATERIALIZED (SELECT u, CAST(150000000000 + 85 * (s // 100)
                  + (85 * (s % 100)) // 100 AS BIGINT) AS pr FROM c1),
         c2 AS MATERIALIZED (SELECT und.v AS u, CAST(SUM(p1.pr // d.deg) AS BIGINT) AS s
                FROM und JOIN deg d USING (u) JOIN p1 USING (u) GROUP BY 1),
         p2 AS MATERIALIZED (SELECT u, CAST(150000000000 + 85 * (s // 100)
                  + (85 * (s % 100)) // 100 AS BIGINT) AS pr FROM c2),
         c3 AS MATERIALIZED (SELECT und.v AS u, CAST(SUM(p2.pr // d.deg) AS BIGINT) AS s
                FROM und JOIN deg d USING (u) JOIN p2 USING (u) GROUP BY 1),
         p3 AS (SELECT u, CAST(150000000000 + 85 * (s // 100)
                  + (85 * (s % 100)) // 100 AS BIGINT) AS pr FROM c3)
         SELECT u AS user_id, pr AS pr_fixed FROM p3""",
    "x_bfs_reach" ->
      // Exact replay of the four synchronous relaxations: unit-weight
      // integer hops, min-merge per round — every intermediate is a
      // BIGINT in both engines.
      s"""WITH $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         d0 AS MATERIALIZED (SELECT DISTINCT u AS v, CAST(0 AS BIGINT) AS dist
                FROM und WHERE u % 97 = 0),
         d1 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
                  SELECT * FROM d0 UNION ALL
                  SELECT und.v, d0.dist + 1 FROM d0 JOIN und ON d0.v = und.u)
                GROUP BY 1),
         d2 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
                  SELECT * FROM d1 UNION ALL
                  SELECT und.v, d1.dist + 1 FROM d1 JOIN und ON d1.v = und.u)
                GROUP BY 1),
         d3 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
                  SELECT * FROM d2 UNION ALL
                  SELECT und.v, d2.dist + 1 FROM d2 JOIN und ON d2.v = und.u)
                GROUP BY 1),
         d4 AS (SELECT v, MIN(dist) AS dist FROM (
                  SELECT * FROM d3 UNION ALL
                  SELECT und.v, d3.dist + 1 FROM d3 JOIN und ON d3.v = und.u)
                GROUP BY 1)
         SELECT v AS user_id, dist FROM d4""",
    "x_kcore" ->
      // Exact replay of the four peel rounds: each round's degree is
      // counted over edges with BOTH endpoints still remaining, and
      // vertices with zero remaining edges (absent from the count) peel
      // via COALESCE — all-integer, so the hash matches bit-for-bit.
      s"""WITH $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         v0 AS MATERIALIZED (SELECT DISTINCT u FROM und),
         d1 AS MATERIALIZED (SELECT u, count(*) AS deg FROM und GROUP BY 1),
         p1 AS MATERIALIZED (SELECT v0.u FROM v0 LEFT JOIN d1 USING (u)
                WHERE COALESCE(deg, 0) < 3),
         r1 AS MATERIALIZED (SELECT u FROM v0 EXCEPT SELECT u FROM p1),
         d2 AS MATERIALIZED (SELECT und.u, count(*) AS deg FROM und
                JOIN r1 ra ON und.u = ra.u JOIN r1 rb ON und.v = rb.u
                GROUP BY 1),
         p2 AS MATERIALIZED (SELECT r1.u FROM r1 LEFT JOIN d2 USING (u)
                WHERE COALESCE(deg, 0) < 3),
         r2 AS MATERIALIZED (SELECT u FROM r1 EXCEPT SELECT u FROM p2),
         d3 AS MATERIALIZED (SELECT und.u, count(*) AS deg FROM und
                JOIN r2 ra ON und.u = ra.u JOIN r2 rb ON und.v = rb.u
                GROUP BY 1),
         p3 AS MATERIALIZED (SELECT r2.u FROM r2 LEFT JOIN d3 USING (u)
                WHERE COALESCE(deg, 0) < 3),
         r3 AS MATERIALIZED (SELECT u FROM r2 EXCEPT SELECT u FROM p3),
         d4 AS (SELECT und.u, count(*) AS deg FROM und
                JOIN r3 ra ON und.u = ra.u JOIN r3 rb ON und.v = rb.u
                GROUP BY 1),
         p4 AS (SELECT r3.u FROM r3 LEFT JOIN d4 USING (u)
                WHERE COALESCE(deg, 0) < 3),
         r4 AS (SELECT u FROM r3 EXCEPT SELECT u FROM p4)
         SELECT u AS user_id, peeled_round FROM (
           SELECT u, CAST(1 AS BIGINT) AS peeled_round FROM p1
           UNION ALL SELECT u, 2 FROM p2
           UNION ALL SELECT u, 3 FROM p3
           UNION ALL SELECT u, 4 FROM p4
           UNION ALL SELECT u, CAST(NULL AS BIGINT) FROM r4)""",
    // Equi-depth mirror: quantile_cont cutpoints, same half-open rule.
    "x_eq_depth_hist" ->
      """WITH o AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders),
         c AS (SELECT quantile_cont(x, 0.25) AS q1,
                 quantile_cont(x, 0.5) AS q2,
                 quantile_cont(x, 0.75) AS q3 FROM o)
         SELECT CAST(CASE WHEN x < q1 THEN 0 WHEN x < q2 THEN 1
                     WHEN x < q3 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
           count(*) AS n, MIN(x) AS lo, MAX(x) AS hi
         FROM o CROSS JOIN c GROUP BY 1""",
    // KMV mirror: the k smallest distinct hashes are a pure set
    // function — sort distinct hashes, slice k, same estimator branch.
    "x_kmv_distinct" -> {
      val ph = DuckSql.polyHash("text")
      s"""WITH h AS (SELECT DISTINCT lang, $ph AS h FROM documents),
          s AS (SELECT lang, list_sort(list(h)) AS hs FROM h GROUP BY 1),
          m AS (SELECT lang, list_slice(hs, 1, 32) AS mins FROM s)
          SELECT lang, CAST(len(mins) AS BIGINT) AS n_mins,
            mins[len(mins)] AS kth_min,
            list_reduce(list_prepend(0::BIGINT, mins),
              (a, b) -> a + b) AS mins_sum,
            CASE WHEN len(mins) < 32 THEN CAST(len(mins) AS DOUBLE)
                 ELSE 31.0 * 1000000007.0 / CAST(mins[32] AS DOUBLE)
            END AS est_distinct
          FROM m"""
    },
    // HLL mirror: replay bucket/ρ from the same polyHash, MAX per
    // register, then the two integer scalars + one mirrored division.
    // ρ is a generated comparison ladder (no log2 — floats near powers
    // of two round unreliably); missing registers contribute 2^21 each.
    "x_hll_distinct" -> {
      val ph = DuckSql.polyHash("text")
      val whens = (1 to 20)
        .map(k => s"WHEN v >= ${1L << (20 - k)} THEN $k").mkString(" ")
      val cNum = graft.functions.HllSketch.alphaNumerator(10, 20)
      s"""WITH h AS (SELECT lang, $ph AS h FROM documents),
          r AS (SELECT lang, h, h % 1024 AS bucket, h // 1024 AS v FROM h),
          rr AS (SELECT lang, h, bucket,
                   CASE WHEN v = 0 THEN 21 $whens END AS rho FROM r),
          m AS (SELECT lang, bucket, MAX(rho) AS mj FROM rr GROUP BY 1, 2),
          s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_present,
                  CAST(SUM(CAST(POW(2.0, 21 - mj) AS BIGINT)) AS BIGINT) AS sp
                FROM m GROUP BY 1),
          e AS (SELECT lang, COUNT(DISTINCT h) AS exact_distinct
                FROM h GROUP BY 1)
          SELECT s.lang, e.exact_distinct,
            1024 - n_present AS n_zero,
            sp + (1024 - n_present) * 2097152 AS s_scaled,
            $cNum / CAST(sp + (1024 - n_present) * 2097152 AS DOUBLE)
              AS est_raw
          FROM s JOIN e ON s.lang = e.lang"""
    },
    // HLL union-rollup mirror: the oracle builds per-lang registers
    // DIRECTLY (no shard level at all) — hash equality proves the
    // query's shard-sketch max-merge is lossless end-to-end.
    "x_hll_union" -> {
      val ph = DuckSql.polyHash("text")
      val whens = (1 to 20)
        .map(k => s"WHEN v >= ${1L << (20 - k)} THEN $k").mkString(" ")
      val cNum = graft.functions.HllSketch.alphaNumerator(10, 20)
      s"""WITH h AS (SELECT lang, $ph AS h FROM documents),
          r AS (SELECT lang, h % 1024 AS bucket, h // 1024 AS v FROM h),
          rr AS (SELECT lang, bucket,
                   CASE WHEN v = 0 THEN 21 $whens END AS rho FROM r),
          m AS (SELECT lang, bucket, MAX(rho) AS mj FROM rr GROUP BY 1, 2),
          s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_present,
                  CAST(SUM(CAST(POW(2.0, 21 - mj) AS BIGINT)) AS BIGINT) AS sp
                FROM m GROUP BY 1)
          SELECT lang, 1024 - n_present AS n_zero,
            sp + (1024 - n_present) * 2097152 AS s_scaled,
            $cNum / CAST(sp + (1024 - n_present) * 2097152 AS DOUBLE)
              AS est_raw
          FROM s"""
    },
    // Target-encoding mirror: decimal sums, one double smoothing ratio.
    "x_target_encode" ->
      """WITH e AS (SELECT event_type,
                  CAST(value AS DECIMAL(18,2)) AS v FROM events),
         g AS (SELECT SUM(v) AS gsum, count(*) AS gn FROM e)
         SELECT event_type, count(*) AS n,
           (CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) + 100.0 *
             (CAST(gsum AS DOUBLE) / CAST(gn AS DOUBLE)))
             / (CAST(count(*) AS DOUBLE) + 100.0) AS enc
         FROM e CROSS JOIN g GROUP BY event_type, gsum, gn""",
    // Seasonal-decomposition mirror: decimal series + decimal RANGE
    // window trend, mirrored divisions, hr-ordered fold for the
    // hour-of-day means.
    "x_seasonal" ->
      """WITH e AS (SELECT event_type,
                  CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr,
                  CAST(value AS DECIMAL(18,2)) AS v FROM events),
         s AS (SELECT event_type, hr, SUM(v) AS vd FROM e GROUP BY 1, 2),
         t AS (SELECT event_type, hr, CAST(vd AS DOUBLE) AS v,
                 CAST(SUM(vd) OVER w AS DOUBLE)
                   / CAST(COUNT(*) OVER w AS DOUBLE) AS trend
               FROM s WINDOW w AS (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         d AS (SELECT *, v - trend AS detrend FROM t),
         se AS (SELECT event_type, hr % 24 AS hod,
                  list_reduce(list_prepend(0.0::DOUBLE,
                      list(detrend ORDER BY hr)),
                    (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS seasonal
                FROM d GROUP BY 1, 2)
         SELECT d.event_type, hr, v, trend, detrend, seasonal,
           detrend - seasonal AS remainder
         FROM d JOIN se ON d.event_type = se.event_type
           AND d.hr % 24 = se.hod""",
    "x_integrity_audit" ->
      // Same checks as scalar subqueries; NULL n_total where the check
      // has no natural denominator (orphan counts).
      """SELECT 'lineitem_nonpositive_quantity' AS "check",
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT) AS n_bad,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_total
         UNION ALL
         SELECT 'lineitem_negative_price',
           (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0),
           (SELECT count(*) FROM lineitem)
         UNION ALL
         SELECT 'events_null_user',
           (SELECT count(*) FROM events WHERE user_id IS NULL),
           (SELECT count(*) FROM events)
         UNION ALL
         SELECT 'lineitem_orphan_orderkey',
           (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
             (SELECT o_orderkey FROM orders)),
           CAST(NULL AS BIGINT)
         UNION ALL
         SELECT 'orders_orphan_custkey',
           (SELECT count(*) FROM orders WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer)),
           CAST(NULL AS BIGINT)
         UNION ALL
         SELECT 'orders_duplicate_orderkey',
           (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT)
            FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)),
           (SELECT count(DISTINCT o_orderkey) FROM orders)""",
    "x_label_prop" ->
      // Exact replay of the three plurality rounds: per-vertex neighbor-
      // label counts, argmax with (count DESC, label) tie-break, own
      // label kept when no neighbor messages arrive.
      s"""WITH $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM und),
         c1 AS (SELECT und.v, l0.label, count(*) AS cnt
                FROM und JOIN l0 ON und.u = l0.node GROUP BY 1, 2),
         p1 AS (SELECT v AS node, label AS nlabel FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY v
                    ORDER BY cnt DESC, label) AS rn FROM c1) WHERE rn = 1),
         l1 AS MATERIALIZED (SELECT l0.node, COALESCE(nlabel, label) AS label
                FROM l0 LEFT JOIN p1 USING (node)),
         c2 AS (SELECT und.v, l1.label, count(*) AS cnt
                FROM und JOIN l1 ON und.u = l1.node GROUP BY 1, 2),
         p2 AS (SELECT v AS node, label AS nlabel FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY v
                    ORDER BY cnt DESC, label) AS rn FROM c2) WHERE rn = 1),
         l2 AS MATERIALIZED (SELECT l1.node, COALESCE(nlabel, label) AS label
                FROM l1 LEFT JOIN p2 USING (node)),
         c3 AS (SELECT und.v, l2.label, count(*) AS cnt
                FROM und JOIN l2 ON und.u = l2.node GROUP BY 1, 2),
         p3 AS (SELECT v AS node, label AS nlabel FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY v
                    ORDER BY cnt DESC, label) AS rn FROM c3) WHERE rn = 1),
         l3 AS (SELECT l2.node, COALESCE(nlabel, label) AS label
                FROM l2 LEFT JOIN p3 USING (node))
         SELECT node AS user_id, label AS community FROM l3""",
    "x_sssp" ->
      // Exact replay of the four weighted relaxations: integer costs
      // (w = max(1, 10 - shared)), min-merge per round.
      s"""WITH $coPurchaseCte,
         ew AS MATERIALIZED (SELECT a, b,
                  GREATEST(CAST(1 AS BIGINT), 10 - shared) AS w FROM edges),
         und AS MATERIALIZED (SELECT a AS u, b AS v, w FROM ew
                 UNION ALL SELECT b, a, w FROM ew),
         c0 AS MATERIALIZED (SELECT DISTINCT u AS v, CAST(0 AS BIGINT) AS cost
                FROM und WHERE u % 97 = 0),
         c1 AS MATERIALIZED (SELECT v, MIN(cost) AS cost FROM (
                  SELECT * FROM c0 UNION ALL
                  SELECT und.v, c0.cost + und.w FROM c0 JOIN und ON c0.v = und.u)
                GROUP BY 1),
         c2 AS MATERIALIZED (SELECT v, MIN(cost) AS cost FROM (
                  SELECT * FROM c1 UNION ALL
                  SELECT und.v, c1.cost + und.w FROM c1 JOIN und ON c1.v = und.u)
                GROUP BY 1),
         c3 AS MATERIALIZED (SELECT v, MIN(cost) AS cost FROM (
                  SELECT * FROM c2 UNION ALL
                  SELECT und.v, c2.cost + und.w FROM c2 JOIN und ON c2.v = und.u)
                GROUP BY 1),
         c4 AS (SELECT v, MIN(cost) AS cost FROM (
                  SELECT * FROM c3 UNION ALL
                  SELECT und.v, c3.cost + und.w FROM c3 JOIN und ON c3.v = und.u)
                GROUP BY 1)
         SELECT v AS user_id, cost FROM c4""",
    "x_ivm_join" ->
      // The oracle is the FULL recompute: the four delta-algebra terms
      // must tile it exactly (no dup, no gap).
      """SELECT o.o_orderkey, o.o_custkey, c.c_name,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
    "d_winnowing" -> {
      // 5-gram rolling hashes (same as x_fingerprint), then winnowing:
      // min of each 8-hash window, deduped. DuckDB list_slice is
      // inclusive-INDEX-based (Spark slice is length-based): window i
      // spans indices [i, i+7].
      val gram = (1 to 4).foldLeft("c[i]") { (acc, j) => s"($acc*31 + c[i+$j])" }
      s"""WITH g AS (
            SELECT doc_id,
              CASE WHEN length(text) >= 5
              THEN list_transform(generate_series(1, length(text) - 4), i -> $gram)
              ELSE [] END AS g
            FROM (SELECT doc_id, text, ${DuckSql.charCodes("text")} AS c FROM documents)),
          fpt AS (
            SELECT doc_id,
              CASE WHEN len(g) = 0 THEN []
                   WHEN len(g) < 8 THEN [list_min(g)]
                   ELSE list_distinct(list_transform(
                     generate_series(1, len(g) - 7),
                     i -> list_min(list_slice(g, i, i + 7)))) END AS fps
            FROM g),
          ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpt),
          dfq AS (SELECT fp, count(*) AS df FROM ex GROUP BY 1),
          rolled AS (
            SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_fps,
              CAST(SUM(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_shared_fps
            FROM ex JOIN dfq USING (fp) GROUP BY 1)
          SELECT fpt.doc_id,
            coalesce(rolled.n_fps, 0::BIGINT) AS n_fps,
            coalesce(rolled.n_shared_fps, 0::BIGINT) AS n_shared_fps
          FROM fpt LEFT JOIN rolled ON fpt.doc_id = rolled.doc_id"""
    },
    "x_skyline" ->
      // Dominance resolved by the O(n log n) sweep, not the literal
      // O(n^2) NOT EXISTS (which timed out at sf1): a point survives iff
      // its odate is its price-group maximum AND strictly above the max
      // odate over all strictly-higher prices (m1). Equivalence to the
      // pairwise definition is exact, ties included: equal (price,odate)
      // duplicates never strictly dominate each other, and any dominator
      // is accounted by either m1 (higher price) or the group max (same
      // price, higher odate). ISO date strings compare chronologically.
      """WITH o AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
             CAST(o_orderdate AS VARCHAR) AS odate
           FROM orders),
         g AS (SELECT price, max(odate) AS gmax FROM o GROUP BY price),
         s AS (SELECT price, gmax,
             MAX(gmax) OVER (ORDER BY price DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
           FROM g)
         SELECT o.o_orderkey, o.price, o.odate
         FROM o JOIN s ON o.price = s.price AND o.odate = s.gmax
         WHERE s.m1 IS NULL OR s.m1 < s.gmax""",
    "x_hierarchy" ->
      // Recursive CTE walks each pointer chain one step per level; the
      // Spark side covers the same chains in log-many doubling rounds.
      s"""WITH RECURSIVE $coPurchaseCte,
         und AS MATERIALIZED (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         parents AS MATERIALIZED (
           SELECT u, coalesce(MIN(CASE WHEN v < u THEN v END), u) AS p
           FROM und GROUP BY u),
         walk(u, cur, d) AS (
           SELECT u, u, CAST(0 AS BIGINT) FROM parents
           UNION ALL
           SELECT w.u, p.p, w.d + 1
           FROM walk w JOIN parents p ON w.cur = p.u
           WHERE p.p <> p.u),
         resolved AS (
           SELECT u, cur, d,
             row_number() OVER (PARTITION BY u ORDER BY d DESC) AS rn
           FROM walk)
         SELECT u AS user_id, cur AS root, d AS depth
         FROM resolved WHERE rn = 1""",
    "x_dsv2_source" ->
      """SELECT CAST(i AS BIGINT) AS id, 'doc-' || CAST(i AS VARCHAR) AS doc
         FROM generate_series(1000, 2000) t(i)""",
    "x_collection_suite" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         l AS (
           SELECT doc_id, toks,
             list_transform(toks, x -> CAST(length(x) AS BIGINT)) AS lens
           FROM t)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> length(x) > 5)) AS BIGINT) AS n_long,
           COALESCE(CAST(list_sum(lens) AS BIGINT), 0) AS total_len,
           list_contains(toks, 'the') AS has_the,
           array_to_string(
             list_transform(list_sort(list_distinct(toks))[1:3],
               x -> upper(x)), ',') AS top3,
           COALESCE(CAST(list_dot_product(lens, list_reverse(lens)) AS BIGINT),
             0) AS dot
         FROM l""",
    "s17_schema_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1""",
    "x_generators" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id, 'tok' AS metric, CAST(0 AS BIGINT) AS pos,
                toks[1] AS value FROM t WHERE len(toks) >= 1
         UNION ALL
         SELECT doc_id, 'tok' AS metric, CAST(1 AS BIGINT) AS pos,
                toks[2] AS value FROM t WHERE len(toks) >= 2
         UNION ALL
         SELECT doc_id, 'tok' AS metric, CAST(2 AS BIGINT) AS pos,
                toks[3] AS value FROM t WHERE len(toks) >= 3
         UNION ALL
         SELECT doc_id, 'lang' AS metric, CAST(-1 AS BIGINT) AS pos,
                lang AS value FROM documents
         UNION ALL
         SELECT doc_id, 'source' AS metric, CAST(-1 AS BIGINT) AS pos,
                source AS value FROM documents""",
    "x_variant_json" ->
      """SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events
         WHERE json_extract(props, '$.k') IS NOT NULL
         GROUP BY event_type""",
    "x_recursive_cte" ->
      // identical walk to the x_hierarchy oracle — two Spark execution
      // strategies (recursive CTE here, pointer doubling there), one
      // oracle shape
      s"""WITH RECURSIVE $coPurchaseCte,
         und AS (SELECT a AS u, b AS v FROM edges
                 UNION ALL SELECT b, a FROM edges),
         parents AS (
           SELECT u, coalesce(MIN(CASE WHEN v < u THEN v END), u) AS p
           FROM und GROUP BY u),
         walk(u, cur, d) AS (
           SELECT u, u, CAST(0 AS BIGINT) FROM parents
           UNION ALL
           SELECT w.u, p.p, w.d + 1
           FROM walk w JOIN parents p ON w.cur = p.u
           WHERE p.p <> p.u),
         resolved AS (
           SELECT u, cur, d,
             row_number() OVER (PARTITION BY u ORDER BY d DESC) AS rn
           FROM walk)
         SELECT u AS user_id, cur AS root, d AS depth
         FROM resolved WHERE rn = 1""")

  /** Recall@5 oracle COMPOSED from the exact/IVF/LSH/PQ rank-table
    * oracles already in [[oracleBase]] (each embeds as a nested-WITH
    * subquery), so the ground truth and every approximate method are
    * replayed by the same SQL the driver already trusts — one UNION ALL
    * branch per method, hits counted through the identical
    * (q_id, n_id) semi-join as the Spark side. */
  private def recallOracle(base: Map[String, String]): String = {
    def branch(name: String, sub: String) =
      s"""SELECT '$name' AS method, count(*) AS n_queries,
            CAST(sum(h) AS BIGINT) AS hits,
            CAST(sum(h) AS DOUBLE) / (count(*) * 5) AS mean_recall,
            CAST(min(h) AS DOUBLE) / 5 AS min_recall
          FROM (
            SELECT q.q_id, count(m.n_id) AS h
            FROM (SELECT DISTINCT q_id FROM (${base("x_ann_topk")}) e0) q
            LEFT JOIN (SELECT e.q_id, e.n_id
                       FROM (${base("x_ann_topk")}) e JOIN ($sub) a
                       ON e.q_id = a.q_id AND e.n_id = a.n_id) m
              ON q.q_id = m.q_id
            GROUP BY q.q_id) per_q"""
    Seq("ivf" -> base("x_ann_ivf"), "lsh" -> base("x_ann_lsh"),
        "pq" -> base("x_ann_pq"))
      .map { case (n, s) => branch(n, s) }.mkString("\nUNION ALL\n")
  }

  val oracleSql: Map[String, String] =
    oracleBase + ("x_ann_recall" -> recallOracle(oracleBase))
}

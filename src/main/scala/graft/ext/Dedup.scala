package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Deduplication operators for large-scale training-data curation — the
  * north-star surface beyond the reference pipeline (its only dedup is
  * `dropDuplicates`, `b2s_company_house.py:70`).
  *
  * Scale design (100 TB): exact dedup is one hash-shuffle on a 64-hex
  * digest (map-side partial aggregation applies); near-dup avoids the
  * O(N²) pair space with candidate generation — MinHash/LSH band-bucket
  * join or SimHash band join — so the shuffle is keyed by bucket, and
  * only same-bucket pairs are ever materialized. The exact-Jaccard verify
  * runs on candidates only. All hashing is expression-level (codegen, no
  * UDFs); nothing collects to the driver.
  */
object Dedup {

  /** doc_id + distinct word-trigram shingle set + its size. */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      TextKit.wordShingles(col("text"), n).as("shingles"))
      .withColumn("nsh", size(col("shingles")))

  /** Exact dedup groups: sha256(text) → keeper (min doc_id) + copy count.
    * Emits only groups with > 1 copy. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Exact pairwise n-gram Jaccard over docs sharing >= 1 shingle.
    * Candidate generation by shingle-equality join (shuffle keyed on the
    * shingle, never the cross product); intersection = matched distinct
    * shingles, union = nsh_a + nsh_b - inter. */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    // Barrier so the shingle computation runs once; the two join sides
    // reference the identical exchange (ReuseExchange dedups it).
    val sh = shingled(docs, n).transform(Par.spread(_, col("doc_id")))
    val ex = sh.select(col("doc_id"), col("nsh"), explode(col("shingles")).as("shingle"))
    // nsh rides along as a grouping key (functionally dependent on the
    // doc id) — no post-aggregation joins needed.
    ex.as("x").join(ex.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
  }

  /** [[jaccardPairs]] with PPJoin-style PREFIX FILTERING (Bayardo et al.
    * WWW'07 / Xiao et al. WWW'08): order every doc's shingles by a global
    * rarest-first total order (df asc, shingle asc) and index ONLY the
    * first |x| − ⌈t·|x|⌉ + 1 of them. Any pair with J ≥ t overlaps in at
    * least ⌈t·max(|x|,|y|)⌉ tokens, and the prefix lemma then guarantees
    * the two prefixes intersect — so joining prefix postings loses no
    * qualifying pair, while the postings table shrinks by ~t and, more
    * importantly, the quadratic per-key fanout moves from COMMON shingles
    * to RARE ones (prefixes are the rare end of the order, exactly where
    * per-key document lists are short). Candidates are then verified
    * EXACTLY: the pair joins back to the two full shingle arrays and the
    * intersection is computed per pair, O(|x|+|y|) each over a
    * candidate set that is orders of magnitude below the full postings
    * join's pair space. Same output contract as [[jaccardPairs]] —
    * different algorithm, identical result set (the spec and oracle pin
    * this equivalence).
    *
    * Scale shape: one df aggregation (keyed on shingle), one per-doc
    * window over its own tokens (doc-keyed, bounded by doc length), one
    * prefix-postings self-join whose per-key fanout is bounded by rare
    * dfs, and a candidate-keyed verify join — never an all-pairs space,
    * and never a hot-key quadratic blowup. */
  /** Prefix-filtered candidate pairs (the generation half of
    * [[jaccardPairsPrefix]], exposed for observability): distinct (a, b)
    * sharing at least one RARE-PREFIX token. On a boilerplate-heavy
    * corpus this is the operative difference — a shingle present in k
    * docs contributes k²/2 pairs to the full postings join but lands at
    * the END of the rarest-first order, outside every prefix, so it
    * contributes nothing here. (On corpora with benign flat dfs — like
    * the synthetic test tables — the full join is already cheap and the
    * prefix machinery's extra df pass + per-doc window make it the
    * SLOWER variant; the filter buys its cost back exactly when dfs are
    * heavy-tailed, which is what real web text looks like.) */
  def prefixCandidates(docs: DataFrame, threshold: Double,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled(docs, n).transform(Par.spread(_, col("doc_id")))
    val ex = sh.select(col("doc_id"), col("nsh"),
      explode(col("shingles")).as("shingle"))
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val prefix = ex.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(w))
      // ⌈t·nsh⌉ with an epsilon guard (the standard PPJoin trick): when
      // t·nsh is exactly integral its double product can round a hair
      // HIGH (0.7·10 = 7.000000000000001), ceil would overshoot by 1 and
      // the prefix lemma's "identical result set" guarantee breaks by a
      // silently dropped token. Subtracting ε « 1 ulp-of-any-real-
      // fraction before ceil errs only toward a one-token LONGER prefix
      // — extra candidates, never a missed pair.
      .filter(col("rk") <=
        col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-7)) + lit(1))
      .select("doc_id", "shingle")
    prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  def jaccardPairsPrefix(docs: DataFrame, threshold: Double,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val sh = shingled(docs, n).transform(Par.spread(_, col("doc_id")))
    val cand = prefixCandidates(docs, threshold, n)
    val sets = sh.select(col("doc_id"), col("nsh"), col("shingles"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("nsh").as("na"),
        col("shingles").as("sa")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("nsh").as("nb"),
        col("shingles").as("sb")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
  }

  /** [[jaccardPairs]] with a hot-shingle document-frequency cap — the
    * 100 TB-safe form. The plain shingle-equality self-join is quadratic
    * *per shingle value*: one boilerplate trigram ("all rights reserved")
    * present in 10⁶ docs creates 10¹² candidate pairs on a single key.
    * Shingles with document frequency above `maxDf` carry no near-dup
    * signal (they fail to discriminate), so they are dropped BEFORE the
    * join and the Jaccard is computed over the rare-shingle feature
    * space (inter and nsh both count rare shingles only) — the standard
    * df-capped similarity used by production dedup, where boilerplate
    * neither creates candidates nor inflates scores. Plan shape is
    * identical to [[jaccardPairs]] (postings self-join keyed on the
    * shingle, count-aggregated per pair — no array re-join, no distinct)
    * plus one keyed df aggregation; per-key join fanout is bounded by
    * maxDf². */
  def jaccardPairsCapped(docs: DataFrame, threshold: Double, n: Int = 3,
                         maxDf: Int = 100): DataFrame =
    cappedPairCounts(docs, n, maxDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")

  /** Containment similarity over the same df-capped rare-shingle space:
    * inter / min(|A|, |B|) — the asymmetric measure that catches a doc
    * EMBEDDED in a larger one (quote farms, boilerplate-wrapped copies,
    * truncated re-crawls), where symmetric Jaccard stays low because the
    * union is dominated by the larger doc. Same plan shape and scale
    * properties as [[jaccardPairsCapped]]. */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       maxDf: Int = 100): DataFrame =
    cappedPairCounts(docs, n, maxDf)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("a", "b", "inter", "na", "nb", "containment")

  /** Edit-distance (Levenshtein) near-dup pairs under blocking — the
    * character-level complement to the token-set measures: catches small
    * in-place edits (typo fixes, version bumps, template fills) that
    * shift many shingles at once but few characters.
    *
    * Blocking: docs pair only within the same (lang, length-bucket)
    * block, and the distance runs over a fixed-length prefix. Per-block
    * work is quadratic in BLOCK size, never corpus size — the standard
    * entity-resolution trade (pairs straddling a bucket boundary are
    * missed; production runs add a second shifted blocking pass or defer
    * boundary pairs to the MinHash path, which is length-insensitive).
    * `levenshtein` is a codegen'd native Spark function; prefix length
    * bounds each comparison at O(prefixLen²) regardless of doc size.
    * One shuffle keyed on the block; no driver-side work. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 12,
                        prefixLen: Int = 64, bucketWidth: Int = 40): DataFrame = {
    val nSeg = maxDist + 1
    val d = docs.select(col("doc_id"), col("lang"),
      substring(col("text"), 1, prefixLen).as("prefix"),
      expr(s"n_chars div $bucketWidth").as("blk"))
      .withColumn("plen", length(col("prefix")))
    def verify(pairs: DataFrame): DataFrame = pairs
      // lev(x, y) >= |len(x) - len(y)|: free pruning before the DP
      // (redundant under the candidate join's length range, kept as a
      // cheap belt for any future candidate-path change)
      .filter(abs(length(col("px")) - length(col("py"))) <= maxDist)
      // Plain (un-thresholded) Levenshtein, deliberately: the Spark 3.5+
      // banded form (levenshtein(l, r, maxDist)) measured SLOWER here —
      // 249.6 s vs 184.7 s on the 100×-rows fixture — because at
      // prefixLen ≤ 64 the full DP's branch-free inner loop beats the
      // band's per-cell bounds checks. Revisit if prefixLen grows.
      .select(col("a"), col("b"), col("lang"),
        levenshtein(col("px"), col("py")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)

    // EVERY length goes through a PassJoin-style pigeonhole filter
    // (Li, Deng, Feng, VLDB 2011): split the INDEX side's prefix (its
    // own length L) into maxDist+1 contiguous segments — any pair
    // within maxDist edits must contain at least one segment of the
    // other EDIT-FREE, at a bounded displacement. Candidates are an
    // equi-join of (lang, blk, [L,] segment-slot, substring) postings,
    // LOSSLESS by the pigeonhole (the plain block-quadratic join is
    // the AnalyticsSpec twin; the driver oracle replays an equivalent
    // lossless candidate scheme, so values coincide at every SF); the
    // O(prefixLen²) Levenshtein DP runs only on survivors, ABOVE the
    // candidate distinct — never as a join residual, where Catalyst's
    // filter-through-aggregate pushdown would run the DP once per
    // duplicated candidate row (measured 3× the query wall). History:
    // the r7 sf1 probe measured the unfiltered form at 55× for 10×
    // rows; until r12 only the full-length (plen == prefixLen)
    // majority was segment-filtered, and the short-prefix tail kept a
    // lossless block join whose candidates were block-QUADRATIC in the
    // short-doc population (2.5% of the corpus, but quadratic beats
    // any constant eventually). Now both paths are candidate-bounded,
    // same design law as the shingle/MinHash family.
    //
    // Geometry (per index length L): the first L%nSeg segments are
    // ⌈L/nSeg⌉ chars, the rest ⌊L/nSeg⌋.
    // Probe-window law (tightened r12): an edit-free segment of the
    // shorter string (length L) starting at s appears in the longer
    // (length plen, Δ = plen − L ≥ 0) at displacement δ = p − s where
    // edits before the segment cost ≥ |δ| and edits after ≥ |Δ − δ|, so
    // |δ| + |Δ − δ| ≤ maxDist — i.e. δ ∈ [−⌊(maxDist−Δ)/2⌋,
    // ⌊(maxDist+Δ)/2⌋], a (maxDist+1)-wide window instead of the naive
    // ±maxDist (2·maxDist+1): HALF the probe volume, still lossless.
    def segLen(L: Column, i: Int): Column =
      floor(L / nSeg).cast("int") +
        when(lit(i) < L % nSeg, lit(1)).otherwise(lit(0))
    def segStart(L: Column, i: Int): Column =
      lit(1) + lit(i) * floor(L / nSeg).cast("int") + least(lit(i), L % nSeg)

    // ---- full-length path (the corpus majority: every doc with
    // plen == prefixLen, so Δ = 0 and the geometry is a compile-time
    // constant): one static Generate per side, substring offsets baked
    // into the plan — the cheapest possible per-row work.
    val dFull = d.filter(col("plen") === prefixLen)
    val base = prefixLen / nSeg
    val rem = prefixLen % nSeg
    // first `rem` segments are base+1 chars, the rest base; 1-based starts
    val segs: Seq[(Int, Int, Int)] = {
      var start = 1
      (0 until nSeg).map { i =>
        val len = if (i < rem) base + 1 else base
        val s = start; start += len
        (i, s, len)
      }
    }
    val ySegsF = dFull.select(col("doc_id").as("b"), col("lang"), col("blk"),
      explode(array(segs.map { case (i, s, l) =>
        struct(lit(i).as("seg"), substring(col("prefix"), s, l).as("sub"))
      }: _*)).as("kv"))
      .select(col("b"), col("lang"), col("blk"),
        col("kv.seg").as("seg"), col("kv.sub").as("sub"))
    val xProbesF = dFull.select(col("doc_id").as("a"), col("lang"), col("blk"),
      explode(array(segs.flatMap { case (i, s, l) =>
        ((s - maxDist / 2) max 1).to((s + maxDist / 2) min (prefixLen - l + 1))
          .map { p =>
            struct(lit(i).as("seg"), substring(col("prefix"), p, l).as("sub"))
          }
      }: _*)).as("kv"))
      .select(col("a"), col("lang"), col("blk"),
        col("kv.seg").as("seg"), col("kv.sub").as("sub"))
    val candFull = xProbesF.join(ySegsF, Seq("lang", "blk", "seg", "sub"))
      .filter(col("a") < col("b"))
      .select("a", "b", "lang", "blk").distinct()

    // ---- variable-length path (index side = SHORT docs only): until
    // r12 this population kept a lossless block join whose candidates
    // were block-QUADRATIC in the short-doc count (2.5% of the corpus,
    // but quadratic beats any constant eventually — the r11 100× probe
    // paid 21 task-minutes here before the per-pair repartition fix).
    // Now the same pigeonhole applies at every length: the index doc
    // posts segments under ITS OWN length L, and the longer side
    // (shorts and fulls within Δ ≤ maxDist) probes that geometry. The
    // geometry itself — segment slots, starts, lengths, and the probe
    // position range — is precomputed on the tiny distinct-(lang, blk,
    // L<prefixLen) table and BROADCAST, so the corpus-sized side pays
    // one hash-probe + substr per emitted probe row, no per-row
    // division math and no Generate. Empty segments (L < nSeg) are
    // KEPT: for such tiny docs every segment can be touched by an
    // edit, so dropping empties would lose pairs; they degrade to
    // per-(lang, blk, L) pairing only within the sub-nSeg-char docs.
    val lensS = d.filter(col("plen") < prefixLen)
      .select(col("lang").as("l_lang"), col("blk").as("l_blk"),
        col("plen").as("L")).distinct()
    val segGeo = lensS.select(col("l_lang"), col("l_blk"), col("L"),
        explode(array((0 until nSeg).map { i =>
          struct(lit(i).as("seg"), segStart(col("L"), i).as("st"),
            segLen(col("L"), i).as("sl"))
        }: _*)).as("g"))
      .select(col("l_lang"), col("l_blk"), col("L"),
        col("g.seg").as("seg"), col("g.st").as("st"), col("g.sl").as("sl"))
    // position superset over all Δ ∈ [0, maxDist]; the join residual
    // applies the per-doc tight window and the probe's own bounds
    val posGeo = segGeo.select(col("l_lang"), col("l_blk"), col("L"),
      col("seg"), col("st"), col("sl"),
      explode(sequence(col("st") - maxDist / 2, col("st") + maxDist)).as("p"))
    val ySegsS = d.join(broadcast(segGeo), d("lang") === col("l_lang") &&
        d("blk") === col("l_blk") && d("plen") === col("L"))
      .select(d("doc_id").as("b"), d("lang"), d("blk"), col("L"), col("seg"),
        d("prefix").substr(col("st"), col("sl")).as("sub"))
    val dlt = d("plen") - col("L")
    val xProbesS = d.join(broadcast(posGeo), d("lang") === col("l_lang") &&
        d("blk") === col("l_blk") &&
        col("L").between(d("plen") - maxDist, d("plen")) &&
        col("p") >= greatest(
          col("st") - floor((lit(maxDist) - dlt) / 2).cast("int"), lit(1)) &&
        col("p") <= least(
          col("st") + floor((lit(maxDist) + dlt) / 2).cast("int"),
          d("plen") - col("sl") + 1))
      .select(d("doc_id").as("a"), d("lang"), d("blk"), d("plen"), col("L"),
        col("seg"), d("prefix").substr(col("p"), col("sl")).as("sub"))
    // plen > L pairs exist in one direction only (longer probes
    // shorter); equal SHORT lengths appear in both — canonicalize with
    // a < b. Disjoint from candFull by construction (the index side
    // here is always short).
    val candVar = xProbesS.join(ySegsS, Seq("lang", "blk", "L", "seg", "sub"))
      .filter(col("plen") > col("L") || col("a") < col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("lang"), col("blk"))
      .distinct()

    val cand = candFull.unionByName(candVar)

    // Survivors REPARTITION BY (a, b) before the Levenshtein DP (the
    // r11 100×-campaign lesson: weak scaling multiplies each block's
    // population and the join-back key would otherwise place the
    // hottest doc's whole candidate list on one partition — one bounded
    // exchange of the sparse candidate table buys per-PAIR DP placement
    // however the blocks skew).
    val withText = cand
      .join(d.select(col("doc_id").as("a"), col("lang"), col("blk"),
        col("prefix").as("px")), Seq("a", "lang", "blk"))
      .join(d.select(col("doc_id").as("b"), col("lang"), col("blk"),
        col("prefix").as("py")), Seq("b", "lang", "blk"))
    val p = docs.sparkSession.sessionState.conf.numShufflePartitions
    verify(withText.select("a", "b", "lang", "px", "py")
      .repartition(p, col("a"), col("b")))
  }

  /** Shared candidate stage of the capped family: rare-postings self-join
    * aggregated to (a, b, na, nb, inter). */
  private def cappedPairCounts(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    val sh = shingled(docs, n).transform(Par.spread(_, col("doc_id")))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // Shingles are per-doc distinct, so count(*) per shingle IS document
    // frequency. Filter postings by ANTI-joining the HOT set rather than
    // inner-joining the rare majority: distinct hot shingles number at
    // most postings/maxDf (each needs > maxDf postings to qualify), so
    // the hot side is small enough for AQE to broadcast the anti-join,
    // where the rare side never is.
    val hot = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    val exR = ex.join(hot, Seq("shingle"), "left_anti")
    // per-doc rare-shingle count via an unordered count window: one
    // shuffle on doc_id and no aggregate-then-rejoin (measured faster
    // than the nR-join form, and the key rides into the pair grouping
    // same as the uncapped trick)
    val exN = exR.withColumn("nsh",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    exN.as("x").join(exN.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Exact duplicated-SPAN coverage — the substring view of training-data
    * dedup (cf. suffix-array substring dedup, Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): slide a `k`-char window
    * at fixed `stride` over each document, mark every window whose exact
    * text also occurs in a DIFFERENT document, and report per-doc how much
    * of the text sits in cross-document duplicated spans. A dup_ratio near
    * 1.0 flags a doc that is substantially copied even when no whole-doc or
    * shingle-set signal fires (long verbatim quotes inside otherwise-unique
    * wrappers — the case doc-level MinHash misses by design).
    *
    * This is the distributed stand-in for a suffix array: a suffix array
    * finds maximal repeats exactly but needs the corpus in one address
    * space; strided fixed-k windows find any repeat of length ≥ k+stride-1
    * with per-window exactness, using only keyed shuffles. Plan shape:
    * generate → one groupBy(gram) for the shared mark (partial agg
    * map-side; count_distinct over doc_id truncated at 2 by the >= 2
    * predicate after partial dedup) → one equi-join back → per-doc rollup.
    * At 100 TB the join/group key becomes xxhash64(gram) (64-bit collisions
    * only over-mark astronomically few spans) and template-hot grams get a
    * df cap like [[jaccardPairsCapped]]; the text key is kept here for
    * exact oracle parity. */
  def spanCoverage(docs: DataFrame, k: Int = 40, stride: Int = 10): DataFrame = {
    val grams = docs.filter(length(col("text")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, cast((length(text) - $k) div $stride as int))," +
          s" i -> substring(text, i * $stride + 1, $k))")).as("gram"))
    val marks = grams.groupBy("gram")
      .agg((count_distinct(col("doc_id")) >= 2).as("is_shared"))
    grams.join(marks, Seq("gram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("is_shared"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_ratio",
        col("n_shared").cast("double") / col("n_spans").cast("double"))
  }

  /** Cross-document LINE-level dedup (CCNet-style): drop every
    * "line" (non-overlapping `w`-word chunk, [[TextKit.wordChunks]]) whose
    * document frequency exceeds `maxDf` — repeated lines are boilerplate
    * (headers, navigation, license blocks) that carries no training
    * signal, and removing them de-biases the corpus without dropping the
    * documents themselves. Returns per-doc
    * (doc_id, n_lines, n_kept, n_removed, clean_text) where clean_text
    * re-joins the surviving lines in original order; a doc whose every
    * line is boilerplate survives with clean_text = "".
    *
    * Scale design (100 TB): one distinct + keyed aggregation for the
    * line df table, one equi-join postings ⋈ df keyed on the line, one
    * keyed per-doc re-aggregation — no self-join, no pair space at all
    * (unlike near-dup detection, line dedup is a per-line frequency
    * gate). At corpus scale the join key would be a 64-bit line hash
    * rather than the line text (collisions only over-remove an
    * astronomically small line fraction); the text key is kept here for
    * exact oracle parity. The re-assembly `collect_list` is per-doc
    * (bounded by doc length), never corpus-wide. */
  def lineLevelDedup(docs: DataFrame, w: Int = 8, maxDf: Int = 4): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(TextKit.wordChunks(col("text"), w)).as(Seq("pos", "line")))
    // Per-doc-distinct postings → count(*) per line IS document frequency.
    val dfreq = lines.select("line", "doc_id").distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
    lines.join(dfreq, Seq("line"))
      .withColumn("kept", col("df") <= maxDf)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        // when() yields null for dropped lines and collect_list skips
        // nulls, so only kept lines reach the sort; struct order =
        // (pos, line) ⇒ original document order.
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          " ").as("clean_text"))
      .withColumn("n_removed", col("n_lines") - col("n_kept"))
      .select("doc_id", "n_lines", "n_kept", "n_removed", "clean_text")
  }

  /** Duplicate clusters from a pairwise near-dup relation: connected
    * components by iterative min-label propagation, so "a≈b, b≈c" lands
    * a, b and c in ONE cluster even when (a, c) itself was never a
    * candidate pair. Returns (node, label) where label = the smallest
    * doc id in the component — the canonical keeper under min-id policy.
    *
    * Scale design: each iteration is one keyed shuffle (edges ⋈ labels →
    * per-node min) over the PAIR graph, which near-dup detection has
    * already reduced to a tiny fraction of the corpus, PLUS a
    * pointer-jumping term (label(label(v)) — one label self-join per
    * round, engaged from round 4 AND only while the changed-row count
    * fails to halve round-over-round, so shallow graphs never pay it) that
    * collapses label chains, so convergence is
    * O(log diameter) rounds instead of O(diameter). The jump term is not
    * an optimization nicety: the round-10 100×-rows probe grew a
    * >30-diameter chain component in the loose-threshold (cos ≥ 0.4)
    * embedding near-dup graph and plain neighbor-min propagation blew
    * the iteration cap — star-ish template clusters are shallow, but
    * chain-shaped components (A≈B≈C… without A≈C) grow with corpus
    * size. Both terms only ever LOWER a label toward the component min,
    * so the fixpoint (label = min id in component) and its determinism
    * are unchanged; each round truncates lineage with an eager
    * [[Materialize.once]] so plan size stays O(1) in the
    * iteration count.
    * The fixpoint is detected by counting the round's changed rows
    * (`next.filter(__changed).count()` over the already-materialized
    * result — no extra join); the same per-round count drives the
    * pointer-jump gate, which engages only while the changed count
    * fails to halve round-over-round. maxIters is a SAFETY VALVE, not a
    * budget — the loop exits as soon as a round changes nothing (3-5
    * rounds at gate SF; the 100×-rows near-forest measured 34) — so it
    * is set high enough that only a real non-termination bug can trip
    * it.
    */
  def duplicateClusters(pairs: DataFrame, a: String = "a", b: String = "b",
                        maxIters: Int = 100): DataFrame = {
    // Materialize the pair list ONCE before mirroring it: the union's
    // two branches are otherwise two full evaluations of the pair
    // GENERATION subtree — for the jaccard/containment callers that is
    // the postings self-join + verify aggregation, the most expensive
    // part of the whole query, and exchange reuse does not unify the
    // two branches (r13 StageProf: both d_dup_clusters and
    // x_curation_cc ran the 5000-doc pair pipeline twice). The pair
    // list itself is tiny (near-dup survivors), so materializing it is
    // cheap; freed after the mirrored edge table is materialized.
    val pr = Materialize.once(pairs.select(col(a).as("src"), col(b).as("dst")))
    // Post-distinct, re-key the layout on src — the loop's probe key.
    // Materializing preserves the partitioning, and every round's label
    // table is hash-partitioned on the node key by its own aggregation,
    // so both per-round joins plan exchange-free; the per-node min merge
    // is each round's only shuffle. Explicit partition count keeps AQE
    // from coalescing the layout away from the state side's.
    val p0 = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val (edges, p) = Graph.loopSized(Materialize.once(
      pr.union(pr.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(p0, col("src")), Some("src")), "src")
    Materialize.free(pr)
    Graph.withShufflePartitions(pairs.sparkSession, p) {
    // Seed with min(self, neighbors) — the first propagation round for
    // free out of the same edge aggregation that defines the node set.
    var held = Materialize.once(edges.groupBy(col("dst").as("node"))
      .agg(least(col("dst"), min(col("src"))).as("label")), Some("node"))
    var labels = held
    var converged = false
    var i = 0
    // Per-round changed-row counts (the convergence scan below yields the
    // count for free — it reads the already-materialized blocks, no extra
    // shuffle). Two-round history drives the pointer-jump gate.
    var changedPrev = Long.MaxValue
    var changedPrev2 = Long.MaxValue
    while (!converged && i < maxIters) {
      val nbrMin = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nmin"))
      // Pointer jumping: label(label(v)) — engaged from round 4 on AND
      // only while plain propagation is visibly stalling: the changed-row
      // count failed to halve between the last two rounds. Star-ish
      // near-dup clusters converge in 3-5 plain rounds with sharply
      // falling changed counts and never pay the extra per-round label
      // self-join (the r10 regression: an unconditional round-≥4 jump
      // cost x_curation_cc ~1 s/run at gate scale for zero rounds saved);
      // chain-shaped components (the 100×-rows near-forest) hold a
      // near-constant changed count, trip the gate immediately at round 4
      // and get O(log diameter) doubling. Every label IS a node id (seed
      // labels are min over self∪neighbors; later labels come from this
      // table), so the inner lookup always resolves — the left join +
      // coalesce is belt-and-braces, not a semantic branch.
      val withJump = i >= 3 && changedPrev * 2 > changedPrev2
      val jumped =
        if (!withJump) labels.join(nbrMin, col("node") === col("dst"), "left")
          .select(col("node"), col("label"),
            coalesce(col("nmin"), col("label")).as("cand"))
        else {
          val jump = labels.as("l1").join(labels.as("l2"),
              col("l1.label") === col("l2.node"))
            .select(col("l1.node").as("jnode"), col("l2.label").as("jmin"))
          labels.join(nbrMin, col("node") === col("dst"), "left")
            .join(jump, col("node") === col("jnode"), "left")
            .select(col("node"), col("label"),
              least(coalesce(col("nmin"), col("label")),
                coalesce(col("jmin"), col("label"))).as("cand"))
        }
      // The changed flag rides along in the propagation pass itself, so
      // convergence detection is a scan of the materialized result — no
      // extra join per round.
      val next = Materialize.once(
        jumped.select(col("node"),
          least(col("label"), col("cand")).as("label"),
          (col("cand") < col("label")).as("__changed")),
        Some("node"))
      val changed = next.filter(col("__changed")).count()
      converged = changed == 0L
      changedPrev2 = changedPrev
      changedPrev = changed
      // next is eagerly materialized, so the previous round's blocks are
      // dead weight — free them now instead of pinning
      // O(iters × |labels|) block-manager memory for the session's life
      // (left to the ContextCleaner they survive until a driver GC, which
      // a long bench run may never trigger under memory pressure).
      Materialize.free(held)
      held = next
      labels = next.drop("__changed")
      i += 1
    }
    require(converged, s"duplicateClusters did not converge in $maxIters iterations")
    Materialize.free(edges)
    labels
    }
  }

  /** MinHash signatures: doc_id, sig array<long> of k permuted minima.
    * Staged projections (shingles → hs → sig) keep each intermediate
    * array a bound attribute so no hash chain is re-evaluated per
    * permutation (CollapseProject keeps multi-referenced non-cheap
    * expressions un-inlined). */
  def minHashSignatures(docs: DataFrame, k: Int = 64, n: Int = 3): DataFrame =
    shingled(docs, n)
      .withColumn("hs", transform(col("shingles"), s => TextKit.polyHash(s)))
      // Exchange barrier: CollapseProject would otherwise inline the hash
      // chain into each of the k permutation lambdas.
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"), col("nsh"),
        TextKit.minHashFromHashes(col("hs"), k).as("sig"))

  /** LSH band buckets: one row per (doc, band) with a polynomial bucket
    * key over the band's rows — docs agreeing on any band are candidates.
    * `keep` lists extra signature-side columns to carry through. */
  def lshBuckets(sigs: DataFrame, bands: Int, rows: Int,
                 keep: Seq[String] = Nil): DataFrame =
    sigs.select((col("doc_id") +: keep.map(col)) :+ posexplode(
      transform(sequence(lit(0), lit(bands - 1)), b =>
        // coalesce: keep the bucket key provably non-nullable, else the
        // join infers isnotnull(<sig expr>) and pushes the whole
        // signature derivation into the scan-stage filter.
        coalesce((0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
          .reduce((acc, s) => acc * 31 + s), lit(-1L)))).as(Seq("band", "bucket")): _*)

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified.
    * 16 bands × 4 rows over a k=64 signature: catch probability
    * 1-(1-j^4)^16 ≈ 0.9998 at j=0.8, rising fast above it — and the
    * boundary is deterministic for a fixed corpus (either a pair shares a
    * band or it doesn't), so recall is verified against the exact oracle
    * at each SF rather than assumed. 4-row bands keep candidate precision
    * high: at j≈0.3 a band matches with j^4≈0.008, so low-similarity text
    * almost never reaches the verify stage (3-row bands admit ~4× those
    * candidates and measurably blow up the verify join — the r2 retune
    * that regressed this query 12×).
    *
    * Two-stage verify keeps the expensive work off the candidate bulk:
    * candidates first join only the k-long signatures and are gated on
    * signature agreement — an unbiased k-sample estimator of Jaccard —
    * and only survivors shuffle their full shingle sets into the exact
    * `array_intersect` verify. The gate at (threshold−0.3)·k sits >6σ
    * below a qualifying pair's agreement mean (j·k ± √(k·j(1−j))), so it
    * cannot drop a true near-dup, while discarding most of the moderate-
    * similarity candidates that LSH admits. Precision of the final output
    * is exact either way: every emitted pair passed exact Jaccard. */
  /** MinHash signature index: (doc_id, shingles, nsh, sig) — the base
    * every near-dup consumer joins against. For a standing corpus this
    * is the artifact you persist once per ingest (via
    * [[graft.core.TableCatalog]]) instead of recomputing per query.
    * Expensive projections sit between two exchanges, so every consumer
    * (bucket-join sides and verify joins) reuses the same computed stage
    * instead of re-deriving the hash chain (ReuseExchange). */
  def signatureIndex(docs: DataFrame, k: Int = 64, n: Int = 3): DataFrame =
    shingled(docs, n)
      .withColumn("hs", transform(col("shingles"), s => TextKit.polyHash(s)))
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"), col("shingles"), col("nsh"),
        TextKit.minHashFromHashes(col("hs"), k).as("sig"))
      .transform(Par.spread(_, col("doc_id")))

  def minHashNearDups(docs: DataFrame, threshold: Double = 0.8,
                      k: Int = 64, bands: Int = 16): DataFrame = {
    val rows = k / bands
    val base = signatureIndex(docs, k)
    val sigs = base.select(col("doc_id"), col("sig"))
    val buckets = lshBuckets(sigs, bands, rows)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val minAgree = math.ceil(math.max(0.0, threshold - 0.3) * k).toInt
    val survivors = cand
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .withColumn("agree", aggregate(
        zip_with(col("siga"), col("sigb"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      .filter(col("agree") >= minAgree)
      .select("a", "b")
    survivors
      .join(base.select(col("doc_id").as("a"), col("shingles").as("sha"), col("nsh").as("na")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("shingles").as("shb"), col("nsh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "na", "nb", "jaccard")
  }

  /** Incremental near-dup detection: a NEW batch of documents against an
    * already-ingested corpus, without ever re-pairing the corpus with
    * itself — the shape a 100 TB ingest actually runs. Pair space is
    * (corpus × batch) ∪ (batch × batch, a < b); corpus-internal pairs
    * never form, so per-ingest work is O(batch-driven candidates), not
    * O(corpus²). At scale the corpus side of `base` is a persisted
    * signature index (doc_id, shingles, nsh, sig) appended per ingest —
    * here it derives inline from the corpus text so the whole operator
    * stays one dataflow. Candidate generation, the signature-agreement
    * pre-filter, and the exact-Jaccard verify are identical to
    * [[minHashNearDups]]; only the bucket join restricts one side to the
    * batch. Doc ids must be globally unique across corpus ∪ batch.
    *
    * Returns (a, src_a, b, inter, na, nb, jaccard) — b always a batch
    * doc, src_a ∈ {corpus, batch}. */
  def minHashNearDupsIncremental(corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, k: Int = 64, bands: Int = 16): DataFrame = {
    val tagged = corpus.select(col("doc_id"), col("text"), lit("corpus").as("src"))
      .unionByName(batch.select(col("doc_id"), col("text"), lit("batch").as("src")))
    val base = tagged
      .select(col("doc_id"), col("src"),
        TextKit.wordShingles(col("text"), 3).as("shingles"))
      .withColumn("nsh", size(col("shingles")))
      .withColumn("hs", transform(col("shingles"), s => TextKit.polyHash(s)))
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"), col("src"), col("shingles"), col("nsh"),
        TextKit.minHashFromHashes(col("hs"), k).as("sig"))
      .transform(Par.spread(_, col("doc_id")))
    incrementalFromBase(base, threshold, k, bands)
  }

  /** [[minHashNearDupsIncremental]] against an ALREADY-BUILT corpus
    * signature index ([[signatureIndex]] schema) — the production loop:
    * the index is persisted once (e.g. a [[graft.core.TableCatalog]]
    * table), each ingest runs this against the incoming batch, then
    * APPENDS the batch's own signatures (`signatureIndex(batch)`) to the
    * index table, so corpus text is never re-shingled. */
  def minHashNearDupsIncrementalIndexed(corpusIndex: DataFrame, batch: DataFrame,
      threshold: Double = 0.8, k: Int = 64, bands: Int = 16): DataFrame = {
    val base = corpusIndex
      .select(col("doc_id"), lit("corpus").as("src"), col("shingles"),
        col("nsh"), col("sig"))
      .unionByName(signatureIndex(batch, k)
        .select(col("doc_id"), lit("batch").as("src"), col("shingles"),
          col("nsh"), col("sig")))
    incrementalFromBase(base, threshold, k, bands)
  }

  private def incrementalFromBase(base: DataFrame, threshold: Double,
      k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val sigs = base.select(col("doc_id"), col("src"), col("sig"))
    val buckets = lshBuckets(sigs, bands, rows, keep = Seq("src"))
    val cand = buckets.as("x").join(
        buckets.filter(col("src") === "batch").as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          (col("x.src") === "corpus" || col("x.doc_id") < col("y.doc_id")))
      .select(col("x.doc_id").as("a"), col("x.src").as("src_a"),
        col("y.doc_id").as("b"))
      .distinct()
    val minAgree = math.ceil(math.max(0.0, threshold - 0.3) * k).toInt
    val survivors = cand
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb")), Seq("b"))
      .withColumn("agree", aggregate(
        zip_with(col("siga"), col("sigb"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      .filter(col("agree") >= minAgree)
      .select("a", "src_a", "b")
    survivors
      .join(base.select(col("doc_id").as("a"), col("shingles").as("sha"),
        col("nsh").as("na")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("shingles").as("shb"),
        col("nsh").as("nb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "src_a", "b", "inter", "na", "nb", "jaccard")
  }

  /** Content-defined chunking (CDC): split each document at ROLLING-HASH
    * boundaries — after any word whose polyHash ≡ 0 (mod `modulus`) — so
    * chunk boundaries are a function of CONTENT, not position. An
    * insertion near the head of a doc shifts every fixed-size chunk after
    * it (defeating chunk-hash dedup), but leaves all content-defined
    * boundaries outside the edited region in place — the property
    * rsync/LBFS-style storage dedup is built on, applied here to sub-
    * document dedup: shared boilerplate blocks hash to the same chunks
    * wherever they sit. Expected chunk length = `modulus` words.
    *
    * Returns one row per chunk: (doc_id, chunk_id, n_words, chunk_hash).
    * Scale design (100 TB): chunking is pure per-row generated
    * expressions (split → boundary filter → slice → hash; no shuffle,
    * no UDFs); downstream frequency analysis is one keyed aggregation on
    * the chunk hash. */
  def cdcChunkTable(docs: DataFrame, modulus: Int = 16): DataFrame =
    docs
      .select(col("doc_id"), TextKit.words(col("text")).as("ws"))
      .transform(Par.spread(_, col("doc_id"))) // barrier: ws computes once
      .select(col("doc_id"), col("ws"),
        filter(sequence(lit(1), size(col("ws"))),
          i => TextKit.polyHash(element_at(col("ws"), i)) % modulus === 0).as("bs"))
      .transform(Par.spread(_, col("doc_id"))) // barrier: bs computes once
      .select(col("doc_id"), col("ws"),
        // chunk k spans words [starts(k), ends(k)]; a trailing boundary
        // yields an empty (start > end) span, dropped by the filter below
        concat(array(lit(1)), transform(col("bs"), b => b + 1)).as("starts"),
        concat(col("bs"), array(size(col("ws")))).as("ends"))
      .select(col("doc_id"), col("ws"),
        posexplode(filter(
          transform(sequence(lit(1), size(col("starts"))), k =>
            struct(element_at(col("starts"), k).as("s"),
              element_at(col("ends"), k).as("e"))),
          p => p.getField("s") <= p.getField("e"))).as(Seq("idx", "se")))
      .select(col("doc_id"),
        (col("idx") + 1).cast("long").as("chunk_id"),
        (col("se.e") - col("se.s") + 1).cast("long").as("n_words"),
        TextKit.polyHash(array_join(
          slice(col("ws"), col("se.s"), col("se.e") - col("se.s") + 1), " "))
          .as("chunk_hash"))

  /** Winnowed fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): slide a window of `w` consecutive k-gram hashes over
    * each document and keep each window's MINIMUM, deduplicated. The
    * guarantee: any substring match of at least w + k - 1 characters
    * yields at least one SHARED fingerprint, while density drops to
    * ~2/(w+1) of all grams — the posting table the downstream dedup
    * join keys on shrinks ~(w+1)/2× versus full shingle postings with a
    * bounded, provable recall floor (unlike uniform sampling, which can
    * miss arbitrarily long matches). Documents shorter than one window
    * contribute their single overall minimum.
    *
    * Scale design (100 TB): fingerprinting is pure per-row generated
    * expressions over the one-pass rolling [[TextKit.gramHashes]] —
    * no shuffle, no UDFs; the shared-fingerprint analysis downstream is
    * one keyed aggregation on the fingerprint value. */
  def winnowedFingerprints(docs: DataFrame, k: Int = 5, w: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), TextKit.gramHashes(col("text"), k).as("g"))
      .transform(Par.spread(_, col("doc_id"))) // barrier: g computes once
      .select(col("doc_id"),
        when(size(col("g")) === 0, array().cast("array<long>"))
          .when(size(col("g")) < w, array(array_min(col("g"))))
          // one-pass monotonic-deque window minima (O(n), codegen) —
          // value-identical to the O(n·w) slice/array_min HOF twin
          // ([[winnowedFingerprintsHof]], cross-checked in DedupSpec)
          .otherwise(array_distinct(
            graft.functions.SlidingMin(col("g"), w)))
          .as("fps"))

  /** Interpreted higher-order twin of [[winnowedFingerprints]] — the
    * cross-check reference (same output, O(n·w) slice chain). */
  def winnowedFingerprintsHof(docs: DataFrame, k: Int = 5, w: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), TextKit.gramHashes(col("text"), k).as("g"))
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"),
        when(size(col("g")) === 0, array().cast("array<long>"))
          .when(size(col("g")) < w, array(array_min(col("g"))))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(col("g")) - (w - 1)),
              i => array_min(slice(col("g"), i, lit(w))))))
          .as("fps"))

  /** Per-doc SimHash value (24-bit); word hashes materialize once per
    * row before the 24 per-bit votes read them. */
  def simHashed(docs: DataFrame, bits: Int = 24): DataFrame =
    docs.select(col("doc_id"), TextKit.wordHashes(col("text")).as("wh"))
      .transform(Par.spread(_, col("doc_id"))) // barrier: wh evaluates once, not per bit
      .select(col("doc_id"), TextKit.simHashFromHashes(col("wh"), bits).as("simhash"))
      .transform(Par.spread(_, col("doc_id"))) // materialize: consumers reuse, not recompute

  /** Per-doc SimHash over distinct word-bigram shingles — far more
    * doc-discriminative than unigrams on a small shared vocabulary, which
    * keeps the LSH band buckets small (unigram simhashes of same-topic
    * docs collapse into a handful of buckets and the candidate join
    * degenerates toward N²). */
  def simHashedBigrams(docs: DataFrame, bits: Int = 28): DataFrame =
    docs.select(col("doc_id"),
        transform(TextKit.wordShingles(col("text"), 2), s => TextKit.polyHash(s)).as("wh"))
      .transform(Par.spread(_, col("doc_id"))) // barrier: wh evaluates once, not per bit
      .select(col("doc_id"), TextKit.simHashFromHashes(col("wh"), bits).as("simhash"))
      .transform(Par.spread(_, col("doc_id"))) // materialize: consumers reuse, not recompute

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found via
    * band join: 28 bits in 4 bands of 7 — by pigeonhole any pair within
    * Hamming 3 agrees on at least one full band, so recall is EXACT (not
    * probabilistic) while the join stays bucket-keyed. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 28): DataFrame = {
    val nBands = maxHamming + 1
    val width = bits / nBands
    val sim = simHashedBigrams(docs, bits)
    val banded = sim.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until nBands).map(b =>
        shiftright(col("simhash"), b * width) % (1L << width)): _*)).as(Seq("band", "bval")))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }
}

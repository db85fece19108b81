package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Materialize

/** Portable text primitives for the training-data extension operators
  * (dedup, fingerprinting, text analysis — the north-star surface beyond
  * the reference pipeline, SURVEY.md §7.6).
  *
  * Every builder here has a line-for-line DuckDB mirror in [[DuckSql]] so
  * the driver's oracle hash-compare is *exact*: hashing is integer
  * polynomial arithmetic mod a prime (no engine-specific hash functions),
  * and any floating-point reduction is a serial left fold — bit-identical
  * IEEE ops in both engines.
  *
  * All ops are pure Column expressions (whole-stage-codegen-friendly
  * higher-order functions, no UDFs), so Catalyst can push, prune and
  * pipeline them; at 100 TB they run embarrassingly parallel per row with
  * zero shuffle.
  */
object TextKit {

  /** Prime modulus for polynomial rolling hashes; small enough that
    * (2k+1)*h + b stays far below 2^63 (no ANSI overflow). */
  val P = 1000000007L

  /** Expression-level let-binding: evaluate `bound` ONCE per row and feed
    * it to `body` as a lambda variable. Without this, embedding the same
    * Column object n times in a lambda body re-evaluates the whole
    * subexpression n times per element — O(n·cost) blowups that no
    * Catalyst rule will undo (the duplication is in the tree we build).
    * DuckDB mirrors bind with a CTE column instead. */
  def let(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  def words(text: Column): Column = split(text, " ")

  /** 1-based char codes of an ASCII string as array<long>. */
  def charCodes(s: Column): Column =
    transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast(LongType))

  /** Polynomial rolling hash: fold h = (h*31 + code) mod P — the native
    * codegen Expression ([[graft.functions.PolyHash]], over UTF-8 bytes;
    * identical to the char-code fold for the ASCII corpus and the DuckDB
    * mirror). */
  def polyHash(s: Column): Column = graft.functions.PolyHash(s)

  /** Interpreted higher-order twin of [[polyHash]] (per-char `aggregate`
    * fold) — kept as the cross-check reference for the native Expression. */
  def polyHashHof(s: Column): Column =
    aggregate(charCodes(s), lit(0L), (a, c) => (a * 31 + c) % P)

  /** Distinct word n-gram shingles ("w1 w2 w3"); empty array below n
    * words. coalesce → non-nullable (see [[simHashFromHashes]] note).
    * Native single-pass codegen Expression
    * ([[graft.functions.WordShingles]]); value-identical to the HOF
    * twin below (TextKitSpec pins it) at ~20× less per-doc work — this
    * is the shared front end of the whole shingle-dedup family. */
  def wordShingles(text: Column, n: Int = 3): Column =
    coalesce(graft.functions.WordShingles(text, n),
      array().cast("array<string>"))

  /** Interpreted higher-order twin of [[wordShingles]] — kept as the
    * cross-check reference for the native Expression. */
  def wordShinglesHof(text: Column, n: Int = 3): Column =
    coalesce(
      let(words(text)) { w =>
        when(size(w) >= n,
          array_distinct(transform(sequence(lit(1), size(w) - (n - 1)), i =>
            concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))))
          .otherwise(array().cast("array<string>"))
      },
      array().cast("array<string>"))

  /** Word n-grams with duplicates kept (frequency analysis wants every
    * occurrence, unlike the distinct [[wordShingles]] sets). */
  def wordNgrams(text: Column, n: Int): Column =
    coalesce(
      let(words(text)) { w =>
        when(size(w) >= n,
          transform(sequence(lit(1), size(w) - (n - 1)), i =>
            concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
          .otherwise(array().cast("array<string>"))
      },
      array().cast("array<string>"))

  /** Hash of every word occurrence (keeps duplicates — term frequency). */
  def wordHashes(text: Column): Column = transform(words(text), w => polyHash(w))

  /** Non-overlapping word chunks of width `w` — the "pseudo-lines" that
    * line-level dedup operates on for corpora whose documents carry no
    * newlines (the synthetic corpus is one line per doc); the trailing
    * chunk may be shorter than `w`. DuckDB mirror: `list_slice` +
    * `array_to_string` over the same index arithmetic. */
  def wordChunks(text: Column, w: Int): Column =
    let(words(text)) { ws =>
      transform(
        sequence(lit(0), ceil(size(ws).cast(DoubleType) / w).cast("int") - 1),
        i => array_join(slice(ws, i * w + 1, lit(w)), " "))
    }

  /** 2^i for a column exponent (exact in double up to 2^52). */
  def pow2(i: Column): Column = pow(lit(2.0), i).cast(LongType)

  /** SimHash from a *materialized* word-hash array column: per bit,
    * majority vote of ±1 across all word occurrences; ties set the bit.
    * Native single-pass codegen Expression
    * ([[graft.functions.SimHashSig]]); value-identical to the
    * `bits`-pass HOF twin below (SimHashSigSpec). */
  def simHashFromHashes(wh: Column, bits: Int = 24): Column =
    // coalesce: keep the result provably non-nullable even over a
    // nullable wh attribute (same guard as the HOF form — a nullable
    // derived join key makes the optimizer push isnotnull(<whole
    // derivation>) into the scan stage).
    coalesce(graft.functions.SimHashSig(wh, bits), lit(0L))

  /** Interpreted higher-order twin of [[simHashFromHashes]] — kept as
    * the cross-check reference for the native Expression. Take wh as a
    * bound attribute (not an inline expression) — this expression
    * references it `bits` times, and an inline word-hash chain would be
    * re-evaluated per bit. */
  def simHashFromHashesHof(wh: Column, bits: Int = 24): Column =
    // Outer coalesce makes the result provably non-nullable. Without it,
    // joining on values derived from this expression makes the optimizer
    // infer an `isnotnull(<whole expression>)` constraint and push it to
    // the scan — re-deriving the full simhash per row in the scan stage.
    coalesce(
      aggregate(
        transform(sequence(lit(0), lit(bits - 1)), i => {
          val p2 = pow2(i)
          val vote = aggregate(wh, lit(0L),
            (acc, h) => acc + (floor(h / p2).cast(LongType) % 2) * 2 - 1)
          when(vote >= 0, pow2(i)).otherwise(lit(0L))
        }),
        lit(0L), (a, b) => a + b),
      lit(0L))

  /** MinHash signature from a *materialized* shingle-hash array column:
    * k permutations hk(h) = ((2k+1)h + (k+1)c) mod P minimized over the
    * set. Empty set → P sentinel. Native single-pass codegen Expression
    * ([[graft.functions.MinHashSig]]); value-identical to the k-pass HOF
    * twin below (MinHashSigSpec). */
  def minHashFromHashes(hs: Column, k: Int = 64): Column =
    graft.functions.MinHashSig(hs, k)

  /** Interpreted higher-order twin of [[minHashFromHashes]] (one
    * `transform`+`array_min` pass per permutation) — kept as the
    * cross-check reference for the native Expression. Take hs as a bound
    * attribute — this expression references it k times. */
  def minHashFromHashesHof(hs: Column, k: Int = 64): Column =
    transform(sequence(lit(0), lit(k - 1)), kk =>
      coalesce(
        array_min(transform(hs, h => ((kk * 2 + 1) * h + (kk + 1) * lit(2654435761L)) % P)),
        lit(P)))

  /** Character-5-gram rolling-hash fingerprint set; min is the doc
    * fingerprint (winnowing-style). No mod needed: max value 126*(31^4+…)
    * ≈ 1.2e8. Native one-pass rolling Expression
    * ([[graft.functions.GramHashes]]); value-identical on ASCII to the
    * HOF twin below (GramHashesSpec). */
  def gramHashes(text: Column, n: Int = 5): Column =
    graft.functions.GramHashes(text, n)

  /** Interpreted higher-order twin of [[gramHashes]] — the cross-check
    * reference. Char codes are let-bound — inlining them would re-derive
    * the O(L²) substring chain per window. */
  def gramHashesHof(text: Column, n: Int = 5): Column =
    let(charCodes(text)) { c =>
      when(size(c) >= n,
        transform(sequence(lit(1), size(c) - (n - 1)), i =>
          (0 until n).map(j => element_at(c, i + j))
            .reduce((acc, x) => acc * 31 + x)))
        .otherwise(array().cast("array<long>"))
    }

  /** BPE tokenizer TRAINING: learn the first `k` merge rules from a
    * corpus — the op that produces the merge table [[bpeTokens]]-style
    * pre-tokenizers consume. Classic algorithm (Sennrich et al. 2016,
    * arXiv:1508.07909): start from characters, repeatedly merge the
    * globally most frequent adjacent symbol pair (greedy left-to-right,
    * non-overlapping within a word).
    *
    * Distributed shape, per merge round:
    *  1. adjacent-pair counts — one keyed aggregation over the DISTINCT
    *     word table (built once; pair counts are freq-weighted, so the
    *     corpus is touched once total, like every trainer since the
    *     original: dedupe words first, the symbol work is O(|vocab|)
    *     not O(corpus));
    *  2. argmax — a 1-row collect (cnt desc, then lexicographic pair;
    *     metadata-scale, the same driver role as a centroid broadcast);
    *  3. rewrite — a pure per-word fold projection (no shuffle): the
    *     winning pair concatenates wherever it appears, leftmost-first.
    * Materializing each round (and freeing the one before) cuts the
    * growing lineage exactly like the Lloyd-iteration trainer in
    * [[Similarity.trainCentroids]].
    *
    * Returns the merge table (rank, lhs, rhs, cnt) — `k` rows. Fully
    * deterministic (integer counts, binary-ordered tiebreaks), so the
    * DuckDB oracle replays the identical rounds as unrolled CTEs. */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, k: Int,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainState(docs, k, textCol)._1.toDF("rank", "lhs", "rhs", "cnt")
  }

  /** Training loop shared by [[bpeTrainMerges]] (the merge table) and
    * [[bpeEncode]] (which also needs the trained per-word segmentation):
    * returns the k merges plus the final word table (w, syms, freq). */
  def bpeTrainState(docs: org.apache.spark.sql.DataFrame, k: Int,
      textCol: String = "text")
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    var words = Materialize.once(docs
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("syms"), col("freq")))
    // Batched rounds: ONE pair-count job collects the top-`horizon`
    // candidates, and the maximal SAFE batch of them applies in one
    // rewrite — k sequential driver round-trips (the r6-flagged latency
    // bound) drop to ~k/batch jobs, with a provably identical merge
    // table. Safety argument, pinned by TextKitSpec's equivalence test:
    //  * take candidates in global order (cnt desc, lex) and keep a
    //    PREFIX of pairwise symbol-DISJOINT pairs, stopping at the
    //    first candidate sharing a symbol with an earlier prefix member
    //    — merging disjoint pairs neither creates nor destroys each
    //    other's occurrences, so every batched pair's count (and thus
    //    its recorded cnt) is exactly what the sequential trainer would
    //    recompute;
    //  * any pair a merge (l,r) NEWLY creates, e.g. (x, lr), has count
    //    ≤ the OLD overlapping pair (x, l) — which, overlapping the
    //    prefix, sits at/after the stop candidate, so its count is
    //    ≤ stopCnt; trimming the batch to members with cnt STRICTLY >
    //    stopCnt means no created (or count-decreased) pair can win —
    //    or tie-then-win lexicographically — any batched round.
    val horizon = 64
    val maxBatch = 16 // bounds the codegen'd when-chain in the rewrite
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    while (merges.size < k) {
      val top = words.filter(size(col("syms")) > 1)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1), j =>
            struct(element_at(col("syms"), j).as("l"),
              element_at(col("syms"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(horizon)
        .collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (top.isEmpty) {
        // corpus fully merged before k rounds — nothing left to learn
        return (merges.toSeq, words)
      }
      val used = scala.collection.mutable.Set.empty[String]
      var batch = Vector.empty[(String, String, Long)]
      var stopCnt = -1L // count bound on everything NOT safely batched
      var i = 0
      while (stopCnt < 0 && i < top.length &&
          batch.size < math.min(maxBatch, k - merges.size)) {
        val (l, r, c) = top(i)
        if (used(l) || used(r)) stopCnt = c
        else { batch :+= ((l, r, c)); used += l; used += r; i += 1 }
      }
      // The cap and the horizon are cuts too: unprocessed candidates
      // (count ≤ the next/last seen count) may overlap the batch, so
      // trim as if the first of them had stopped us. Only the complete-
      // universe, no-overlap case (fewer than `horizon` pairs exist and
      // the loop consumed them all) needs no trim: there, an old pair
      // overlapping a batched one would itself have stopped the loop,
      // and with none present a merge cannot create ANY new pair.
      if (stopCnt < 0) {
        if (i < top.length) stopCnt = top(i)._3            // cap cut
        else if (top.length == horizon) stopCnt = top.last._3 // horizon cut
      }
      val safe = if (stopCnt < 0) batch else batch.filter(_._3 > stopCnt)
      // degenerate guard: ties all the way down the horizon — fall back
      // to the plain sequential step for this round
      val applied = if (safe.nonEmpty) safe else batch.take(1)
      // greedy leftmost non-overlapping merge, all batched rules in one
      // fold: rules are symbol-disjoint, so at most one can fire at any
      // position — the when-chain order is immaterial and the result
      // equals applying the rules in separate sequential passes.
      val next = Materialize.once(words.withColumn("syms",
          when(size(col("syms")) > 1,
            aggregate(slice(col("syms"), lit(2), size(col("syms")) - 1),
              array(element_at(col("syms"), 1)),
              (acc, x) => applied.foldRight(
                concat(acc, array(x))) { case ((lS, rS, _), els) =>
                  when(
                    element_at(acc, -1) === lit(lS) && x === lit(rS),
                    concat(slice(acc, lit(1), size(acc) - 1),
                      array(lit(lS + rS))))
                    .otherwise(els)
                }))
            .otherwise(col("syms"))))
      Materialize.free(words)
      words = next
      applied.foreach { case (l, r, c) =>
        merges += (((merges.size + 1).toLong, l, r, c))
      }
    }
    (merges.toSeq, words)
  }

  /** Encode the corpus with a freshly trained k-merge BPE vocabulary:
    * per document, the sub-word token count after the merges, next to
    * the raw word/char counts — the "how much does my tokenizer
    * compress" report a data pipeline runs after training.
    *
    * Scale shape: training touches only the deduped word table; encoding
    * is one broadcast join of that (vocabulary-sized) table back to the
    * exploded corpus words and a per-doc rollup — the fact is scanned
    * once and shuffles once on doc_id. */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val (_, words) = bpeTrainState(docs, k, textCol)
    val wordTok = words.select(col("w"), size(col("syms")).cast(LongType).as("n_tok"))
    docs.select(col(idCol),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wordTok), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast(LongType)).as("n_chars_az"),
        sum(col("n_tok")).as("n_bpe"))
      .withColumn("chars_per_token",
        col("n_chars_az").cast(DoubleType) / col("n_bpe").cast(DoubleType))
  }
}

/** DuckDB SQL mirrors of [[TextKit]] — used to assemble oracle SQL.
  * Each function returns a SQL expression string over a column/expr name. */
object DuckSql {
  val P = "1000000007"

  def words(text: String): String = s"string_split($text, ' ')"

  def charCodes(s: String): String =
    s"list_transform(generate_series(1, length($s)), i -> CAST(ascii(substr($s, i, 1)) AS BIGINT))"

  def polyHash(s: String): String =
    s"list_reduce(list_prepend(0::BIGINT, ${charCodes(s)}), (a, c) -> (a*31 + c) % $P)"

  /** Mirror of wordShingles over a bound words-array expression (use a
    * CTE to bind `string_split(text, ' ')` to a column first). */
  def wordShingles(w: String, n: Int = 3): String = {
    val parts = (0 until n).map(j => s"$w[i+$j]").mkString(" || ' ' || ")
    s"""CASE WHEN len($w) >= $n
        THEN list_distinct(list_transform(generate_series(1, len($w) - ${n - 1}), i -> $parts))
        ELSE [] END"""
  }

  def wordHashes(text: String): String =
    s"list_transform(${words(text)}, w -> ${polyHash("w")})"

  /** Hashes of distinct word bigrams over a bound words-array column. */
  def bigramHashes(w: String): String =
    s"list_transform(${wordShingles(w, 2)}, s -> ${polyHash("s")})"

  def simHash(text: String, bits: Int = 24): String =
    simHashFromWh(wordHashes(text), bits)

  def simHashFromWh(wh: String, bits: Int): String = {
    s"""list_reduce(list_prepend(0::BIGINT,
          list_transform(generate_series(0, ${bits - 1}), i ->
            CASE WHEN list_reduce(list_prepend(0::BIGINT,
                   list_transform($wh, h -> ((h // CAST(POW(2.0, i) AS BIGINT)) % 2) * 2 - 1)),
                 (a, b) -> a + b) >= 0
            THEN CAST(POW(2.0, i) AS BIGINT) ELSE 0 END)),
        (a, b) -> a + b)"""
  }
}

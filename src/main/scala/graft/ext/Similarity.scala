package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Materialize

/** Similarity search over an embedding column (`array<float>`) — the
  * north-star ANN surface. Higher-order functions only (`zip_with` +
  * serial `aggregate` fold), no UDFs, so the dot product is a codegen'd
  * expression and — crucially for the oracle — a deterministic
  * left-to-right IEEE double fold that DuckDB's `list_reduce` reproduces
  * bit-for-bit.
  *
  * Norms are materialized once per vector (an O(N·d) projection) before
  * any pairing, so the O(pairs) stage folds each pair's dot product only —
  * never a recomputed norm.
  *
  * Scale design (100 TB): brute force is O(Q·N·d) with a full scan of
  * the corpus per query batch — correct baseline, not the scale path.
  * [[ivfTopK]] is the scale path: a coarse quantizer assigns every vector
  * to its nearest centroid (one broadcast join against the tiny centroid
  * set), queries probe only `nProbe` clusters, and the candidate join is
  * keyed by cluster id — the corpus scan drops to ~nProbe/nList of N.
  * Centroids here are a deterministic sample (first nList vec_ids); at
  * real scale they come from k-means and the same plan shape holds.
  */
object Similarity {

  /** Serial-fold dot product of two float arrays in double — the native
    * codegen expression ([[graft.functions.DotProduct]]); identical fold
    * order and null semantics to the HOF form [[dotHof]], so oracle
    * hash-equality is preserved while the ANN inner loop stays inside
    * whole-stage codegen with no per-pair intermediate array. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Higher-order-function twin of [[dot]] (kept as the executable
    * specification the codegen expression is tested against). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Convenience single-expression cosine (norms recomputed inline); the
    * DataFrame ops below use materialized norms instead. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** vec frame + materialized L2 norm. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", norm(col("embedding")))

  /** Embedding near-dup pairs within a coarse bucket (here: `label`, the
    * IVF-cell stand-in): cosine >= threshold, a < b. Bucketing keeps the
    * pair space per-bucket instead of N². */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(emb).transform(Par.spread(_, col("vec_id")))
    e.as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        (dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Dynamic-width random-hyperplane LSH bucket: like [[lshBucket]] but
    * the number of sign bits is a COLUMN (computed from corpus size at
    * plan time) and the hyperplane index is offset per hash table.
    * `nPlanes <= 0` yields bucket 0 (one cell — the small-corpus
    * degenerate case where no subdivision is needed). Native one-pass
    * codegen Expression ([[graft.functions.LshBucket]]); the HOF twin
    * below is the cross-check reference (LshBucketSpec pins
    * value-identity, including the exact IEEE accumulation order). */
  def lshBucketDyn(emb: Column, nPlanes: Column, planeOffset: Column): Column =
    graft.functions.LshBucket(emb, nPlanes, planeOffset)

  /** Interpreted higher-order twin of [[lshBucketDyn]] — kept as the
    * cross-check reference for the native Expression. Guarded with
    * `when` because Spark's `sequence(0, -1)` counts DOWN instead of
    * returning empty. */
  def lshBucketDynHof(emb: Column, nPlanes: Column, planeOffset: Column): Column =
    when(nPlanes > 0,
      aggregate(
        transform(sequence(lit(0), nPlanes - 1), j => {
          val d = aggregate(
            transform(sequence(lit(1), size(emb)), i =>
              element_at(emb, i).cast(DoubleType) *
                hyperplaneComponent(j + planeOffset, i)),
            lit(0.0), (acc, v) => acc + v)
          when(d >= 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
        }),
        lit(0L), (a, b) => a + b)).otherwise(lit(0L))

  /** SemDeDup-scale embedding near-dup pairs: the linear-pair-space form
    * of [[nearDupPairs]]. The label bucket alone leaves per-bucket pair
    * space O((N/L)²) — quadratic in corpus size, the one growth term the
    * 10×-rows campaign flagged. Here each label bucket is subdivided by
    * random-hyperplane LSH cells whose BIT COUNT ADAPTS to corpus size
    * (b = ⌈log₂⌈N/(L·targetCell)⌉⌉, computed with integer doubling
    * counts — no libm — so the oracle reproduces it exactly): expected
    * cell size stays ≈ targetCell whatever N is, so the candidate space
    * is O(N · targetCell · tables) — linear, the published SemDeDup shape
    * (cluster count scales with corpus; pairs only within a cell).
    *
    * `tables` independent hyperplane sets (plane index offset 37·t) are
    * unioned to recover recall lost at cell boundaries — the standard
    * multi-table LSH dial. At the tight thresholds semantic dedup
    * actually runs (cos ≥ ~0.95, θ ≤ ~18°) a same-cell collision is
    * near-certain per table and the union is near-exhaustive; at loose
    * thresholds recall degrades gracefully and `tables` is the dial.
    * When b = 0 (corpus fits the per-cell target) every table is the
    * single label cell and the output is IDENTICAL to [[nearDupPairs]].
    * Output: distinct (a, b, cos) pairs with cos ≥ threshold — cos is
    * computed exactly once per distinct candidate (the same serial-fold
    * value [[nearDupPairs]] emits, so downstream consumers and oracles
    * are interchangeable between the two forms). */
  def semanticNearDupPairs(emb: DataFrame, threshold: Double,
      targetCell: Int = 50, tables: Int = 4): DataFrame = {
    val e = withNorm(emb)
    val params = e.agg(count(lit(1)).as("nn"),
        countDistinct(col("label")).as("ll"))
      .select((expr(s"(nn + ll * $targetCell - 1) div (ll * $targetCell)"))
        .as("r"))
      .select(size(filter(sequence(lit(0), lit(29)),
        j => pow(lit(2.0), j).cast("long") < col("r"))).as("b"))
    // All T table buckets in ONE pass over the vectors (generate, not T
    // scans), then one narrow self-join on (table, label, cell) — ids
    // only, no embeddings through the exchange. The cosine verify runs
    // ONCE per DISTINCT candidate pair (a pair colliding in several
    // tables is deduped before the O(d) dot product), via two id-keyed
    // embedding fetch joins — broadcast at small N, hash at scale,
    // linear either way.
    val bkts = e.crossJoin(broadcast(params))
      .transform(Par.spread(_, col("vec_id")))
      .select(col("vec_id"), col("label"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"),
            lshBucketDyn(col("embedding"), col("b"), lit(t * 37))
              .as("bkt"))): _*)).as("tb"))
      .select(col("vec_id"), col("label"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val cand = bkts.as("x").join(bkts.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.label") === col("y.label") &&
          col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val ea = e.select(col("vec_id").as("a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val eb = e.select(col("vec_id").as("b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    cand.join(ea, Seq("a")).join(eb, Seq("b"))
      .select(col("a"), col("b"),
        (dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Brute-force cosine top-k: every query vector against the full
    * corpus (minus itself); rank by (cos desc, vec_id) for determinism. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = withNorm(emb)
    val q = withNorm(queries)
    val scored = broadcast(q.as("q")).join(v.as("v"), col("q.vec_id") =!= col("v.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("v.vec_id").as("n_id"),
        (dot(col("q.embedding"), col("v.embedding")) /
          (col("q.nrm") * col("v.nrm"))).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Hard-negative mining — for each query vector, the top-k most
    * SIMILAR vectors carrying a DIFFERENT label: the contrastive-
    * training data-prep step (the informative negatives live near the
    * decision boundary, not in random draws). Same bounded shape as
    * [[bruteForceTopK]] with the label-inequality residual in the join;
    * at corpus scale the candidate side routes through the IVF/LSH
    * bucketing exactly like the positive path. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = withNorm(emb)
    val q = withNorm(queries)
    val scored = broadcast(q.as("q")).join(v.as("v"),
        col("q.vec_id") =!= col("v.vec_id") && col("q.label") =!= col("v.label"))
      .select(col("q.vec_id").as("q_id"), col("v.vec_id").as("n_id"),
        col("v.label").as("n_label"),
        (dot(col("q.embedding"), col("v.embedding")) /
          (col("q.nrm") * col("v.nrm"))).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "n_label", "rank", "cos")
  }

  /** Brute-force cosine top-k via the typed [[graft.functions.TopKAggregator]]
    * instead of a window sort: same scored pairs, but selection runs as a
    * partial aggregate (≤ k rows per group survive each map task before
    * the shuffle) — the bounded-shuffle form for when the candidate set
    * per query is huge. Bit-identical output to [[bruteForceTopK]]. */
  def bruteForceTopKAgg(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = withNorm(emb)
    val q = withNorm(queries)
    val scored = broadcast(q.as("q")).join(v.as("v"), col("q.vec_id") =!= col("v.vec_id"))
      .select(col("q.vec_id").cast("long").as("q_id"),
        col("v.vec_id").cast("long").as("n_id"),
        (dot(col("q.embedding"), col("v.embedding")) /
          (col("q.nrm") * col("v.nrm"))).as("cos"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .mapValues(t => graft.functions.ScoredId(t._2, t._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(col("q_id"), posexplode(col("topk")).as(Seq("pos", "s")))
      .select(col("q_id"), col("s.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for plane j,
    * dimension i: an integer hash mapped into [-0.5, 0.5). Pure integer
    * arithmetic + one IEEE division, so the DuckDB oracle reproduces it
    * exactly — no stored model needed. */
  def hyperplaneComponent(j: Column, i: Column): Column =
    ((j * 64 + i) * lit(2654435761L) % lit(1000000007L)).cast(DoubleType) /
      lit(1000000007.0) - lit(0.5)

  /** Random-hyperplane LSH bucket: `nPlanes` sign bits of hyperplane dot
    * products → an integer bucket. Cosine-similar vectors agree on most
    * signs, so they collide with high probability. Native one-pass
    * codegen Expression ([[graft.functions.LshBucket]], offset 0); the
    * HOF twin is the cross-check reference. */
  def lshBucket(emb: Column, nPlanes: Int = 8): Column =
    graft.functions.LshBucket(emb, lit(nPlanes), lit(0))

  /** Interpreted higher-order twin of [[lshBucket]] — kept as the
    * cross-check reference for the native Expression. */
  def lshBucketHof(emb: Column, nPlanes: Int = 8): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), j => {
        val d = aggregate(
          transform(sequence(lit(1), size(emb)), i =>
            element_at(emb, i).cast(DoubleType) * hyperplaneComponent(j, i)),
          lit(0.0), (acc, v) => acc + v)
        when(d >= 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
      }),
      lit(0L), (a, b) => a + b)

  /** LSH-bucketed ANN top-k: queries search only their own sign-bucket —
    * the single-table LSH baseline (multi-table/multi-probe are the
    * standard recall dials at scale; the plan shape stays a bucket-keyed
    * join either way). */
  def lshTopK(emb: DataFrame, queries: DataFrame, nPlanes: Int = 8,
      k: Int = 5): DataFrame = {
    def bucketed(df: DataFrame): DataFrame =
      withNorm(df).withColumn("bucket", coalesce(lshBucket(col("embedding"), nPlanes), lit(-1L)))
        .transform(Par.spread(_, col("vec_id")))
    val v = bucketed(emb)
    val q = bucketed(queries)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.as("q").join(v.as("v"),
        col("q.bucket") === col("v.bucket") && col("q.vec_id") =!= col("v.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("v.vec_id").as("n_id"),
        (dot(col("q.embedding"), col("v.embedding")) /
          (col("q.nrm") * col("v.nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Distributed spherical k-means for the IVF coarse quantizer: Lloyd
    * iterations written entirely as DataFrame ops, so training scales
    * exactly like the search — assignment is a broadcast of the (tiny)
    * centroid set against the (huge) vector table, recomputation is one
    * keyed aggregation over (cell, dimension). Seeding is deterministic —
    * the `nList` lowest vec_ids among NONZERO-norm vectors (a zero-norm
    * seed would yield a NaN centroid, and NaN cosine sorts first under
    * desc ordering, collapsing every assignment into the degenerate cell
    * on the first iteration).
    *
    * `exact = false` (default, the scale path): per-dimension means are
    * `avg()` — shuffle-order-dependent float sums, fine for training an
    * ANN *index* (spec-verified by recall), no bit-stable-centroid
    * promise. `exact = true`: each (cell, dimension) mean is a serial
    * left-fold in vec_id order (collect → sort → fold), bit-reproducible
    * by any engine that replays the same fold — this is what puts the
    * trained quantizer under the DuckDB hash gate. Costs a collect_list
    * per (cell, dim) group; prefer the default beyond oracle scale.
    *
    * EAGER: every iteration is materialized at call time and the one
    * before it freed. Returns (c_id, c_emb, c_nrm) with unit-norm
    * centroids, the shape [[ivfTopK]] consumes, read from the final
    * iteration's handle. */
  def trainCentroids(emb: DataFrame, nList: Int, iters: Int = 5,
                     exact: Boolean = false): DataFrame = {
    val nonzero = withNorm(emb).filter(col("nrm") > 0)
    var centroids = Materialize.once(nonzero.orderBy(col("vec_id")).limit(nList)
      .select(col("vec_id").cast("long").as("c_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm")).as("c_emb")))
    val unit = Materialize.once(nonzero
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm")).as("u")))
    for (_ <- 0 until iters) {
      // Aggregate argmax, not a rank window (see [[trainedAssignments]]):
      // u rides inside the min struct — (−cos, c_id) is unique per group,
      // so the comparator never reaches it; the exchange carries one
      // partially-minimized row per vector instead of nList sorted ones.
      val assigned = unit.crossJoin(broadcast(centroids))
        .withColumn("c_cos", dot(col("u"), col("c_emb")))
        .groupBy(col("vec_id"))
        .agg(min(struct((-col("c_cos")).as("nc"), col("c_id").as("cid"),
          col("u").as("u"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("c_id"), col("m.u").as("u"))
      // elementwise mean per cell, then renormalize back to the sphere
      val perDim = assigned
        .select(col("c_id"), col("vec_id"), posexplode(col("u")).as(Seq("pos", "v")))
        .groupBy("c_id", "pos")
      val mean =
        (if (exact)
          perDim.agg((aggregate(
              transform(array_sort(collect_list(struct(col("vec_id"), col("v")))),
                p => p("v")),
              lit(0.0), (a, x) => a + x) / count(lit(1))).as("m"))
        else perDim.agg(avg(col("v")).as("m")))
        .groupBy("c_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("c_id"), transform(col("ps"), p => p("m")).as("s"))
        .withColumn("n", sqrt(aggregate(col("s"), lit(0.0), (a, x) => a + x * x)))
        .filter(col("n") > 0)
        .select(col("c_id"), transform(col("s"), x => x / col("n")).as("c_emb"))
      val next = Materialize.once(mean)
      Materialize.free(centroids)
      centroids = next
    }
    Materialize.free(unit)
    centroids.withColumn("c_nrm", lit(1.0))
  }

  /** Per-label centroid cohesion report: for each label bucket (the
    * IVF-cell / cluster stand-in), the member count, the exact mean
    * cosine of members to their label centroid, and the worst member —
    * the cluster-quality observability a curation pass reads before
    * trusting label-bucketed near-dup or SemDeDup decisions (a low
    * mean_cos label is too diffuse for its bucket to gate candidates).
    *
    * Determinism: the centroid's per-dimension mean and the per-label
    * mean cosine are serial left-folds in vec_id order (same trick as
    * [[trainCentroids]] exact mode), so the DuckDB oracle reproduces
    * every double bit-for-bit. Scale: two keyed aggregations (label×dim,
    * then label) plus one broadcast join of the ≤|labels| centroid table
    * back to members — no pair space, no window over the corpus. */
  def labelCohesion(emb: DataFrame): DataFrame = {
    val nz = withNorm(emb).filter(col("nrm") > 0)
    nz.join(broadcast(labelCentroids(nz)), Seq("label"))
      .withColumn("cos",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        (aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("cos")))),
            p => p("cos")),
          lit(0.0), (a, x) => a + x) / count(lit(1))).as("mean_cos"),
        min(col("cos")).as("min_cos"))
  }

  /** Exact per-label centroid table (label, c_emb, c_nrm) over norm-
    * filtered embeddings: per-dimension means folded in vec_id order so
    * every double is reproducible (shared by [[labelCohesion]] and
    * [[silhouetteMargin]]). */
  private def labelCentroids(nz: DataFrame): DataFrame = {
    val perDim = nz
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("v")))),
            p => p("v")),
          lit(0.0), (a, x) => a + x) / count(lit(1))).as("m"))
    perDim.groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select(col("label"), transform(col("ps"), p => p("m")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
  }

  /** Centroid-based silhouette margin per label: each member's cosine to
    * its OWN label centroid minus its best cosine to any OTHER label
    * centroid — [[labelCohesion]] measures how tight a cluster is, this
    * measures how SEPARATED it is from its neighbors (the full-silhouette
    * a(i)/b(i) idea with centroids standing in for member averages,
    * which keeps the cost O(N·labels) instead of O(N²)). A negative
    * margin means the member sits closer to a foreign centroid — the
    * mislabeled/boundary fraction `n_separated` exposes per label.
    *
    * Determinism: centroids and the per-label mean margin fold in vec_id
    * order (the [[labelCohesion]] convention); max-over-centroids is
    * order-free. Scale: one broadcast of the ≤|labels| centroid table
    * against the corpus (the SAME broadcast serves own and best-other
    * via a conditional max), one vec_id aggregation, one label rollup. */
  def silhouetteMargin(emb: DataFrame): DataFrame = {
    val nz = withNorm(emb).filter(col("nrm") > 0)
    val cent = labelCentroids(nz)
      .select(col("label").as("c_label"), col("c_emb"), col("c_nrm"))
    val scored = nz.crossJoin(broadcast(cent))
      .withColumn("cos",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
    val perVec = scored.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("label") === col("c_label"), col("cos"))).as("own_cos"),
        max(when(col("label") =!= col("c_label"), col("cos"))).as("best_other"))
      .filter(col("best_other").isNotNull) // single-label corpus: no margin
      .withColumn("margin", col("own_cos") - col("best_other"))
    perVec.groupBy("label")
      .agg(count(lit(1)).as("n"),
        (aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("margin")))),
            p => p("margin")),
          lit(0.0), (a, x) => a + x) / count(lit(1))).as("mean_margin"),
        sum(when(col("margin") > 0, 1L).otherwise(0L)).as("n_separated"))
  }

  /** Quantizer assignment table over TRAINED centroids: every vector's
    * nearest cell after `iters` exact-fold Lloyd iterations — the
    * driver-gated form of the trained IVF path ([[ivfTopK]] consumes the
    * same quantizer via its `quantizer` param). */
  def trainedAssignments(emb: DataFrame, nList: Int, iters: Int): DataFrame = {
    val centroids = broadcast(trainCentroids(emb, nList, iters, exact = true))
    withNorm(emb).filter(col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm")).as("u"))
      // hint at the join site too (not just on the val): re-planning
      // through an intermediate reference must never demote this to a
      // shuffled cartesian at 100× centroid counts
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", dot(col("u"), col("c_emb")))
      // Nearest-cell argmax as an AGGREGATE (min over (−cos, c_id)), not
      // a rank window (r12, guide §2.3 "aggregate before you shuffle"):
      // the window exchanged all nList×N full-width rows (u rides every
      // candidate) to sort nList rows per key; the aggregate partial-mins
      // map-side — the crossJoin emits a vector's nList candidates
      // consecutively in one partition — so the exchange carries N narrow
      // rows. Ties (equal cos): min c_id, exactly the window's
      // (cos desc, c_id) rank-1; −(−cos) is IEEE-exact, so the readout is
      // bit-identical and the oracle is untouched. Caveat (r12 advice):
      // bit-identity assumes c_cos is never NaN for a strict SUBSET of a
      // vector's centroids — a window's DESC sort ranks NaN first while
      // struct-min ranks NaN last. Cannot arise here: centroids are
      // means of unit vectors and u is finite, so every c_cos is finite;
      // a zero-norm centroid would NaN every candidate of every vector
      // equally (both forms then pick the same row). Guard with
      // nanvl(c_cos, -Infinity) before using this form on inputs where
      // PARTIAL NaN per group is possible.
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c_cos")).as("nc"), col("c_id").as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"), (-col("m.nc")).as("cos"))
  }

  /** IVF top-k: assign all vectors to their nearest of `nList` centroids
    * (broadcast join), then each query searches only its `nProbe` closest
    * cells. Approximate: a true neighbor assigned to an unprobed cell is
    * missed — that is the accuracy/cost dial. Pass `quantizer` (e.g.
    * [[trainCentroids]] output) to search a trained cell layout; the
    * default seeds cells from the first `nList` vectors. */
  def ivfTopK(emb: DataFrame, queries: DataFrame,
              nList: Int = 10, nProbe: Int = 2, k: Int = 5,
              quantizer: Option[DataFrame] = None): DataFrame = {
    val centroids = broadcast(quantizer.getOrElse(
      withNorm(emb.filter(col("vec_id") < nList))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nrm").as("c_nrm"))))
    def nearestCells(vecs: DataFrame, keep: Int): DataFrame = {
      val scored = withNorm(vecs).crossJoin(broadcast(centroids))
        .withColumn("c_cos",
          dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      if (keep == 1)
        // Corpus-side assignment (the big side): aggregate argmax instead
        // of a rank window — map-side partial min collapses each vector's
        // nList candidate rows before the exchange (guide §2.3), where the
        // window shuffled and sorted all of them, embeddings riding every
        // row. Tie order (cos desc, c_id asc) and values are identical —
        // see [[trainedAssignments]]. NaN pin (r12 advice): the default
        // quantizer seeds cells from raw vectors, so a zero-norm seed
        // would NaN exactly ONE centroid's c_cos per vector — a window's
        // DESC sort ranks NaN first while a bare struct-min ranks it
        // last. Map NaN → −∞ in the min key so the aggregate reproduces
        // the window's NaN-first choice (and its c_id tiebreak)
        // unconditionally; for finite cos — all contract data — the key
        // is untouched.
        scored.groupBy(col("vec_id"))
          .agg(min(struct(
            when(isnan(col("c_cos")), lit(Double.NegativeInfinity))
              .otherwise(-col("c_cos")).as("nc"),
            col("c_id").as("cid"),
            col("embedding").as("e"), col("nrm").as("n"))).as("m"))
          .select(col("vec_id"), col("m.e").as("embedding"),
            col("m.n").as("nrm"), col("m.cid").as("c_id"))
      else {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
        scored.withColumn("c_rank", row_number().over(w))
          .filter(col("c_rank") <= keep)
          .drop("c_emb", "c_cos", "c_rank", "c_nrm")
      }
    }
    val assigned = nearestCells(emb, 1)
      .select(col("c_id").as("cell"), col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    val probes = nearestCells(queries, nProbe)
      .select(col("c_id").as("cell"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Product-quantization (PQ) top-k: the compressed-domain ANN scan.
    * Each unit vector is cut into `m` sub-vectors of `subDim` dims; each
    * sub-vector is replaced by the id of its nearest codeword (L2) in a
    * per-subspace codebook of `nCode` entries — the vector collapses from
    * `m·subDim` floats to `m` small ints (64 dims → 8 bytes here, a 32×
    * compression). A query stays full-precision and scores candidates by
    * ADC (asymmetric distance computation): its per-subspace dot products
    * with every codeword form an `m × nCode` lookup table computed ONCE
    * per query, and each candidate's approximate cosine is then `m` table
    * lookups + adds — no float multiply touches the corpus at scan time.
    *
    * Scale design (100 TB): the codebook is a single broadcast row built
    * from the `nCode` lowest vec_ids (deterministic seed, same convention
    * as [[ivfTopK]]; at real scale codewords come from per-subspace
    * k-means — [[trainCentroids]] shows the training shape — and the scan
    * below is unchanged). Encoding is one narrow projection over the
    * corpus; the code table it emits is what a 100 TB deployment persists
    * and re-scans (32× smaller than the embeddings), composing with IVF
    * cell-routing for sub-linear candidate counts. Every reduction is a
    * serial left-fold (`zip_with` + `aggregate`, subspaces in order), so
    * the DuckDB oracle reproduces each ADC score bit-for-bit; codeword
    * argmin is array_min + first-position, deterministic under ties. */
  /** Codebook singleton: cb[s][c] = sub-vector s of seed vector c —
    * [m][nCode][subDim] nested arrays in one broadcast row. */
  private[graft] def pqCodebook(un: DataFrame, m: Int = 8, subDim: Int = 8,
      nCode: Int = 16): DataFrame =
    un.filter(col("vec_id") < nCode)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("u")))).as("seeds"))
      .select(transform(sequence(lit(0), lit(m - 1)), s =>
        transform(col("seeds"), v =>
          slice(v.getField("u"), s * lit(subDim) + 1, lit(subDim)))).as("cb"))

  /** Encode: per subspace, distances to all codewords, keep the argmin
    * (first index of the exact min — ties resolve to the lowest c_id). */
  private[graft] def pqEncode(un: DataFrame, cb: DataFrame, m: Int = 8,
      subDim: Int = 8): DataFrame = {
    def fold1(terms: Column): Column =
      aggregate(terms, lit(0.0), (a, v) => a + v)
    un.crossJoin(broadcast(cb))
      .select(col("vec_id").as("n_id"),
        transform(sequence(lit(0), lit(m - 1)), s => {
          val sub = slice(col("u"), s * lit(subDim) + 1, lit(subDim))
          val dists = transform(element_at(col("cb"), s + 1), cvec =>
            fold1(zip_with(sub, cvec, (x, y) => (x - y) * (x - y))))
          (array_position(dists, array_min(dists)) - 1).cast("int")
        }).as("codes"))
  }

  /** The persisted code table alone ([[pqEncode]] from raw embeddings) —
    * the stage a 100 TB deployment materializes once per corpus. */
  private[graft] def pqCodes(emb: DataFrame, m: Int = 8, subDim: Int = 8,
      nCode: Int = 16): DataFrame = {
    val un = withNorm(emb).filter(col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm")).as("u"))
    pqEncode(un, pqCodebook(un, m, subDim, nCode), m, subDim)
  }

  def pqTopK(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
             m: Int = 8, subDim: Int = 8, nCode: Int = 16): DataFrame = {
    val un = withNorm(emb).filter(col("nrm") > 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType) / col("nrm")).as("u"))
    val cb = pqCodebook(un, m, subDim, nCode)
    def fold1(terms: Column): Column =
      aggregate(terms, lit(0.0), (a, v) => a + v)
    // The exchange pins the encode to ONE evaluation per corpus vector:
    // without a boundary, CollapseProject inlines the [m]×[nCode]
    // argmin expression into the ADC join's output projection and the
    // encode re-runs once per (query, vector) PAIR — nQueries× the
    // work. (In the 100 TB deployment `coded` is a persisted table and
    // the boundary is the parquet scan itself.)
    val coded = pqEncode(un, cb, m, subDim).repartition(col("n_id"))
    // Per-query ADC lookup table: lut[s][c] = dot(q_sub_s, cb[s][c]).
    val qlut = un.filter(col("vec_id") < nQueries).crossJoin(broadcast(cb))
      .select(col("vec_id").as("q_id"),
        transform(sequence(lit(1), lit(m)), s =>
          transform(element_at(col("cb"), s), cvec =>
            fold1(zip_with(slice(col("u"), (s - lit(1)) * subDim + 1, lit(subDim)),
              cvec, (x, y) => x * y)))).as("lut"))
    // The nQueries-row LUT side MUST carry an explicit broadcast hint:
    // without it the non-equi join falls back to CartesianProduct once
    // size stats exceed the broadcast threshold, and CartesianRDD
    // re-evaluates the RIGHT side per left partition — re-running the
    // whole corpus ENCODE ~#partitions times (measured 70 s vs 1 s at
    // the 10× probe; the r7 sf1 bench caught it as a 64× ratio).
    // ADC fold as the native expression (graft.functions.AdcScore):
    // same serial IEEE adds as the sequence-fold HOF twin
    // (AdcScoreSpec pins equality) without m interpreted element_at
    // chains per (query, vector) pair — the compressed-domain scan is
    // the op PQ exists to make cheap, so it must not be the slow node.
    val scored = broadcast(qlut).join(coded, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.AdcScore(col("lut"), col("codes")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "adc")
  }

  /** Recall@k of an ANN result against the exact top-k — the number an
    * ANN deployment is TUNED by (nProbe / nPlanes / nList trade recall
    * for scan fraction; without this readout the tuning is blind). Both
    * inputs are (q_id, n_id, ...) rank tables; a query the approx method
    * returns nothing for counts as zero hits, not a missing row. One
    * semi-join on (q_id, n_id) + two tiny aggregates; doubles come from
    * a single integer division each, so the value is bit-stable across
    * engines. Emits one row: (method, n_queries, hits, mean_recall,
    * min_recall). */
  def recallAtK(exact: DataFrame, approx: DataFrame, method: String,
      k: Int): DataFrame = {
    val hits = exact.select("q_id", "n_id")
      .join(approx.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("h"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("h"), lit(0L)).as("h"))
      .agg(count(lit(1)).as("n_queries"), sum(col("h")).as("hits"),
        min(col("h")).as("min_h"))
      .select(lit(method).as("method"), col("n_queries"), col("hits"),
        (col("hits").cast("double") / (col("n_queries") * lit(k))
          .cast("double")).as("mean_recall"),
        (col("min_h").cast("double") / lit(k.toDouble)).as("min_recall"))
  }

  /** Serial-fold squared L2 distance over two DOUBLE arrays — the
    * [[dotHof]] convention ((a_i − b_i)² in position order), so DuckDB's
    * `list_reduce` over `generate_series` reproduces it bit-for-bit.
    * Callers cast `array<float>` embeddings to `array<double>` ONCE
    * before pairing (float→double is exact; doing the cast inside the
    * fold would change the rounding site). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Greedy k-center (farthest-point / Gonzalez 1985) coreset selection —
    * the DIVERSITY side of training-data curation (dedup removes copies;
    * k-center picks a subset whose coverage radius over the corpus is
    * ≤ 2× optimal). Seed = lowest id; each round picks the point farthest
    * from the chosen set (max-min d², ties → lowest id) and emits the
    * coverage radius at pick time — the classic non-increasing radius
    * sequence.
    *
    * Scale shape: the chosen set lives on the driver (k ≤ a few hundred)
    * and enters each round as an ARRAY LITERAL — every round is one
    * embarrassingly-parallel scan computing d²(x, new_center) and a
    * running `least` against the previous round's column (incremental:
    * rounds cost O(N·d) each, not O(N·k·d)), then a TakeOrdered(1)
    * argmax. Each round is materialized and the one before it freed,
    * so lineage stays flat and at most two N-row rounds are live.
    * Collects are k single rows — bounded driver traffic, like the BPE
    * trainer's candidate horizon. EAGER: every round runs at call time
    * and the result is a local relation; nothing it read stays stored.
    *
    * `points` must carry (vec_id: long, v: array<double>). Output: one
    * row per selection round — (round, vec_id, radius), radius null for
    * the seed. */
  def kCenterSelect(points: DataFrame, k: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    Materialize.scope(spark) {
      val pts = Materialize.once(points.select(col("vec_id"), col("v")))
      val seed = pts.orderBy(col("vec_id")).limit(1).collect().head
      var centerVec: Seq[Double] = seed.getSeq[Double](1)
      val picks = scala.collection.mutable.ListBuffer(
        (0L, seed.getLong(0), Option.empty[Double]))
      var cur: DataFrame = null
      var exhausted = false
      for (r <- 1 to k if !exhausted) {
        val dNew = sqDist(col("v"), typedLit(centerVec))
        val next = Materialize.once(
          if (r == 1) pts.withColumn("d", dNew)
          else cur.withColumn("d", least(col("d"), dNew)))
        if (cur != null) Materialize.free(cur)
        cur = next
        val pick = cur.orderBy(col("d").desc, col("vec_id")).limit(1)
          .select("vec_id", "d", "v").collect().head
        // Early exit: max-min distance 0 means every point is already a
        // chosen center (k ≥ #distinct points) — continuing would re-pick
        // existing centers and emit duplicate vec_ids with radius 0.
        if (pick.getDouble(1) == 0.0) exhausted = true
        else {
          picks += ((r.toLong, pick.getLong(0), Some(pick.getDouble(1))))
          centerVec = pick.getSeq[Double](2)
        }
      }
      picks.toSeq.toDF("round", "vec_id", "radius")
    }
  }
}

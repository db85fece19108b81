package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Distributed graph analytics over edge tables — the operator class the
  * dedup/curation pipelines need beyond connected components
  * ([[Dedup.dupClusters]]): triangle counting measures how CLIQUE-like a
  * near-dup or co-engagement neighborhood is (a hub sharing boilerplate
  * with many unrelated docs has high degree but few triangles; a true
  * duplicate cluster is all-triangles), the standard cohesion signal for
  * deciding between "drop the whole cluster" and "keep, it's a hub".
  *
  * Scale design (100 TB of edges): the naive wedge join explodes on high-
  * degree vertices (a degree-d hub contributes d² wedges). The classic
  * fix — orient every edge from the (degree, id)-SMALLER endpoint to the
  * larger — caps every out-degree at O(√m) on any graph, so the wedge
  * join's per-key fanout is bounded no matter how skewed the degree
  * distribution; each triangle is then found exactly once. Everything is
  * keyed equi-joins + one aggregation — no driver state, no iteration.
  */
object Graph {

  /** Per-vertex triangle participation. `edges` must be the undirected
    * edge set as columns (a, b) with a < b and no duplicate rows; output
    * is (v, n_triangles) for every vertex in at least one triangle.
    *
    * Three keyed joins: orientation (edges ⋈ degrees twice), wedge
    * enumeration (oriented ⋈ oriented on the shared smaller endpoint),
    * and a left-semi close check — each triangle counted once as
    * u ≺ v ≺ w in the (degree, id) total order. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // total order ≺ = (degree, id); orient each edge smaller → larger
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("w"),
        when(fwd, col("db")).otherwise(col("da")).as("dw"))
    // wedges rooted at u: out-neighbor pairs v ≺ w, closed by edge v → w.
    // Both wedge sides and the close probe reuse ONE oriented exchange
    // (same key layout), and ≤O(√m) out-degree bounds the join fanout.
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dw") < col("e2.dw") ||
            (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
      .join(oriented.select(col("u").as("y"), col("w").as("z")),
        Seq("y", "z"), "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
  }

  /** Link prediction over an undirected edge set (a, b), a < b:
    * for every NON-edge pair sharing ≥ `minCommon` neighbors, the
    * classic integer-exact similarity signals — common-neighbor count,
    * preferential attachment deg(a)·deg(b), and the neighborhood-Jaccard
    * denominator deg(a)+deg(b)−common (the score itself is the caller's
    * one division; keeping numerator/denominator separate keeps the
    * output hash-portable).
    *
    * Scale design: the wedge join fans out d² per MIDDLE vertex, and
    * unlike triangle counting the middle cannot be re-oriented away —
    * every common neighbor IS a middle. The standard mitigation is the
    * `maxMiddleDeg` cap: super-hub middles (stopword-like vertices) are
    * excluded from the wedge enumeration — they contribute the least
    * similarity evidence (1/deg weighting in Adamic-Adar) at the
    * highest quadratic cost. Endpoint degrees stay UNcapped (they come
    * from the separate degree aggregate). `minCommon` bounds the output
    * to pairs with real support before the degree joins. */
  def linkPredict(edges: DataFrame, maxMiddleDeg: Int = 1024,
      minCommon: Int = 2): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val mid = und.join(deg.filter(col("deg") <= maxMiddleDeg), Seq("u"))
      .select(col("u"), col("v"))
    val cn = mid.as("m1")
      .join(mid.as("m2"),
        col("m1.u") === col("m2.u") && col("m1.v") < col("m2.v"))
      .groupBy(col("m1.v").as("a"), col("m2.v").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    cn.join(e, Seq("a", "b"), "left_anti")
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("deg_a") * col("deg_b")).as("pref_attach"),
        (col("deg_a") + col("deg_b") - col("common")).as("jacc_den"))
  }

  /** Derive a deterministic FOREST from an undirected edge set:
    * parent(u) = the smallest neighbor below u, or u itself (a root)
    * when every neighbor is larger. parent < child strictly, so the
    * pointer graph is acyclic by construction; local-minimum vertices
    * become roots (a component can contribute several trees — this is
    * the one-hop hooking forest, not full connectivity, which
    * [[Dedup.dupClusters]] already provides). Output columns (u, p). */
  def parentPointers(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
    val mins = und.filter(col("v") < col("u"))
      .groupBy("u").agg(min(col("v")).as("p"))
    und.select("u").distinct()
      .join(mins, Seq("u"), "left")
      .select(col("u"), coalesce(col("p"), col("u")).as("p"))
  }

  /** Resolve every node of a parent forest to its ROOT and DEPTH by
    * pointer doubling: each round joins the pointer table with itself so
    * a pointer spanning 2^(k-1) ancestors becomes one spanning 2^k (or
    * stops at the root, whose self-pointer contributes 0 further steps).
    * `rounds` = r handles any depth ≤ 2^r — exponential convergence,
    * where naive parent-chasing needs depth-many rounds; this is THE
    * technique for resolving deep chains (symlink forests, org
    * hierarchies, SCD lineage) in a bounded number of shuffles.
    * Each round is one self-join keyed on the current ancestor.
    *
    * EAGER: this function runs Spark jobs at CALL time (each round is
    * materialized with [[Materialize.once]], and the convergence probe
    * is an action). Lineage truncation is what makes 8 self-join rounds
    * cost seconds instead of minutes. Every superseded round and the
    * input snapshot are freed before it returns; the result reads the
    * final round's handle, which stays live until the caller frees it
    * or an enclosing [[Materialize.scope]] exits. */
  def rootsAndDepths(parents0: DataFrame, rounds: Int = 8,
                     verifyConverged: Boolean = true): DataFrame = {
    // Each round joins the state with ITSELF: without materialization the
    // lazy plan doubles per round (2^rounds copies of the upstream edge
    // build — measured 123s vs 2s at sf0.1). Materializing each round
    // truncates the lineage, same as the dup-clusters iteration.
    val parents = Materialize.once(parents0)
    // Adaptive round layout (guide §2.2): each round's self-join executes
    // eagerly inside the scope, so its exchanges size to the measured
    // pointer-table bytes instead of the session constant.
    val pLoop = loopPartitions(parents0.sparkSession, Materialize.measuredBytes(parents))
    var s = parents.select(col("u"), col("p").as("anc"),
      when(col("p") === col("u"), 0L).otherwise(1L).as("d"))
    withShufflePartitions(parents0.sparkSession, pLoop) {
      for (_ <- 1 to rounds) {
        val j = s.select(col("u").as("ju"), col("anc").as("janc"), col("d").as("jd"))
        val next = Materialize.once(s.join(j, s("anc") === j("ju"))
          .select(s("u"), col("janc").as("anc"), (s("d") + col("jd")).as("d")))
        Materialize.free(s)
        s = next
      }
    }
    if (verifyConverged) {
      // A chain deeper than 2^rounds would SILENTLY stop at a non-root
      // ancestor with an undercounted depth — fail loudly instead. One
      // bounded existence probe (limit 1 under a semi join).
      val nonRoots = parents.filter(col("p") =!= col("u")).select(col("u").as("nr"))
      val unresolved = s.join(nonRoots, s("anc") === col("nr"), "left_semi")
      require(unresolved.limit(1).count() == 0,
        s"rootsAndDepths: a chain exceeds depth 2^$rounds — increase rounds")
    }
    Materialize.free(parents)
    s.select(col("u"), col("anc").as("root"), col("d").as("depth"))
  }

  /** PageRank over the undirected edge set (a, b), in FIXED-POINT integer
    * arithmetic: ranks are scaled by `scale` and every division is the
    * integral `div`, so the result is bit-exact and engine-independent —
    * the float-summation ordering that makes distributed PageRank
    * non-deterministic (per-partition add order changes the low bits)
    * never arises. Damping 0.85 as (85·x) div 100; init rank = `scale`
    * (1.0 per vertex). Every vertex of an undirected edge has degree ≥ 1,
    * so there are no dangling-mass corrections.
    *
    * Scale design: the degree-annotated edge table is hash-partitioned on
    * the source key ONCE and materialized — materializing preserves the
    * physical plan's output partitioning, and each round's rank aggregate
    * comes out hash-partitioned on the same key with the same partition
    * count, so the per-round message join is EXCHANGE-FREE on both sides
    * (GraphLoopShapeSpec pins it). The only per-round shuffle is the
    * message min/sum aggregation itself — map-side partial aggregation
    * first — so iteration cost is rounds × (map-side join + one reduced
    * exchange), never rounds × edge-list shuffle. State strictly O(V) +
    * O(E), nothing on the driver. EAGER: the edge/degree materializations
    * run jobs at call time; the returned frame reads the degree and
    * edge handles, which stay live until freed or their scope exits.
    * Lineage across rounds stays lazy (linear in `iters`; callers
    * running many iterations should materialize every ~10). Damping uses the exact split identity
    * ⌊85s/100⌋ = 85·⌊s/100⌋ + ⌊85·(s mod 100)/100⌋ so no intermediate
    * exceeds the running sum itself; total mass is ≤ V·scale, so pick
    * `scale` such that V·scale stays inside Long (default 1e12 covers
    * ~9M vertices; pass 1e6 for billion-vertex graphs — ranks keep 6
    * decimal digits). Returns (v, pr_fixed = rank·scale, floored). */
  def pageRank(edges: DataFrame, iters: Int = 3,
               scale: Long = 1000000000000L): DataFrame = {
    // One evaluation of the (possibly expensive) edge derivation: deg and
    // undD below would otherwise each replay it.
    val e = Materialize.once(edges.select(col("a"), col("b")))
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    // deg is consumed twice (undD build + rank init) — materialize it too;
    // its groupBy leaves it hash-partitioned on u, which the rank-init
    // projection inherits, so round 1's join is already co-partitioned.
    val deg = Materialize.once(und.groupBy("u").agg(count(lit(1)).as("deg")), Some("u"))
    // Explicit repartition, not the join's own layout: when deg is small
    // the join plans BROADCAST and its output partitioning is the
    // (unpartitioned) streamed side — scale-dependent. The repartition
    // pins hash(u) at any size for one build-time O(E) exchange.
    // Deliberately NOT [[loopSized]] (r12): the rank rounds stay LAZY in
    // one returned plan, so their exchanges bind to the SESSION conf at
    // execution time, outside any scoped override — an adaptive undD
    // count would mismatch the round aggregations' count and re-shuffle
    // one side per round. The eager loops (BFS/SSSP/k-core/LPA/CC) run
    // their rounds inside the scope and do size adaptively.
    val p = edges.sparkSession.sessionState.conf.numShufflePartitions
    val undD = Materialize.once(
      und.join(deg, Seq("u")).repartition(p, col("u")), Some("u"))
    Materialize.free(e)
    var pr = deg.select(col("u"), lit(scale).as("pr"))
    val base = 15L * scale / 100 // (1 - d) exactly, scale % 100 == 0
    for (_ <- 1 to iters) {
      pr = undD.join(pr, Seq("u"))
        .select(col("v").as("u"), expr("pr div deg").as("c"))
        .groupBy("u").agg(sum(col("c")).as("s"))
        .select(col("u"), (lit(base) +
          expr("85 * (s div 100) + (85 * (s % 100)) div 100")).as("pr"))
    }
    pr.select(col("u").as("v"), col("pr").as("pr_fixed"))
  }

  /** Multi-source BFS hop distance over an undirected edge set:
    * dist(v) = fewest hops from ANY seed vertex, computed as `rounds`
    * synchronous frontier relaxations (Bellman-Ford specialization for
    * unit weights). Vertices farther than `rounds` hops are absent from
    * the output — the k-hop-neighborhood contract (reach/expansion
    * features, blast-radius queries), not full-graph SSSP.
    *
    * Scale design: the undirected edge table is hash-partitioned on the
    * source key once and materialized (materializing preserves the
    * partitioning), and each round's min-merge aggregate leaves the
    * distance table hash-partitioned on the vertex key with the same
    * partition count — so the per-round frontier join is exchange-free
    * on BOTH sides and the only per-round shuffle is the min-merge
    * itself (map-side partial min first). State strictly O(reached
    * vertices), nothing on the driver. Fixed `rounds` (not
    * converge-probe) keeps the round count — and therefore the oracle —
    * deterministic. Materializing each round truncates the exponential
    * self-referencing lineage; superseded rounds are freed like the
    * dup-clusters loop. EAGER: runs jobs at call time.
    *
    * All-integer arithmetic (hop counts), so a DuckDB replay of the same
    * chained relaxations is bit-exact. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   rounds: Int = 4): DataFrame = {
    val (und, p) = loopSized(undBySrc(edges), "u")
    withShufflePartitions(seeds.sparkSession, p) {
      // Repartition, not trust: seeds are caller-shaped; one tiny O(seeds)
      // shuffle guarantees round 1 joins co-partitioned like every later
      // round.
      var dist = Materialize.once(
        seeds.select(col("v"), lit(0L).as("dist")).repartition(p, col("v")), Some("v"))
      for (_ <- 1 to rounds) {
        val next = Materialize.once(bfsRound(dist, und), Some("v"))
        Materialize.free(dist)
        dist = next
      }
      Materialize.free(und)
      dist
    }
  }

  /** The [[bfsDistances]] loop body: one frontier relaxation. With `und`
    * from [[undBySrc]] and `dist` hash-partitioned on v (every round's
    * own output is), the join plans exchange-free — the min-merge is the
    * round's only shuffle (PlanShapeSpec pins it). */
  private[graft] def bfsRound(dist: DataFrame, und: DataFrame): DataFrame = {
    val prop = dist.join(und.select(col("u"), col("v").as("nbr")),
        dist("v") === col("u"))
      .select(col("nbr").as("v"), (col("dist") + lit(1L)).as("dist"))
    dist.unionAll(prop).groupBy("v").agg(min(col("dist")).as("dist"))
  }

  /** Undirected (u, v [, extra…]) edge table hash-partitioned on u with
    * the session shuffle-partition count and materialized — materializing
    * preserves the partitioning, so every later join keyed on
    * u (or co-partitioned state keyed the same way) plans exchange-free
    * against it. The explicit partition count keeps AQE from coalescing
    * the layout out from under the loop's co-partitioning contract. */
  private[graft] def undBySrc(edges: DataFrame,
      extra: Seq[String] = Nil, key: String = "u"): DataFrame = {
    val p = edges.sparkSession.sessionState.conf.numShufflePartitions
    val cols = Seq(col("a").as("u"), col("b").as("v")) ++ extra.map(col)
    val rev = Seq(col("b").as("u"), col("a").as("v")) ++ extra.map(col)
    Materialize.once(edges.select(cols: _*).unionAll(edges.select(rev: _*))
      .repartition(p, col(key)), Some(key))
  }

  /** Scale-adaptive partition count for the iterative loops (guide §2.2:
    * size reducers by BYTES, not a constant). The loops deliberately opt
    * out of AQE inside keyed [[Materialize.once]] so the recorded layout is
    * honest — which also opts them out of AQE's runtime coalescing, so a
    * 2 MB gate-scale graph used to run every round as
    * `spark.sql.shuffle.partitions` near-empty tasks while a 100 TB
    * graph correctly fills the same count. Derive the count from the
    * measured state size instead: ceil(bytes / targetPartitionBytes),
    * clamped to [1, session count] — at scale the clamp keeps today's
    * layout (never MORE partitions than the session would plan), at gate
    * scale the loop runs the handful of tasks its bytes justify.
    * `bytes = None` (no measurement) keeps the session count. */
  private[graft] def loopPartitions(spark: SparkSession,
      bytes: Option[Long]): Int = {
    val sessionP = spark.sessionState.conf.numShufflePartitions
    bytes match {
      case Some(b) =>
        // Clamp the user-settable conf to >= 1: zero would divide by
        // zero below and a negative value yields a nonsense partition
        // count mid-query (r12 advice).
        val target = math.max(1L, spark.conf.get(
          "spark.graft.loop.targetPartitionBytes", (32L << 20).toString).toLong)
        // Floor 2, not 1: repartition(1, key) plans SinglePartition, which
        // loses the hash layout keyed [[Materialize.once]] verifies.
        math.max(2, math.min(sessionP.toLong, (b + target - 1) / target)).toInt
      case None => sessionP
    }
  }

  /** Scope `spark.sql.shuffle.partitions` to `p` for the duration of an
    * iterative loop, so every round's aggregation plans the SAME count
    * as the loop's keyed edge table and the round joins stay
    * exchange-free at the adaptive size. Driver-side and scoped like
    * keyed [[Materialize.once]]'s AQE toggle; the engine's runners are
    * single-threaded per session. */
  private[graft] def withShufflePartitions[T](spark: SparkSession, p: Int)
      (body: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(k)
    spark.conf.set(k, p.toString)
    try body finally spark.conf.set(k, prev)
  }

  /** Adopt the scale-adaptive layout for a keyed loop input handle from
    * [[Materialize.once]]: read its measured bytes, and when the session
    * count over-splits it (and the table is small enough that one extra
    * exchange is noise —
    * `spark.graft.loop.rekeyMaxBytes`, default 1 GiB), re-key it to the
    * derived count. Returns (frame, partition count). At 100 TB the
    * measured bytes exceed the bound and the input passes through
    * untouched — the re-key exchange is only ever paid by graphs small
    * enough that it costs milliseconds. An unmeasured handle keeps the
    * session layout. */
  private[graft] def loopSized(df: DataFrame, key: String): (DataFrame, Int) = {
    val spark = df.sparkSession
    val sessionP = spark.sessionState.conf.numShufflePartitions
    val bytes = Materialize.measuredBytes(df)
    val p = loopPartitions(spark, bytes)
    // Clamp like targetPartitionBytes: a negative conf value silently
    // meant "never re-key"; pin that reading explicitly (r12 advice).
    val rekeyMax = math.max(0L, spark.conf.get(
      "spark.graft.loop.rekeyMaxBytes", (1L << 30).toString).toLong)
    if (p >= sessionP || bytes.forall(_ > rekeyMax)) (df, sessionP)
    else {
      val re = withShufflePartitions(spark, p) {
        Materialize.once(df.repartition(p, col(key)), Some(key))
      }
      Materialize.free(df)
      (re, p)
    }
  }

  /** k-core peeling: `rounds` synchronous rounds of "delete every vertex
    * whose degree in the REMAINING graph is < k". Returns EVERY vertex of
    * the edge set with the round (1-based) in which it was peeled, or
    * NULL if it survived all rounds — survivors form the k-core once the
    * peel has converged (no vertex peeled in the final round). The peel
    * round itself is the standard "coreness layer" signal: early-peeled
    * vertices are periphery, late-peeled sit just outside the core.
    *
    * Fixed `rounds` (not a convergence probe) keeps the computation — and
    * therefore a round-unrolled oracle — deterministic; callers can check
    * convergence by asserting no vertex carries `peeled_round == rounds`
    * (a converged peel's last round deletes nobody... or the caller adds
    * a round). All-integer arithmetic.
    *
    * Scale design: each round recomputes remaining-degrees as one
    * edge-list join against the remaining-vertex set (two semi joins on
    * the endpoint keys) plus one keyed count — O(E) per round like the
    * other iterative ops, state O(V), nothing on the driver; materializing
    * each round truncates the self-referencing lineage. EAGER: runs
    * jobs at call time. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    // Partition on v — the key the per-round peel-decrement join probes
    // (nowPeeled arrives hash-partitioned on the same key via the deg
    // handle's preserved layout), so the edge list never re-shuffles
    // inside the loop.
    val (und, pLoop) = loopSized(undBySrc(edges, key = "v"), "v")
    withShufflePartitions(edges.sparkSession, pLoop) {
    // DECREMENTAL degree maintenance instead of a per-round recount: the
    // `deg` table (remaining vertices only) is the state; peeling is a
    // pure FILTER on it, and each peeled vertex decrements its surviving
    // neighbors by one edge-list pass against the SMALL peel set — a
    // co-partitioned probe (und hash(v) ⋈ nowPeeled hash(v), both from
    // preserved handle layouts), never a per-round shuffle of the
    // full edge list. Correctness invariant: deg(u) counts u's edges to remaining
    // vertices, because every removed neighbor decremented u exactly once
    // in the round it peeled — edges to long-gone vertices never recount
    // since their endpoints left the deg table. The measured effect at
    // sf0.1: 4.7 s (two semi joins + recount per round) → the BFS-query
    // cost envelope (the edge build dominates).
    var deg = Materialize.once(und.groupBy("u").agg(count(lit(1)).as("deg")), Some("u"))
    var peeled = Materialize.once(deg.filter(lit(false))
      .select(col("u"), lit(0L).as("peeled_round")))
    for (r <- 1 to rounds) {
      val nowPeeled = deg.filter(col("deg") < k).select("u")
      val nextDeg = Materialize.once(kcoreNextDeg(deg, und, k), Some("u"))
      val nextPeeled = Materialize.once(peeled.unionAll(
        nowPeeled.select(col("u"), lit(r.toLong).as("peeled_round"))))
      Materialize.free(peeled); Materialize.free(deg)
      peeled = nextPeeled
      deg = nextDeg
    }
    val out = deg.select(col("u"), lit(null).cast("long").as("peeled_round"))
      .unionAll(peeled)
    Materialize.free(und)
    out.select(col("u").as("v"), col("peeled_round"))
    }
  }

  /** The [[kCorePeel]] loop body's degree update: drop this round's peel
    * set and decrement survivors by their edges into it. With `und` from
    * [[undBySrc]] keyed on v and `deg` carrying its aggregation's hash
    * layout on u, the decrement probe and both bookkeeping joins plan
    * exchange-free — the lost-count merge is the round's only shuffle
    * (PlanShapeSpec pins it). Peel-set derivation is inlined (a filter
    * on `deg`), so the caller's `nowPeeled` and this one share layout. */
  private[graft] def kcoreNextDeg(deg: DataFrame, und: DataFrame,
      k: Int): DataFrame = {
    val nowPeeled = deg.filter(col("deg") < k).select("u")
    // decrements toward surviving endpoints: count u's neighbors peeled
    // THIS round (symmetric und covers both directions; an edge whose
    // both endpoints peel now decrements two vertices that are leaving
    // anyway — the anti join below discards them).
    val lost = und.join(nowPeeled.select(col("u").as("v")), Seq("v"))
      .groupBy("u").agg(count(lit(1)).as("lost"))
    deg.join(nowPeeled, Seq("u"), "left_anti")
      .join(lost, Seq("u"), "left")
      .select(col("u"),
        (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
  }

  /** Synchronous label-propagation community detection, DETERMINISTIC
    * variant: every vertex starts as its own label; each round it adopts
    * the most frequent label among its NEIGHBORS, ties broken by the
    * smallest label — the plurality rule that makes classic LPA
    * non-deterministic is pinned down, so a fixed `rounds` replay is
    * bit-exact in any engine. Communities (densely connected vertex sets)
    * emerge in a few rounds; vertices with no neighbors keep their own
    * label. Complements [[Dedup.duplicateClusters]] (connectivity ≠
    * community: one bridge edge merges two CC components but LPA keeps
    * the two dense sides apart).
    *
    * Scale design: the edge table is hash-partitioned on the source key
    * once and materialized, and both the label table and the
    * per-round pick come out hash-partitioned on the vertex key — so the
    * message join AND the adopt join are exchange-free; the per-round
    * shuffles are the two aggregations only ((v, label) message counts,
    * then the per-v argmax over the much smaller distinct-label rows).
    * The argmax is a struct-min AGGREGATE, not a rank window — plurality
    * with smallest-label tie-break is min over (−cnt, label), which keeps
    * map-side partial aggregation and drops the per-partition sort.
    * Nothing on the driver; each round materialized, superseded rounds
    * freed. EAGER: runs jobs at call time. Returns (v, community). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val (und, p) = loopSized(undBySrc(edges), "u")
    withShufflePartitions(edges.sparkSession, p) {
      // Materialize the single-column node set (the aggregate pins the hash
      // layout to `node`); the self-label projection stays LAZY — alias
      // tracking then lets round 1's message count even skip its exchange
      // (label ≡ node clusters (v, label) by itself).
      var held = Materialize.once(
        und.select(col("u").as("node")).distinct(), Some("node"))
      var labels = held.select(col("node"), col("node").as("label"))
      for (_ <- 1 to rounds) {
        val next = Materialize.once(lpRound(labels, und), Some("node"))
        Materialize.free(held)
        held = next
        labels = next
      }
      Materialize.free(und)
      labels.select(col("node").as("v"), col("label").as("community"))
    }
  }

  /** The [[labelPropagation]] loop body: message join (exchange-free per
    * the [[undBySrc]] contract), (v, label) plurality counts, struct-min
    * argmax, adopt join (exchange-free — labels and pick are both
    * hash-partitioned on the node key). */
  private[graft] def lpRound(labels: DataFrame, und: DataFrame): DataFrame = {
    val pick = und.join(labels, und("u") === labels("node"))
      .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("v"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("v").as("node"), col("m.l").as("nlabel"))
    labels.join(pick, Seq("node"), "left")
      .select(col("node"), coalesce(col("nlabel"), col("label")).as("label"))
  }

  /** Newman modularity of a vertex partition over an undirected edge
    * list (a, b): per community i, Q_i = e_ii/m − (d_i/(2m))² where
    * e_ii = internal edges, d_i = summed degree, m = total edges — the
    * quality score a community-detection pass ([[labelPropagation]]) is
    * judged by. `assign` maps vertex → (v, community); every community
    * with a member appears (zero internal edges included via left join).
    *
    * Exactness: e_ii, d_i, m are integer counts; each Q_i is a fixed
    * two-division IEEE expression; the total Q sums components through
    * decimal(38,12) (order-independent) like [[MlEval.chiSquare]].
    * Scale shape: one degree aggregation (O(E) keyed), one two-sided
    * community tag join, community-cardinality rollups; the total is a
    * broadcast singleton — never a driver collect. */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val m = edges.groupBy().agg(count(lit(1)).as("m"))
    val tagged = edges
      .join(assign.select(col("v").as("a"), col("community").as("ca")), Seq("a"))
      .join(assign.select(col("v").as("b"), col("community").as("cb")), Seq("b"))
    val eIn = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val degSum = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .join(assign, Seq("v"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("deg_sum"), count_distinct(col("v")).as("n_nodes"))
    val comps = degSum.join(eIn, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)).cast(LongType))
      .crossJoin(broadcast(m))
      .withColumn("q_component",
        col("e_in").cast(DoubleType) / col("m").cast(DoubleType) -
          (col("deg_sum").cast(DoubleType) / (lit(2L) * col("m")).cast(DoubleType)) *
          (col("deg_sum").cast(DoubleType) / (lit(2L) * col("m")).cast(DoubleType)))
    val qTot = comps.groupBy()
      .agg(sum(col("q_component").cast("decimal(38,12)")).as("q_dec"))
      .select(col("q_dec").cast(DoubleType).as("q_total"))
    comps.crossJoin(broadcast(qTot))
      .select(col("community"), col("n_nodes"), col("e_in"), col("deg_sum"),
        col("q_component"), col("q_total"))
  }

  /** Weighted single-source (multi-seed) shortest paths: min total edge
    * cost from any seed within `rounds` synchronous Bellman-Ford
    * relaxations — the weighted generalization of [[bfsDistances]] (which
    * is this with unit costs). `edges` carries (a, b, w) with INTEGER
    * costs, so every relaxation is exact Long arithmetic and a DuckDB
    * replay of the same rounds is bit-identical; vertices not reachable
    * within `rounds` edges are absent. `rounds` bounds PATH LENGTH in
    * edges, not cost — after r rounds each vertex holds the cheapest
    * ≤ r-edge path, converged to true shortest cost when r ≥ the longest
    * minimal-cost path's edge count.
    *
    * Same per-round shape as [[bfsDistances]]: edges hash-partitioned on
    * the source key once (materializing preserves the layout), the cost
    * table arrives co-partitioned from its own min-merge — so the
    * relaxation join is exchange-free and the min-merge is the only
    * per-round shuffle; each round materialized, eager. */
  def ssspDistances(edges: DataFrame, seeds: DataFrame,
                    rounds: Int = 4): DataFrame = {
    val (und, p) = loopSized(undBySrc(edges, extra = Seq("w")), "u")
    withShufflePartitions(seeds.sparkSession, p) {
      var cost = Materialize.once(
        seeds.select(col("v"), lit(0L).as("cost")).repartition(p, col("v")), Some("v"))
      for (_ <- 1 to rounds) {
        val next = Materialize.once(ssspRound(cost, und), Some("v"))
        Materialize.free(cost)
        cost = next
      }
      Materialize.free(und)
      cost
    }
  }

  /** The [[ssspDistances]] loop body: one weighted relaxation — same
    * exchange-free join contract as [[bfsRound]]. */
  private[graft] def ssspRound(cost: DataFrame, und: DataFrame): DataFrame = {
    val prop = cost.join(und.select(col("u"), col("v").as("nbr"), col("w")),
        cost("v") === col("u"))
      .select(col("nbr").as("v"), (col("cost") + col("w")).as("cost"))
    cost.unionAll(prop).groupBy("v").agg(min(col("cost")).as("cost"))
  }
}

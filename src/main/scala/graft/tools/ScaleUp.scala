package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: weak-scaling fixture generator. Replicates the sf0.1
  * `events`, `documents` and `embeddings` tables `copies`× into an output dir with
  * DISJOINT key spaces per copy, so the iterative-suite queries
  * (graph analytics over the co-purchase graph; near-dup clustering
  * over documents) see a corpus `copies`× the rows whose per-copy
  * structure matches the original — the honest scaling probe for
  * operators whose cost depends on graph/cluster structure, not just
  * row count:
  *
  *  - events: `user_id`/`event_id` and the `props.k` product key shift
  *    by a per-copy offset → `copies` disjoint co-purchase graphs
  *    (edge count scales linearly; per-copy degree structure exact).
  *  - documents: `doc_id` shifts; `text` is caesar-rotated by the copy
  *    index → shingle spaces are disjoint across copies (identical
  *    text would make every cross-copy pair a near-duplicate and blow
  *    the pair space up ~copies² instead of ×copies), while intra-copy
  *    duplicate structure is preserved exactly (rotation is a
  *    length-preserving bijection on the alphabet). Caveat: rotated
  *    copies have no real English stopwords, so stopword-ratio gates
  *    pass slightly MORE docs than the original — the probe errs on
  *    the heavy side.
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp [srcDir] [outDir] [copies] [zipf|zipfp]"`.
  * Output defaults under target/ (gitignored scratch, never touches
  * the read-only driver testdata).
  *
  * `zipf` mode (round-10 skew probe): identical row counts to the
  * uniform layout, but a zipf HEAD of global hot keys — tiers of
  * 10% / 5% / 2.5% of ALL rows remapped onto keys 0 / 1 / 2 (hash-of-
  * row-id chosen, deterministic) for `o_custkey`, `l_suppkey`, and
  * NON-purchase `user_id`. Per-operator WORK is layout-invariant (a
  * hot FK changes where rows land in a key-hashed shuffle, not how
  * many rows pass each operator), so wall(skew)/wall(uniform) isolates
  * shuffle-skew handling (AQE skew-join, salted aggregation paths).
  * Purchase-event user_id is deliberately NOT skewed in `zipf` mode: the
  * co-purchase graph's shared≥5 edge threshold sits at ~3× the mean
  * per-user key coverage, so any hot purchaser becomes a near-complete
  * hub and triangle/common-neighbor work grows QUADRATICALLY in hub
  * degree — a workload change that would contaminate a layout probe.
  * `zipfp` mode (round-11) skews purchase user_id TOO — the workload-
  * change twin that measures whether the degree-capped co-purchase
  * derivation actually bounds the graph family under a hot purchaser.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/target/sfscaled"
    val copies = if (args.length > 2) args(2).toInt else 10
    // zipf  = hot-FK layout twin, purchase user_id left uniform (layout
    //         probe — see scaladoc).
    // zipfp = zipf PLUS purchase user_id skew: the hot-PURCHASER twin the
    //         r10 skew campaign scoped out. 10% of purchase rows land on
    //         user 0 → that user touches ~10% of all product keys and
    //         would be a near-complete co-purchase hub; the degree-capped
    //         edge derivation (keys/user ≤ 1024, users/key ≤ 256) is what
    //         keeps the graph family's work bounded — this twin exists to
    //         MEASURE that.
    val mode = if (args.length > 3) args(3) else ""
    val zipfP = mode == "zipfp"
    val zipf = mode == "zipf" || zipfP

    // 10% / 5% / 2.5% of rows onto keys 0 / 1 / 2, decided by a hash of
    // the row's own id (deterministic, key-independent — hot rows are a
    // uniform sample of the table, so value distributions within the
    // hot groups match the global ones).
    def zipfHead(rowId: org.apache.spark.sql.Column,
        base: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val bucket = pmod(xxhash64(rowId), lit(1000L))
      when(bucket < 100, lit(0L)).when(bucket < 150, lit(1L))
        .when(bucket < 175, lit(2L)).otherwise(base)
    }
    val spark = graft.core.Sessions.local()

    val off = 100000000L // beyond any real id/key in the source tables
    val ev = graft.queries.Parity.events(spark, src)
    (0 until copies).map { i =>
      val uid = col("user_id") + lit(i * off)
      ev.select(
        (col("event_id") + lit(i * off)).as("event_id"),
        col("ts"),
        (if (zipfP) zipfHead(col("event_id") + lit(i * off), uid)
        else if (zipf)
          // hot session/window keys, purchase rows excluded (see scaladoc)
          when(col("event_type") =!= "purchase",
            zipfHead(col("event_id") + lit(i * off), uid)).otherwise(uid)
        else uid).as("user_id"),
        col("event_type"),
        col("value"),
        concat(lit("{\"k\": "),
          get_json_object(col("props"), "$.k").cast("long") + lit(i * off),
          lit("}")).as("props"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (0 until copies).map { i =>
      // Per-copy alphabet PERMUTATION, not just rotation: a bare
      // 26-rotation cycles at copy 26, making copies i and i+26
      // byte-identical (cross-copy exact dups that quadratically
      // contaminate a >26-copy probe). Compose the full rotation
      // (i % 26) with a sub-rotation of the first 13 letters (i / 26):
      // identical to the old scheme for < 26 copies (sf1 fixtures
      // unchanged), 338 distinct permutations beyond it; still a
      // bijection, so intra-copy dup structure is exact.
      val rot = alpha.drop(i % 26) + alpha.take(i % 26)
      val sub = i / 26 % 13
      val half = alpha.take(13)
      val subRot = half.drop(sub) + half.take(sub)
      docs.select(
        (col("doc_id") + lit(i * off)).as("doc_id"),
        translate(translate(col("text"), alpha, rot), half, subRot).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: vec_id shifts; each copy's vectors are CYCLICALLY
    // ROTATED by the copy index — a rotation preserves norms and all
    // intra-copy distances (per-copy ANN structure exact) while making
    // cross-copy vectors genuinely different (identical copies would
    // collapse every centroid and make each vector have `copies` exact
    // twins, turning a perf probe into a degenerate-duplicate stress).
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { i =>
      // Rotation cycles at the embedding dim (64), so copies i and i+64
      // would be identical; compose with a whole-copy sign flip every
      // 64 copies — negation preserves norms AND all pairwise cosines
      // (cos(-a,-b) = cos(a,b)), so intra-copy ANN structure stays
      // exact while cross-copy vectors remain genuinely different.
      val r = i % 64
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, 10000),
          slice(col("embedding"), 1, r))
      val flipped =
        if ((i / 64) % 2 == 0) rotated
        else transform(rotated, x => -x)
      emb.select(
        (col("vec_id") + lit(i * off)).as("vec_id"),
        flipped.as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // TPC-H star: dims pass through UNCHANGED (customer/supplier/part/
    // nation/region — production dimensions don't grow with the fact);
    // orders and lineitem replicate with DISJOINT orderkeys per copy.
    // Foreign keys into the dims stay as-is, so per-customer order
    // counts, per-part line depth, and per-supplier volumes all grow
    // `copies`× — exactly how a fact table accretes history: Q18/Q13
    // rollups see deeper keys, Q17's per-part window sees more rows,
    // Q21's per-order groups keep their original width (the order is
    // the unit of replication).
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until copies).map { i =>
      val o = ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
      if (zipf)
        // hot customers: 10/5/2.5% of ALL orders on custkeys 0/1/2
        // (valid FKs — customer keys start at 0 and dims pass through)
        o.withColumn("o_custkey", zipfHead(col("o_orderkey"), col("o_custkey")))
      else o
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies).map { i =>
      val l = li.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
      if (zipf)
        // hot suppliers: same tiers keyed off the line's own identity
        l.withColumn("l_suppkey", zipfHead(
          col("l_orderkey") * lit(8L) + col("l_linenumber"), col("l_suppkey")))
      else l
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"[scaleup] wrote $out (events+documents+embeddings+tpch, ${copies}x $src)")
    spark.stop()
  }
}

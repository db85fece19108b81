package graft.ext

import graft.SparkSpec
import graft.core.Materialize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reliable-checkpoint mode (`spark.graft.checkpoint.reliable=true`)
  * that backs every iterative loop (CC, PageRank, BFS, SSSP, k-core,
  * label-prop) on a real cluster.
  *
  * Why it exists: `localCheckpoint` truncates lineage and stores the
  * round's result as executor-local blocks — lose one executor and the
  * whole in-flight iterative job dies ("RDD was locally checkpointed …
  * cannot be recomputed"). Reliable mode writes each round to the
  * checkpoint dir, so lost partitions recompute by re-reading files.
  * These tests pin (1) result equality across modes, (2) the preserved
  * keyed layout in reliable mode (the exchange-free loop contract),
  * and (3) the availability difference itself: after the backing blocks
  * vanish, a locally-checkpointed frame is DEAD while a reliably-
  * checkpointed one recomputes — the kill-one-round-and-resume story. */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[T](body: => T): T = {
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try body finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  private val pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
    (20L, 21L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))

  test("duplicateClusters and bfsDistances return identical results in both modes") {
    val edges = pairs.toDF("a", "b")
    val ccLocal = Dedup.duplicateClusters(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = Seq(1L, 20L).toDF("v")
    val bfsLocal = Graph.bfsDistances(edges, seeds, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (ccRel, bfsRel) = withReliable {
      (Dedup.duplicateClusters(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        Graph.bfsDistances(edges, seeds, rounds = 4).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    assert(ccRel == ccLocal)
    assert(bfsRel == bfsLocal)
  }

  test("reliable mode keeps the keyed hash layout") {
    // The require() inside keyed Materialize.once IS the assertion — it throws
    // if the reliable path loses the partitioning the loops rely on.
    withReliable {
      val df = pairs.toDF("a", "b").select(col("a").as("u"), col("b").as("v"))
        .repartition(4, col("u"))
      val out = Materialize.once(df, Some("u"))
      assert(out.count() == pairs.size)
    }
  }

  test("free deletes a reliable round's checkpoint dir") {
    // Without deletion a long iterative run (up to 100 rounds per query,
    // many queries per session) grows the durable checkpoint FS
    // unboundedly — nothing else cleans reliable checkpoints.
    val frame = withReliable { Materialize.once(Seq(1L, 2L, 3L).toDF("x")) }
    val ckptFile = frame.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }
    assert(ckptFile.isDefined, "reliable frame should report a checkpoint file")
    val path = new org.apache.hadoop.fs.Path(ckptFile.get)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(path), "checkpoint dir should exist while the frame is live")
    Materialize.free(frame)
    assert(!fs.exists(path),
      "Materialize.free must delete the reliable round's checkpoint dir")
    // duplicateClusters frees each superseded round internally: after a
    // full reliable run, at most the FINAL frames' dirs remain — the
    // per-iteration dirs are gone.
    val before = fs.listStatus(path.getParent).length
    val labels = withReliable {
      Dedup.duplicateClusters(pairs.toDF("a", "b"))
    }
    labels.collect()
    val after = fs.listStatus(path.getParent).length
    // edges + per-round checkpoints all freed except the returned frame
    // (plus its feeding round when the loop exits without freeing it).
    assert(after - before <= 2,
      s"reliable CC run left ${after - before} checkpoint dirs behind")
  }

  test("reliable mode sizes loops from the checkpoint files' length") {
    // The measured size in reliable mode is the checkpoint dir's content
    // length, so a KB-scale loop input lands on the floor count (2) as in
    // local mode, instead of the session count.
    withReliable {
      val und = Graph.undBySrc(pairs.toDF("a", "b"))
      val dir = und.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile.get
        case other => fail(s"expected LogicalRDD, got ${other.getClass}")
      }
      val path = new org.apache.hadoop.fs.Path(dir)
      val len = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
      assert(Materialize.measuredBytes(und) == Some(len))
      assert(spark.sessionState.conf.numShufflePartitions > 2)
      val (sized, p) = Graph.loopSized(und, "u")
      assert(p == 2, s"a KB-scale reliable loop input must land on the floor, got $p")
      Materialize.free(sized)
    }
  }

  test("reliable checkpoint survives block loss; local checkpoint does not") {
    def dropBlocks(df: DataFrame): Unit =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = true)
        case other => fail(s"expected LogicalRDD, got ${other.getClass}")
      }
    // Reliable: backing data is checkpoint FILES; dropping the cached
    // blocks (the closest local-mode analogue to losing the executor
    // that held them) still recomputes from disk.
    val rel = withReliable { Materialize.once(Seq(1L, 2L, 3L).toDF("x")) }
    dropBlocks(rel)
    assert(rel.count() == 3)
    // Local: same loss kills the frame — lineage was truncated and the
    // blocks were the only copy. This is the cluster-scale failure mode
    // reliable mode exists to remove.
    val loc = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    dropBlocks(loc)
    val died = intercept[org.apache.spark.SparkException] { loc.count() }
    assert(died.getMessage.toLowerCase.contains("checkpoint"),
      s"unexpected failure: ${died.getMessage}")
  }
}

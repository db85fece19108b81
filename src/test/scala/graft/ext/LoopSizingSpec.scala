package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r12 scale-adaptive loop layout ([[Graph.loopSized]] /
  * [[Graph.loopPartitions]], guide §2.2 "size reducers by bytes"):
  * the iterative loops opt out of AQE inside keyed `Materialize.once` (so the
  * recorded layout is honest), which also opts them out of runtime
  * coalescing — the adaptive layout restores byte-derived sizing with a
  * hard cap at the session count, so 100 TB behavior is unchanged while
  * a tiny gate-scale graph stops running session-count near-empty tasks
  * per round. */
class LoopSizingSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  test("loopSized re-keys a tiny table below the session count, hash layout preserved") {
    val und = Graph.undBySrc(edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val sessionP = spark.sessionState.conf.numShufflePartitions
    assert(sessionP > 2, "spec needs session partitions above the floor")
    val (sized, p) = Graph.loopSized(und, "u")
    assert(p == 2, s"a KB-scale table must land on the floor count, got $p")
    // the re-keyed frame still satisfies keyed Materialize.once's layout contract
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    sized.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning => assert(h.numPartitions == p)
      case other => fail(s"expected hash layout, got $other")
    }
    graft.core.Materialize.free(sized)
  }

  test("loopPartitions caps at the session count for large measured bytes") {
    val sessionP = spark.sessionState.conf.numShufflePartitions
    assert(Graph.loopPartitions(spark, Some(Long.MaxValue / 2)) == sessionP)
    assert(Graph.loopPartitions(spark, None) == sessionP)
    assert(Graph.loopPartitions(spark, Some(1L)) == 2)
  }

  test("BFS distances are identical under adaptive and session layouts") {
    import spark.implicits._
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (2L, 6L))
    val seeds = Seq(1L).toDF("v")
    def run(): Map[Long, Long] =
      Graph.bfsDistances(e, seeds, rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adaptive = run()
    // force the session layout by raising the target so pLoop == sessionP
    val k = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(k, "1")
    val sessionLayout =
      try run() finally spark.conf.unset(k)
    assert(adaptive == sessionLayout)
    assert(adaptive(1L) == 0L && adaptive(6L) == 2L && adaptive(5L) == 3L)
  }
}

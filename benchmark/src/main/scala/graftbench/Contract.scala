package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.Parity

/** The read-only contract workloads: a fixed set of `SparkEntry.queries`
  * run in a seed-permuted order over the benchmark's fixture tables, each
  * result forced through the `noop` sink the way `graft.Bench` forces it.
  * Both sets are subsets sized to the per-run time budget (full warm
  * passes take about 35 s for the 96 relational and 56 s for the 77
  * curation queries at this scale). Queries that write through
  * `Parity.tmp` are left out: that scratch path is absolute, outside the
  * working directory. */
object Contract {

  /** Relational contract: aggregates, joins, a window, TPC-H, SCD2,
    * subqueries and the three streaming twins. */
  val relationalNames: Seq[String] = Seq(
    "a1_aggregates", "a5_cube", "j5_full_outer", "j9_pit_join", "w6_median_window",
    "tpch_q3", "tpch_q9", "tpch_q18", "tpch_q21", "scd2_two_batch",
    "sq17_corr_scalar", "sq22_cold_customers",
    "st_scd2_sink", "st_mv_refresh", "st_drift_stream")

  /** Curation contract: one query per `graft.ext` family, including the
    * two that local-checkpoint (`x_fs_weights`, `x_curation_cc`). */
  val curationNames: Seq[String] = Seq(
    "x_fs_weights", "x_ann_ivf", "x_bm25", "m_image_hash", "x_curation_cc")

  /** The benchmark's grouping of curation queries by the `graft.ext`
    * module that carries most of their work. */
  val family: Map[String, String] = Map(
    "x_fs_weights" -> "dedup", "x_ann_ivf" -> "similarity", "x_bm25" -> "textkit",
    "m_image_hash" -> "multimodal", "x_curation_cc" -> "graph")

  val families: Seq[String] = Seq("dedup", "similarity", "textkit", "multimodal", "graph")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolve every fixture table through the engine's session catalog and
    * read it once: the cold resolution `graft.Bench` keeps off the first
    * measured query. */
  def resolveTables(spark: SparkSession, dir: String): Unit =
    tables.foreach { t =>
      val df = if (t == "events") Parity.events(spark, dir) else Parity.table(spark, dir, t)
      df.write.mode("overwrite").format("noop").save()
    }

  // ----------------------------------------------------------- digests

  /** Order-insensitive digest of a result: row count plus the wrapping
    * sum of a 64-bit hash of each row's canonical text. Floating values
    * are rounded to 9 significant digits so partial-sum order (which
    * varies with task scheduling) does not change the digest. */
  final case class Digest(rows: Long, hash: Long) {
    def render: String = s"$rows:${java.lang.Long.toHexString(hash)}"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case b: scala.math.BigDecimal => canonDouble(b.toDouble)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def digest(df: DataFrame): Digest = {
    val rows = df.collect()
    var h = 0L
    rows.foreach { r =>
      val bytes = canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val md = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      h += java.nio.ByteBuffer.wrap(md).getLong
    }
    Digest(rows.length.toLong, h)
  }

  /** Committed digests: one `name<TAB>rows:hash` line per query. */
  def readDigests(path: Path): Map[String, String] =
    if (!Files.isRegularFile(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\t"); a(0) -> a(1) }.toMap

  // ------------------------------------------------------------- runs

  final case class Op(name: String, wallS: Double, buildS: Double, execS: Double,
      ok: Boolean, c: Counters, pinnedRdds: Int, pinnedMb: Double, heapMb: Double)

  /** Persisted RDDs (cache and local-checkpoint blocks) still registered
    * after an operation returned, with their stored size. */
  def pinned(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids.size, bytes / 1048576.0)
  }

  /** Free everything a query left persisted, outside the timed region,
    * so operations stay independent (as `graft.Bench` does). */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Run one query: build its frame (eager work inside the query
    * function), then execute it through the `noop` sink. Afterwards the
    * heap is collected, so every query starts on a clean one; with
    * `measureHeap` the live heap is read too (which takes longer). */
  def runOp(spark: SparkSession, meter: Meter, tracer: Tracer, dir: String,
      name: String, fn: (SparkSession, String) => DataFrame, fail: String => Unit,
      measureHeap: Boolean): Op = {
    val c0 = meter.snapshot()
    var buildS, execS = 0.0
    val t0 = System.nanoTime()
    val ok = tracer.span(name) {
      try {
        val df = tracer.span("build") { fn(spark, dir) }
        val t1 = System.nanoTime()
        buildS = (t1 - t0) / 1e9
        tracer.span("execute") { df.write.mode("overwrite").format("noop").save() }
        execS = (System.nanoTime() - t1) / 1e9
        true
      } catch {
        case e: Throwable =>
          fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (pr, pmb) = pinned(spark)
    val c = meter.snapshot() - c0
    val heap = if (measureHeap) LiveHeap.mb() else { System.gc(); 0.0 }
    release(spark)
    tracer.annotate(name, Map("plan_s" -> c.planMs / 1e3, "task_s" -> c.taskS,
      "shuffle_mb" -> c.shuffleMb, "pinned_rdds" -> pr.toDouble, "pinned_mb" -> pmb))
    Op(name, wall, buildS, execS, ok, c, pr, pmb, heap)
  }

  def run(ctx: Ctx, names: Seq[String]): Result = {
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val errors = ArrayBuffer.empty[String]
    val fixtures = ctx.benchDir.resolve("data").resolve("contract")

    // ---- set-up, repeated: fresh session, fresh copy of the inputs,
    // cold resolution of every table.
    var dir = ""
    val setupWalls = ArrayBuffer.empty[Double]
    val loadWalls = ArrayBuffer.empty[Double]
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      ctx.restartSession()
      val d = ctx.work.resolve(s"tables-$rep")
      copyTree(fixtures, d)
      dir = d.toString
      val t1 = System.nanoTime()
      resolveTables(ctx.spark, dir)
      val t2 = System.nanoTime()
      loadWalls += (t2 - t1) / 1e9
      setupWalls += (t2 - t0) / 1e9
      Log(f"contract set-up $rep: session+copy ${(t1 - t0) / 1e9}%.2fs, resolution ${(t2 - t1) / 1e9}%.2fs")
    }
    val session = ctx.spark
    val meter = new Meter(session)

    // ---- warm-up: one untimed pass that collects every result and checks
    // it against the committed digests. More passes would settle the JIT
    // further (see README) but do not fit the per-run time budget.
    val committed = readDigests(ctx.benchDir.resolve("digests").resolve("contract.tsv"))
    val digests = ArrayBuffer.empty[(String, String)]
    val tw0 = System.nanoTime()
    order.foreach { n =>
      try {
        val d = digest(all(n)(session, dir)).render
        digests += n -> d
        committed.get(n) match {
          case Some(exp) if exp != d => errors += s"$n: digest $d, committed $exp"
          case None if !ctx.recordDigests => errors += s"$n: no committed digest"
          case _ => ()
        }
      } catch { case e: Throwable => errors += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      release(session)
    }
    if (ctx.recordDigests)
      writeDigests(ctx.benchDir.resolve("digests").resolve("contract.tsv"), (committed ++ digests).toSeq)
    val warmS = (System.nanoTime() - tw0) / 1e9
    Log(f"contract warm-up (digest pass) ${warmS}%.1fs")

    // ---- timed passes: at least `minPasses`, and until `minS` seconds
    // have passed. The live heap is read in the passes from the
    // `minPasses`-th on: the session's retained job and query state grows
    // with every operation, so the last pass holds the peak.
    val untraced = new Tracer(false)
    def timedPasses(tracer: Tracer, minPasses: Int, minS: Double): Seq[Seq[Op]] = {
      val passes = ArrayBuffer.empty[Seq[Op]]
      val start = System.nanoTime()
      var opId = 0
      while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < minS) {
        val heap = passes.size >= minPasses - 1
        passes += order.map { n =>
          tracer.operation(opId); opId += 1
          runOp(session, meter, tracer, dir, n, all(n), errors += _, heap)
        }
      }
      passes.toSeq
    }
    // Each query's wall is its fastest over at least three timed passes
    // (graft.Bench takes the min of two), so a stall in one pass stays out.
    // The traced run reports no end-to-end metric and times one.
    val c0 = meter.snapshot()
    val passes = timedPasses(untraced, if (ctx.trace) 1 else 3, ctx.seconds)
    val cRun = meter.snapshot() - c0
    // traced run: a traced pass between two untraced ones (the first is
    // the timed pass above), so JIT drift cancels out of the overhead
    val traced = if (!ctx.trace) None else {
      val t = timedPasses(ctx.tracer, 1, 0.0).head
      val after = timedPasses(untraced, 1, 0.0).head
      Some((t, (passes.last.map(_.wallS).sum + after.map(_.wallS).sum) / 2))
    }

    val ops = passes.flatten
    ops.foreach(o => Log(f"contract ${o.name}%-22s wall=${o.wallS}%.3fs task=${o.c.taskS}%.2fs pinned=${o.pinnedRdds} heap=${o.heapMb}%.1fMB"))
    val fastest = ops.groupBy(_.name).values.map(_.map(_.wallS).min).toSeq
    val perLayer: Map[String, Double] = traced.map { case (pass, untracedS) =>
      layerMetrics(pass, ctx.cores, untracedS)
    }.getOrElse(Map.empty)
    if (ctx.trace) ctx.tracer.writeJson(ctx.spanFile)

    Result(
      attempted = ops.size,
      failed = ops.count(!_.ok),
      errors = errors.toSeq,
      endToEnd = Map(
        "setup_s" -> (Stats.median(setupWalls.toSeq) + warmS),
        "run_s" -> fastest.sum,
        "op_p50_s" -> Stats.median(fastest),
        "op_tail_s" -> Stats.tail(fastest),
        "load_s" -> loadWalls.min,
        "task_s" -> cRun.taskS / passes.size,
        "write_amp" -> (if (cRun.inputB > 0) (cRun.shuffleWriteB + cRun.outputB).toDouble / cRun.inputB else 0.0),
        "peak_heap_mb" -> ops.map(_.heapMb).max),
      perLayer = perLayer,
      notes = Map(
        "passes" -> passes.size.toString,
        "warm_s" -> f"$warmS%.2f",
        "tail" -> Stats.tailLabel(fastest.size),
        "queries" -> names.size.toString))
  }

  private def layerMetrics(pass: Seq[Op], cores: Int, untracedS: Double): Map[String, Double] = {
    val c = pass.map(_.c).foldLeft(Counters())(_ + _)
    val wall = pass.map(_.wallS).sum
    val byFam = families.flatMap { f =>
      val ops = pass.filter(o => family.get(o.name).contains(f))
      val fc = ops.map(_.c).foldLeft(Counters())(_ + _)
      Seq(s"ext.$f.wall_s" -> ops.map(_.wallS).sum, s"ext.$f.task_s" -> fc.taskS,
        s"ext.$f.shuffle_mb" -> fc.shuffleMb)
    }
    Map(
      "queries.build_s" -> pass.map(_.buildS).sum,
      "queries.exec_s" -> pass.map(_.execS).sum,
      "queries.jobs" -> c.jobs.toDouble,
      "queries.stages" -> c.stages.toDouble,
      "queries.tasks" -> c.tasks.toDouble,
      "queries.sched_delay_s" -> c.schedDelayMs / 1e3,
      "queries.idle_core_frac" -> c.idleCoreFrac(wall, cores),
      "queries.shuffle_mb" -> c.shuffleMb,
      "queries.spill_mb" -> c.spillMb,
      "queries.gc_s" -> c.gcMs / 1e3,
      "plans.plan_s" -> c.planMs / 1e3,
      "core.pinned_rdds" -> pass.map(_.pinnedRdds).sum.toDouble,
      "core.pinned_mb" -> pass.map(_.pinnedMb).sum,
      "trace.unaccounted_frac" -> Stats.share(wall - pass.map(o => o.buildS + o.execS).sum, wall),
      "trace.overhead_frac" -> (wall / untracedS - 1.0)) ++ byFam
  }

  private def writeDigests(path: Path, ds: Seq[(String, String)]): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, ds.sortBy(_._1).map { case (n, d) => s"$n\t$d" }
      .mkString("# query\trows:order-insensitive row hash over data/contract (README: digests)\n", "\n", "\n"))
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

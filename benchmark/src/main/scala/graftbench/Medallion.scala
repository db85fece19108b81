package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Configs._
import graft.core.{Clock, TableCatalog}
import graft.ops.{Ingest, Quality}
import graft.pipeline.Pipeline
import graft.schema.SchemaRegistry

/** The medallion workload: a fresh catalog, one full `Pipeline.run` over
  * the generated history (the load), then incremental days, each landing
  * one trading day plus corrections and calling `Pipeline.run` again. */
object Medallion {
  val companies = 24
  val historyDays = 20
  /** Incremental days per run: fixed, never set by speed, so a faster
    * engine does not run more (and later, costlier) days. */
  val days = 1

  val scdTables = Seq("company_details", "fundamentals_data", "trading_data")
  val scdKeys = Map(
    "company_details" -> Seq("company_number"),
    "fundamentals_data" -> Seq("company_number", "quarter_end_date"),
    "trading_data" -> Seq("company_number", "date"))

  final case class Confs(ch: BronzeConf, yf: BronzeConf, silver: SilverConf, gold: GoldConf)

  /** The reference deployment's table configuration over a raw zone. */
  def confs(raw: RawZone): Confs = Confs(
    BronzeConf("companies", "bronze", raw.chDir.toString, "json", Seq(
      BronzeTableConf("overview", "overview.json"),
      BronzeTableConf("officers", "officers.json", explode = true, Some("items")),
      BronzeTableConf("filing_history", "filing-history.json", explode = true, Some("items")))),
    BronzeConf("companies", "bronze", raw.yfDir.toString, "csv", Seq(
      BronzeTableConf("company_details", "company_details/*.csv"),
      BronzeTableConf("fundamentals_data", "fundamentals_data/*.csv"),
      BronzeTableConf("trading_data", "trading_data/*.csv"))),
    SilverConf("companies", "bronze", "silver", Seq(
      ScdTableConf("company_details", scdKeys("company_details"),
        Seq("market_cap", "industry", "sector")),
      ScdTableConf("fundamentals_data", scdKeys("fundamentals_data"),
        Seq("total_revenue", "ebitda", "net_income")),
      ScdTableConf("trading_data", scdKeys("trading_data"),
        Seq("open", "high", "low", "close", "adj_close", "volume")))),
    GoldConf("companies", "silver", "gold",
      promoteTables = Seq("company_master"),
      dimensions = Seq("company_details"),
      facts = Seq(
        FactConf("fact_trading", "trading_data", "date", Seq("date")),
        FactConf("fact_fundamentals", "fundamentals_data", "quarter_end_date", Nil))))

  /** One pipeline run as the layers' public calls, in `Pipeline.run`'s
    * order, each with a one-table conf: one span per table. Returns the
    * per-layer wall and counters. */
  def runLayers(spark: SparkSession, c: Confs, cat: TableCatalog, clock: Clock,
      meter: Meter, tracer: Tracer): Seq[(String, Double, Counters)] = {
    val out = ArrayBuffer.empty[(String, Double, Counters)]
    def layer(group: String, table: String)(body: => Unit): Unit = {
      val c0 = meter.snapshot()
      val t0 = System.nanoTime()
      tracer.span(s"$group.$table")(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val cs = meter.snapshot() - c0
      tracer.annotate(s"$group.$table", Map("task_s" -> cs.taskS, "shuffle_mb" -> cs.shuffleMb))
      out += ((group, wall, cs))
    }
    c.ch.tables.foreach(t => layer("pipeline.bronze", t.name) {
      Pipeline.bronzeCompanyHouse(spark, c.ch.copy(tables = Seq(t)), cat) })
    c.yf.tables.foreach(t => layer("pipeline.bronze", t.name) {
      Pipeline.bronzeYFinance(spark, c.yf.copy(tables = Seq(t)), cat) })
    layer("pipeline.silver_master", "company_master") {
      Pipeline.silverCompanyMaster(spark, c.ch.catalog, cat, clock) }
    c.silver.tables.foreach(t => layer("scd", t.name) {
      Pipeline.silverScd2(spark, c.silver.copy(tables = Seq(t)), cat, clock) })
    val g = c.gold
    val none = g.copy(promoteTables = Nil, dimensions = Nil, facts = Nil)
    g.promoteTables.foreach(t => layer("pipeline.gold", t) {
      Pipeline.gold(spark, none.copy(promoteTables = Seq(t)), cat) })
    g.dimensions.foreach(t => layer("pipeline.gold", s"dim_$t") {
      Pipeline.gold(spark, none.copy(dimensions = Seq(t)), cat) })
    g.facts.foreach(f => layer("pipeline.gold", f.name) {
      Pipeline.gold(spark, none.copy(facts = Seq(f)), cat) })
    out.toSeq
  }

  /** List every bronze input through the bronze readers (file-index
    * resolution, no data read): the set-up's counterpart of resolving a
    * table. Returns the number of input files. */
  def resolveInputs(spark: SparkSession, c: Confs): Int =
    c.ch.tables.map(t => Ingest.json(spark, SchemaRegistry.companiesHouse(t.name),
      s"${c.ch.basePath}/*/*/${t.file}").inputFiles.length).sum +
    c.yf.tables.map(t => Ingest.csv(spark, SchemaRegistry.yfinance(t.name),
      s"${c.yf.basePath}/${t.file}").inputFiles.length).sum

  // ------------------------------------------------ catalog inspection

  private def silver(t: String) = s"companies.silver.$t"
  private def bronze(t: String) = s"companies.bronze.$t"

  /** Data files and bytes of each table version not in `before`. */
  def versionsWritten(cat: TableCatalog, before: Map[String, Set[String]]): Map[String, (Long, Long)] =
    cat.listTables().map { t =>
      val fresh = cat.describe(t).filterNot(v => before.getOrElse(t, Set.empty).contains(v._1))
      t -> (fresh.map(_._3).sum, fresh.map(_._4).sum)
    }.toMap

  def versionSet(cat: TableCatalog): Map[String, Set[String]] =
    cat.listTables().map(t => t -> cat.versions(t).toSet).toMap

  private def currentVersion(cat: TableCatalog, t: String): Option[String] =
    if (cat.exists(t)) Some(java.nio.file.Paths.get(cat.currentPath(t)).getFileName.toString) else None

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  /** Raw files the bronze globs match, as (relative path, size, mtime). */
  def rawFiles(raw: RawZone): Set[(String, Long, Long)] = {
    val w = Files.walk(raw.root)
    try w.iterator.asScala.filter { p =>
      Files.isRegularFile(p) && {
        val f = p.getFileName.toString
        f.endsWith(".json") && !f.startsWith("_") || f.endsWith(".csv")
      }
    }.map(p => (raw.root.relativize(p).toString, Files.size(p),
      Files.getLastModifiedTime(p).toMillis)).toSet
    finally w.close()
  }

  /** Rows each quality gate drops from bronze table versions, measured
    * through the public `Quality` functions (gates chained as the silver
    * layer chains them, counted by `Quality.observed`, all tables in one
    * pass): table -> (require_keys, non_negative, rows kept for the merge). */
  def gateDrops(spark: SparkSession, cat: TableCatalog,
      versions: Seq[(String, String)]): Map[String, (Long, Long, Long)] = {
    val observed = versions.map { case (t, v) =>
      val (b, o0) = Quality.observed(cat.readVersion(spark, bronze(t), v), s"$t-bronze", Nil)
      val (k, o1) = Quality.observed(Quality.requireKeys(b, scdKeys(t)), s"$t-keys", Nil)
      val (n, o2) = Quality.observed(Quality.nonNegativeNumerics(k), s"$t-nonneg", Nil)
      (t, n.select(lit(t).as("t")), Seq(o0, o1, o2))
    }
    observed.map(_._2).reduce(_ union _).write.mode("overwrite").format("noop").save()
    observed.map { case (t, _, os) =>
      val Seq(n0, n1, n2) = os.map(_.get("n_rows").asInstanceOf[Long])
      t -> ((n0 - n1, n1 - n2, n2))
    }.toMap
  }

  /** SCD2 rows one run inserted and expired, by diffing the silver
    * version it published against the one before: current rows absent
    * from the previous current set are inserts, previously current rows
    * no longer current are expiries. */
  def scdDiff(spark: SparkSession, cat: TableCatalog, t: String,
      prev: Option[String], cur: String): (Long, Long) = {
    val keys = scdKeys(t) :+ "effective_from"
    def current(v: String, flag: String): DataFrame = cat.readVersion(spark, silver(t), v)
      .filter(col("is_current") === true).select(keys.map(col) :+ lit(1).as(flag): _*)
    val now = current(cur, "now")
    prev match {
      case None => (now.count(), 0L)
      case Some(p) =>
        val r = current(p, "old").join(now, keys, "full_outer")
          .agg(count(when(col("old").isNull, 1)), count(when(col("now").isNull, 1)))
          .head()
        (r.getLong(0), r.getLong(1))
    }
  }

  // ---------------------------------------------------------- the run

  /** One pipeline run: its wall and counters plus what the harness read
    * around it (outside the wall): raw files, versions and bytes. */
  final case class Run(date: LocalDate, wallS: Double, heapMb: Double, c: Counters,
      layers: Seq[(String, Double, Counters)], landedB: Long,
      filesRead: Int, newFiles: Int, written: Map[String, (Long, Long)],
      before: Map[String, Option[String]], after: Map[String, Option[String]],
      onDiskB: Long)

  final class Execution(val raw: RawZone, val cat: TableCatalog, val runs: Seq[Run])

  private val versioned: Seq[String] = scdTables.flatMap(t => Seq(bronze(t), silver(t)))

  /** Load plus `days` incremental days on a fresh catalog over a freshly
    * generated raw zone. Runs `op` with `layered(op)` go through the per-layer
    * public calls (traced) instead of `Pipeline.run`. */
  def execute(spark: SparkSession, meter: Meter, tracer: Tracer, dir: Path, seed: Long,
      n: Int, hist: Int, days: Int, layered: Int => Boolean): Execution = {
    val raw = new RawZone(dir.resolve("raw"), seed, n, hist)
    raw.load()
    val cat = new TableCatalog(dir.resolve("catalog").toString)
    val c = confs(raw)
    Log(s"medallion ${dir.getFileName} raw zone generated")
    val seen = mutable.Set.empty[(String, Long, Long)]
    val runs = (0 to days).map { op =>
      val date = if (op == 0) raw.loadDate else raw.land()
      val landedB = raw.takeLanded()
      raw.writeManifest()
      val files = rawFiles(raw)
      val fresh = files.count(f => !seen.contains(f))
      seen ++= files
      val beforeV = versionSet(cat)
      val before = versioned.map(t => t -> currentVersion(cat, t)).toMap
      tracer.operation(op)
      val clock = Clock.Fixed(date)
      val c0 = meter.snapshot()
      val t0 = System.nanoTime()
      val layers =
        if (layered(op)) tracer.span(s"run.$date")(runLayers(spark, c, cat, clock, meter, tracer))
        else { Pipeline.run(spark, c.ch, c.yf, c.silver, c.gold, cat, clock); Nil }
      val wall = (System.nanoTime() - t0) / 1e9
      val cs = meter.snapshot() - c0
      val heap = LiveHeap.mb()
      Log(f"medallion ${dir.getFileName} run $date%s wall=$wall%.2fs task=${cs.taskS}%.1fs heap=$heap%.1fMB " +
        layers.map(l => f"${l._1}=${l._2}%.2f").mkString(" "))
      Run(date, wall, heap, cs, layers, landedB, files.size, fresh,
        versionsWritten(cat, beforeV), before,
        versioned.map(t => t -> currentVersion(cat, t)).toMap,
        bytesUnder(dir.resolve("catalog")))
    }
    new Execution(raw, cat, runs)
  }

  // ------------------------------------------------------------ checks

  final case class Measured(scd: Seq[Map[String, (Long, Long)]],
      gates: Seq[Map[String, (Long, Long, Long)]])

  /** Correctness of one execution against the manifest its generator
    * wrote: the SCD2 invariant, per-run SCD2 inserts and expiries, the
    * quality-gate drops, gold/silver agreement and the company master's
    * contents. Per-run SCD2 counts are read off the final silver version
    * (history rows are immutable: a run's inserts carry its date in
    * `effective_from`, its expiries in `effective_to`). Each check is one
    * Spark job over all tables. */
  def check(spark: SparkSession, ex: Execution): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(ex.raw.root.resolve("_manifest.json")))
    val cat = ex.cat
    val runs = m.get("runs").elements().asScala.toSeq
    def silverOf(t: String) = cat.read(spark, silver(t))

    val byDate = scdTables.map { t =>
      silverOf(t).select(lit(t).as("t"), explode(array(
        struct(lit("inserted").as("k"), col("effective_from").cast("string").as("d")),
        struct(lit("expired").as("k"),
          when(col("is_current") =!= true, col("effective_to").cast("string")).as("d")))).as("e"))
    }.reduce(_ unionByName _)
      .where(col("e.d").isNotNull).groupBy("t", "e.k", "e.d").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    for (r <- runs; t <- scdTables; k <- Seq("inserted", "expired")) {
      val d = r.get("date").asText
      val got = byDate.getOrElse((t, k, d), 0L)
      val exp = r.get(k).get(t).asLong
      if (got != exp) errs += s"run $d silver.$t: $k $got, manifest $exp"
    }

    val dups = scdTables.map { t =>
      silverOf(t).filter(col("is_current") === true)
        .select(lit(t).as("t"), concat_ws("|", scdKeys(t).map(c => col(c).cast("string")): _*).as("key"))
    }.reduce(_ unionByName _).groupBy("t", "key").count().filter(col("count") > 1)
      .groupBy("t").count().collect()
    dups.foreach(r => errs += s"silver.${r.getString(0)}: ${r.getLong(1)} business keys with more than one current row")

    val gates = gateDrops(spark, cat, scdTables.map(t => t -> ex.runs.last.after(bronze(t)).get))
    scdTables.foreach { t =>
      val (rk, nn, _) = gates(t)
      val exp = m.get("dq_dropped").get(t)
      if (rk != exp.get("require_keys").asLong || nn != exp.get("non_negative").asLong)
        errs += s"bronze.$t: gates dropped ($rk, $nn), manifest " +
          s"(${exp.get("require_keys")}, ${exp.get("non_negative")})"
    }

    val curTrading = runs.map(r => r.get("inserted").get("trading_data").asLong -
      r.get("expired").get("trading_data").asLong).sum
    val fact = cat.read(spark, "companies.gold.fact_trading").count()
    if (fact != curTrading) errs += s"gold.fact_trading has $fact rows, current silver trading $curTrading"
    val future = m.get("future_companies").elements().asScala.map(_.asText).toSeq
    val master = cat.read(spark, silver("company_master"))
      .agg(count(lit(1)), count(when(col("company_number").isin(future: _*), 1))).head()
    if (master.getLong(1) != 0)
      errs += s"silver.company_master holds ${master.getLong(1)} future-dated companies"
    if (master.getLong(0) != m.get("companies").asLong)
      errs += s"silver.company_master has ${master.getLong(0)} rows, manifest ${m.get("companies")}"
    errs.toSeq
  }

  /** Per-run SCD2 inserts and expiries by diffing consecutive silver
    * versions, and per-run gate drops; runs whose versions were pruned
    * report -1. */
  def measure(spark: SparkSession, ex: Execution): Measured = {
    val cat = ex.cat
    val retained = versioned.map(t => t -> cat.versions(t).toSet).toMap
    val scd = ex.runs.map { r =>
      scdTables.map { t =>
        val cur = r.after(silver(t)).get
        val prev = r.before(silver(t))
        t -> (if ((prev.toSeq :+ cur).forall(retained(silver(t)))) scdDiff(spark, cat, t, prev, cur)
          else (-1L, -1L))
      }.toMap
    }
    val gates = ex.runs.map(r => gateDrops(spark, cat, scdTables.map(t => t -> r.after(bronze(t)).get)))
    Measured(scd, gates)
  }

  // --------------------------------------------------------- workload

  def run(ctx: Ctx): Result = {
    val errors = ArrayBuffer.empty[String]

    // ---- set-up, repeated: fresh session, a freshly generated raw zone of
    // the run's size, and its input files resolved through the bronze
    // readers. The first set-ups still warm the JVM; the median is past them.
    val setupWalls = (1 to 5).map { rep =>
      val t0 = System.nanoTime()
      ctx.restartSession()
      val raw = new RawZone(ctx.work.resolve(s"setup-$rep"), ctx.seed, companies, historyDays)
      raw.load()
      resolveInputs(ctx.spark, confs(raw))
      (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    val meter = new Meter(spark)
    val off = new Tracer(false)
    Log("medallion set-up done")

    // ---- timed execution. There is no warm-up run: the load is the first
    // pipeline run of the process, cold, as a freshly started scheduled
    // job sees it; the days after it run on the JIT state the load left.
    if (ctx.trace) return traced(ctx, spark, meter, setupWalls)
    val ex = execute(spark, meter, off, ctx.work.resolve("run"), ctx.seed,
      companies, historyDays, days, layered = _ => false)
    Log("medallion timed execution done")
    errors ++= check(spark, ex)
    Log("medallion checks done")

    val dayRuns = ex.runs.tail
    val landed = ex.runs.map(_.landedB).sum
    val written = ex.runs.map(_.written.values.map(_._2).sum).sum
    Result(
      attempted = ex.runs.size,
      failed = 0,
      errors = errors.toSeq,
      endToEnd = Map(
        "setup_s" -> Stats.median(setupWalls),
        "run_s" -> ex.runs.map(_.wallS).sum,
        "op_p50_s" -> Stats.median(dayRuns.map(_.wallS)),
        "op_tail_s" -> Stats.tail(dayRuns.map(_.wallS)),
        "load_s" -> ex.runs.head.wallS,
        "task_s" -> ex.runs.map(_.c).foldLeft(Counters())(_ + _).taskS,
        "write_amp" -> Stats.share(written.toDouble, landed.toDouble),
        "peak_heap_mb" -> ex.runs.map(_.heapMb).max),
      perLayer = Map.empty,
      notes = Map(
        "days" -> days.toString,
        "tail" -> Stats.tailLabel(dayRuns.size),
        "setup_rep_s" -> setupWalls.map(v => f"$v%.2f").mkString(","),
        "day_walls_s" -> dayRuns.map(d => f"${d.wallS}%.2f").mkString(",")))
  }

  /** The traced run: one execution of the load and three days where the
    * load and the middle day go through the per-layer public calls, traced,
    * and the days around the middle one through `Pipeline.run`. The middle
    * day against the mean of its neighbours is the tracing overhead. */
  private def traced(ctx: Ctx, spark: SparkSession, meter: Meter,
      setupWalls: Seq[Double]): Result = {
    val tr = execute(spark, meter, ctx.tracer, ctx.work.resolve("traced"), ctx.seed,
      companies, historyDays, 3, layered = op => op == 0 || op == 2)
    val errors = ArrayBuffer.empty[String]
    errors ++= check(spark, tr)
    val m = measure(spark, tr)
    // the version diffs must agree with the manifest too
    m.scd.zip(tr.raw.manifest.ops).foreach { case (got, exp) =>
      scdTables.foreach { t =>
        if (got(t) != ((exp.inserted(t).toLong, exp.expired(t).toLong)))
          errors += s"run ${exp.date} silver.$t: version diff ${got(t)}, manifest " +
            s"(${exp.inserted(t)}, ${exp.expired(t)})"
      }
    }
    ctx.tracer.writeJson(ctx.spanFile)
    Result(tr.runs.size, 0, errors.toSeq, Map.empty, layerMetrics(ctx.cores, tr, m, 2),
      Map("setup_rep_s" -> setupWalls.map(v => f"$v%.2f").mkString(",")))
  }

  /** Per-layer metrics of traced run `i`, an incremental day. */
  private def layerMetrics(cores: Int, t: Execution, m: Measured, i: Int): Map[String, Double] = {
    val run = t.runs(i)
    def wall(g: String) = run.layers.filter(_._1 == g).map(_._2).sum
    def cnt(g: String) = run.layers.filter(_._1 == g).map(_._3).foldLeft(Counters())(_ + _)
    val gold = run.written.filter(_._1.startsWith("companies.gold.")).values
    val kept = m.gates(i).values.map(_._3).sum.toDouble
    val ins = m.scd(i).values.map(_._1).sum.toDouble
    val exp = m.scd(i).values.map(_._2).sum.toDouble
    val neighbours = (t.runs(i - 1).wallS + t.runs(i + 1).wallS) / 2
    Map(
      "pipeline.bronze.wall_s" -> wall("pipeline.bronze"),
      "pipeline.bronze.task_s" -> cnt("pipeline.bronze").taskS,
      "pipeline.bronze.idle_core_frac" -> cnt("pipeline.bronze").idleCoreFrac(wall("pipeline.bronze"), cores),
      "pipeline.bronze.files_read" -> run.filesRead.toDouble,
      "pipeline.bronze.rows_out" -> m.gates(i).values.map(g => g._1 + g._2 + g._3).sum.toDouble,
      "pipeline.bronze.new_file_frac" -> Stats.share(run.newFiles, run.filesRead),
      "pipeline.silver_master.wall_s" -> wall("pipeline.silver_master"),
      "pipeline.silver_master.task_s" -> cnt("pipeline.silver_master").taskS,
      "pipeline.silver_master.shuffle_mb" -> cnt("pipeline.silver_master").shuffleMb,
      "scd.wall_s" -> wall("scd"),
      "scd.task_s" -> cnt("scd").taskS,
      "scd.shuffle_mb" -> cnt("scd").shuffleMb,
      "scd.spill_mb" -> cnt("scd").spillMb,
      "scd.rows_in" -> kept,
      "scd.inserted" -> ins,
      "scd.expired" -> exp,
      "scd.changed_frac" -> Stats.share(ins + exp, kept),
      "ops.quality.dropped_rows.require_keys" -> m.gates(i).values.map(_._1).sum.toDouble,
      "ops.quality.dropped_rows.non_negative" -> m.gates(i).values.map(_._2).sum.toDouble,
      "pipeline.gold.wall_s" -> wall("pipeline.gold"),
      "pipeline.gold.task_s" -> cnt("pipeline.gold").taskS,
      "pipeline.gold.files_written" -> gold.map(_._1).sum.toDouble,
      "pipeline.gold.bytes_written" -> gold.map(_._2).sum.toDouble,
      "core.catalog.files_written" -> run.written.values.map(_._1).sum.toDouble,
      "core.catalog.bytes_written" -> run.written.values.map(_._2).sum.toDouble,
      "core.catalog.bytes_on_disk" -> run.onDiskB.toDouble,
      "trace.unaccounted_frac" -> Stats.share(run.wallS - run.layers.map(_._2).sum, run.wallS),
      "trace.overhead_frac" -> (run.wallS / neighbours - 1.0))
  }
}

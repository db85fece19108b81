package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run reports. */
final case class Result(
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    notes: Map[String, String])

/** Shared state of one benchmark process. */
final class Ctx(
    val benchDir: Path,
    val work: Path,
    val cores: Int,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val recordDigests: Boolean) {

  val tracer = new Tracer(trace)
  def spanFile: Path = work.resolve("spans.json")

  private var session: SparkSession = _
  def spark: SparkSession = session

  /** The `graft.Bench` session conf, with `local[cores]` and shuffle
    * partitions = cores; only the scratch locations differ, so they stay
    * inside the working directory. */
  def restartSession(): SparkSession = {
    if (session != null) session.stop()
    Files.createDirectories(work.resolve("spark-local"))
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.graft.tableCache", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[bench +${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (`q` in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail percentile for `n` samples: the highest whole percentile
    * that leaves at least 10 samples above it; p90 when there are fewer
    * than 20 samples. */
  def tailQ(n: Int): Double =
    if (n < 20) 0.9 else math.floor((n - 10).toDouble / n * 100) / 100

  def tail(xs: Seq[Double]): Double = percentile(xs, tailQ(xs.size))

  def tailLabel(n: Int): String = f"p${tailQ(n) * 100}%.0f of $n"

  def share(part: Double, whole: Double): Double = if (whole > 0) part / whole else 0.0
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--bench-dir <dir>` and `--work <dir>` from the launcher. The last
  * stdout line is the result object; diagnostics go to stderr. */
object Main {
  val workloads = Seq("medallion", "contract_curation", "contract_relational")

  def main(args: Array[String]): Unit = {
    Log(s"harness started, JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val benchDir = Paths.get(opts.getOrElse("bench-dir", "benchmark")).toAbsolutePath
    val work = Paths.get(opts.getOrElse("work", "benchmark/target/work")).toAbsolutePath
    val ctx = new Ctx(
      benchDir = benchDir,
      work = work,
      cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      seed = opts.getOrElse("seed", "1").toLong,
      seconds = opts.getOrElse("seconds", "10").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      recordDigests = opts.get("record-digests").contains("1"))
    Files.createDirectories(work)
    val result =
      try workload match {
        case "medallion" => Medallion.run(ctx)
        case "contract_relational" => Contract.run(ctx, Contract.relationalNames)
        case "contract_curation" => Contract.run(ctx, Contract.curationNames)
      } finally { Log("workload done"); ctx.stop(); Log("session stopped") }

    result.errors.foreach(e => System.err.println(s"[bench] FAIL $e"))
    val metrics =
      if (ctx.trace) PerLayer.names.map(n => n -> result.perLayer.getOrElse(n, 0.0)).toMap
      else result.endToEnd
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"[bench] $workload%-20s $k%-34s $v%14.6f") }
    result.notes.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"[bench] $workload%-20s $k%-34s $v") }
    val correct = result.errors.isEmpty && result.failed == 0
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Units.of(k))))
      })))
    System.err.flush()
    println(line)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Every per-layer metric a traced run reports; a layer a workload does not
  * run reports 0. */
object PerLayer {
  val names: Seq[String] =
    Seq("wall_s", "task_s", "idle_core_frac", "files_read", "rows_out", "new_file_frac")
      .map("pipeline.bronze." + _) ++
    Seq("wall_s", "task_s", "shuffle_mb").map("pipeline.silver_master." + _) ++
    Seq("wall_s", "task_s", "shuffle_mb", "spill_mb", "rows_in", "inserted", "expired",
      "changed_frac").map("scd." + _) ++
    Seq("require_keys", "non_negative").map("ops.quality.dropped_rows." + _) ++
    Seq("wall_s", "task_s", "files_written", "bytes_written").map("pipeline.gold." + _) ++
    Seq("files_written", "bytes_written", "bytes_on_disk").map("core.catalog." + _) ++
    Seq("build_s", "exec_s", "jobs", "stages", "tasks", "sched_delay_s", "idle_core_frac",
      "shuffle_mb", "spill_mb", "gc_s").map("queries." + _) ++
    Seq("plans.plan_s") ++
    Seq("dedup", "similarity", "textkit", "multimodal", "graph").flatMap(f =>
      Seq("wall_s", "task_s", "shuffle_mb").map(s"ext.$f." + _)) ++
    Seq("core.pinned_rdds", "core.pinned_mb", "trace.unaccounted_frac", "trace.overhead_frac")
}

object Units {
  def of(metric: String): String = {
    val leaf = metric.split('.').last
    if (leaf.endsWith("_s")) "s"
    else if (leaf.endsWith("_mb")) "MB"
    else if (leaf.endsWith("_frac") || leaf == "write_amp") "ratio"
    else if (leaf.startsWith("bytes")) "bytes"
    else "count"
  }
}

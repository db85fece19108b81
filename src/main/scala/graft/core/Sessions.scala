package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine: every main builds its session here.
  *
  * Mirrors the capability of the reference's session factory
  * (`utils/sparksession.py:3-12`) but fixes its misspelled AQE key
  * (`spark.sql.adaptive.enable` → `spark.sql.adaptive.enabled`, see
  * SURVEY.md §4) and sizes shuffle partitions for the actual runtime
  * instead of a hard-coded 200.
  *
  * Scale posture: AQE on, UTC session time zone for reproducible
  * date/timestamp semantics, and shuffle partitions = the local core
  * count (on a real cluster, see [[clusterConf]]). AQE coalescing,
  * skew-join splitting and parquet filter pushdown are Spark defaults
  * and stay unset, so `spark.conf.getAll` lists only the keys set here.
  * No app name is set, so Spark generates one per run.
  */
object Sessions {

  /** A `local[cores]` session; `cores` defaults to `SPARK_GRAFT_CPUS`
    * (32 when unset), the core count the mains run with. */
  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Input bytes below which a pipeline call runs interpreted (see
    * [[forInput]]). Set from a crossover of the medallion load and day,
    * interpreted against codegen, on a 4-core host (SURVEY.md §7.4):
    * interpreted won every pair up to 1.0 MB of input, and codegen first
    * tied a pair at 2.6 MB. The bound sits between the two. */
  val interpretedBelowBytes: Long = 2L << 20

  /** The session a pipeline call of `inputBytes` input runs on.
    *
    * At or above [[interpretedBelowBytes]] it is `spark` itself. Below
    * it, it is an interpreted clone of `spark`: whole-stage codegen off
    * and the expression factories on their interpreted implementations
    * (`factoryMode=NO_CODEGEN`, the internal key Spark's own
    * interpreted-plan tests use). On a small batch, compiling a plan
    * costs more than running it: a medallion day over the benchmark's
    * raw zone compiled about 140 classes with Janino, and interpreted it
    * took half the task-seconds. Turning off only whole-stage codegen is
    * not enough, since each expression then compiles on its own.
    *
    * A clone, not `spark` with two keys set, because the caller's conf
    * must not change under it: the clone keeps the caller's runtime
    * conf, listeners, extensions and `graft_*` functions, and differs
    * from it only in the two keys. */
  def forInput(spark: SparkSession, inputBytes: Long): SparkSession =
    if (inputBytes >= interpretedBelowBytes) spark
    else {
      val clone = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
      clone.conf.set("spark.sql.codegen.wholeStage", "false")
      clone.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      clone
    }

  /** Shuffle-sizing posture for a REAL cluster (the 1000-executor /
    * 100 TB deployment this library is designed for) — the conf block a
    * cluster session should be built with, also applicable to a live
    * session via `conf.set` (all keys are runtime-settable).
    *
    * Why this exists: a fixed `spark.sql.shuffle.partitions` cannot be
    * right across a 100 TB contract — `= cores` (the local[32] gate
    * setting) under-splits big shuffles into executor-memory-blowing
    * partitions, while `= 10 × cores` makes every small query pay
    * thousands of empty tasks. The scalable posture is: let AQE size
    * reducers by BYTES, not by a global constant —
    *
    *  - `initialPartitionNum` (default here `oversubscription ×
    *    totalCores`) is the map-side bucket count — the CEILING on
    *    post-shuffle parallelism. Oversubscribe it: unused buckets are
    *    coalesced away at runtime, but a too-low ceiling cannot be
    *    raised after the map stage ran. At 1000 × 8 cores the default
    *    is 64k buckets — safely above any reducer count a 100 TB
    *    shuffle wants.
    *  - `advisoryPartitionSizeInBytes` (128 MB default) is what AQE
    *    coalesces TO: each reducer gets ~one HDFS-block of shuffle
    *    data regardless of total volume, so a 10× data growth becomes
    *    10× more reducers, not 10× bigger ones — the weak-scaling
    *    contract, decided at runtime from observed map output sizes.
    *  - `parallelismFirst = false` makes AQE honor the advisory size
    *    (the default `true` floors partilism at minPartitionSize=1MB
    *    and produces core-count-matched tiny partitions — right for a
    *    laptop, wrong for a cluster where the scheduler round-trips
    *    dominate tiny tasks).
    *  - `skewJoin` splits any reducer whose size exceeds 5× the median
    *    into advisory-sized chunks — the runtime complement to the
    *    engine's own salting/degree-caps.
    *  - `shuffle.partitions` (2 × totalCores) only matters where AQE
    *    cannot see (first stage of a streaming query, non-AQE paths);
    *    everything else is sized by the rules above.
    *
    * Local gate note: the sf0.01..sf10 gates intentionally keep
    * `shuffle.partitions = cpus` with AQE defaults — at ≤1.5 GB inputs
    * the advisory coalescing collapses most shuffles to ONE reducer,
    * which serializes the very parallelism the gates measure. The
    * posture split (cores-sized locally, bytes-sized on the cluster) is
    * itself the design: partition counts are a per-DEPLOYMENT knob, and
    * `SessionsSpec` pins that the ceiling — not the constant — governs
    * reducer counts under this conf block. */
  def clusterConf(
      totalCores: Int,
      advisoryPartitionBytes: Long = 128L << 20,
      oversubscription: Int = 8): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (2 * totalCores).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      (oversubscription.toLong * totalCores).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      advisoryPartitionBytes.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true")
}

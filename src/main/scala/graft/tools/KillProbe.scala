package graft.tools

import graft.core.Materialize
import graft.ext.Dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Availability probe for the reliable-checkpoint mode (r11 verdict
  * item 4): run the iterative connected-components loop on a REAL
  * multi-process cluster (`local-cluster[2,N,mem]` — separate executor
  * JVMs, not local threads), SIGKILL one executor mid-iteration, and
  * record whether the job survives.
  *
  * The claim under test ([[graft.core.Materialize]] scaladoc): a local
  * checkpoint truncates lineage onto executor-local blocks, so one lost
  * executor kills the whole in-flight iterative job; reliable mode
  * (`spark.graft.checkpoint.reliable=true`) re-reads checkpoint FILES
  * and recomputes only the lost partitions. Until r12 this was
  * demonstrated by dropping blocks in-process (ReliableCheckpointSpec);
  * this probe loses a real executor PROCESS.
  *
  * Modes: `reference` (no kill, prints the expected cluster hash),
  * `reliable` (kill + reliable checkpoints → must complete with the
  * reference hash), `local` (kill + local checkpoints → expected to
  * fail with a checkpoint/FetchFailed error; completing is ALSO fine
  * if Spark rescheduled before any truncated lineage was needed — the
  * probe records what happened, the JSON adjudicates).
  *
  * Usage: runMain graft.tools.KillProbe <mode> [nodes] [killAfterSec]
  * Prints one `[killprobe] ... json=...` line; tools/run_killprobe.sh
  * composes the three modes into SCALING_executor_kill.json.
  */
object KillProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("reference")
    val nodes = if (args.length > 1) args(1).toLong else 400000L
    val killAfterSec = if (args.length > 2) args(2).toDouble else 6.0

    val spark = SparkSession.builder()
      .master("local-cluster[2,8,4096]")
      .appName(s"graft-killprobe-$mode")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the probe kills an executor on purpose; never blacklist the
      // surviving topology or give up the stage early
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "reliable") {
      spark.conf.set("spark.graft.checkpoint.reliable", "true")
      spark.conf.set("spark.graft.checkpoint.dir",
        s"target/killprobe-ckpt-${System.nanoTime()}")
    }

    // Chain components of length 40 (so CC needs pointer-jump rounds)
    // over `nodes` vertices, plus a long-range rung every 1000 to keep
    // per-round frontiers busy: enough rounds and shuffle volume that a
    // mid-loop kill lands INSIDE the iteration, not after it.
    val edges = spark.range(nodes)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .filter(col("b") % 40 =!= 0)
      .unionAll(spark.range(nodes / 1000)
        .select((col("id") * 1000).as("a"), (col("id") * 1000 + 500).as("b")))
      .filter(col("a") < nodes && col("b") < nodes)

    @volatile var killed = "none"
    val killer = new Thread(() => {
      Thread.sleep((killAfterSec * 1000).toLong)
      // Kill one REAL executor JVM (never the driver): local-cluster
      // executors run as CoarseGrainedExecutorBackend processes.
      val pids = new String(Runtime.getRuntime
        .exec(Array("pgrep", "-f", "CoarseGrainedExecutorBackend"))
        .getInputStream.readAllBytes()).trim.split("\\s+").filter(_.nonEmpty)
      pids.headOption.foreach { pid =>
        Runtime.getRuntime.exec(Array("kill", "-9", pid)).waitFor()
        killed = pid
      }
    })
    if (mode != "reference") killer.start()

    val t0 = System.nanoTime()
    val result: Either[String, (Long, Long)] =
      try {
        val row = Materialize.scope(spark) {
          Dedup.duplicateClusters(edges).agg(
            count(lit(1)).as("n"),
            sum(expr("hash(node, label)").cast("long")).as("h")).collect().head
        }
        Right((row.getLong(0), row.getLong(1)))
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    if (mode != "reference") killer.join()

    val json = result match {
      case Right((n, h)) =>
        f"""{"mode":"$mode","outcome":"completed","rows":$n,"hash":$h,"killed_pid":"$killed","wall_sec":$wall%.1f}"""
      case Left(err) =>
        val e = err.replace("\\", " ").replace("\"", "'").replace("\n", " ")
        f"""{"mode":"$mode","outcome":"failed","error":"$e","killed_pid":"$killed","wall_sec":$wall%.1f}"""
    }
    println(s"[killprobe] json=$json")
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg (local dev only; the driver passes two): run just
    // the comma-listed queries — oracle_sql.json still carries them all.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // coalesce(1) keeps the driver's sf0.01 dumps single-file, but it
    // also folds each query's FINAL stage into one task — at the sf1
    // campaign scale that serializes whole queries, so the scaled run
    // sets SPARK_GRAFT_NO_COALESCE=1 and writes plain multi-part
    // parquet (check.py reads the dir with a glob either way).
    val noCoalesce = sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")
    // Per-query failures are RECORDED, not just logged: a Spark-side
    // throw lands in _errors.json next to the dumps, and check.py merges
    // it as a red row. (Round-7 lesson: a parse error that only reached
    // stderr shrank the correctness denominator silently.)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (noCoalesce) df else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(s"[verify] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
      // Drop blocks a query left persisted (final localCheckpoints of the
      // iterative ops) — same hygiene as Bench: queries are self-contained
      // and 265 of them would otherwise accumulate block-manager memory.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (even when empty) so the checker can tell "no
    // failures" apart from "a Verify that predates failure recording".
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    // Exit 0 even on per-query failures: the driver must still run the
    // DuckDB compare over the dumps that DID land; _errors.json is how
    // the failures become red rows (check.py merges it).
    spark.stop()
  }
}

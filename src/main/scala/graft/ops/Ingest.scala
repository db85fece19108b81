package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze-layer ingestion operators (SURVEY.md §2.1 S1-S3, §2.2 P1-P4, P10).
  *
  * Each is a small pure function so pipelines compose them; no operator
  * collects to the driver — everything stays a lazy plan so Catalyst can
  * push filters/pruning into the scans at any scale.
  */
object Ingest {

  /** S1 — multiline JSON scan with explicit schema over a glob.
    * Reference: `medallion/bronze/ds2b_company_house.py:58-62`. */
  def json(spark: SparkSession, schema: StructType, glob: String): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(glob)

  /** S2 — CSV scan: explicit schema, header, PERMISSIVE (malformed → null).
    * Reference: `medallion/bronze/ds2b_yfinance.py:54-60`. */
  def csv(spark: SparkSession, schema: StructType, glob: String): DataFrame =
    spark.read.format("csv")
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .load(glob)

  /** Bytes of the files a scan of `glob` reads, counted in-process
    * with `java.nio` (no Spark job) and stopped once they exceed `limit`;
    * 0 when nothing matches. Each path component may use the glob syntax
    * Spark's readers share with `java.nio` (`*`, `?`, `[..]`, `{a,b}`);
    * a path without one counts the file, or the files under the
    * directory. A path with a URI scheme (`s3a:`, `abfss:`, ...) is not
    * counted here: it counts as `limit`. */
  def globBytes(glob: String, limit: Long = Long.MaxValue): Long = {
    import java.nio.file.{Files, FileSystems, Paths}
    if (glob.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) return limit
    val parts = glob.split("/", -1).toSeq
    val fixed = parts.takeWhile(p => !p.exists("*?[{".contains(_)))
    val pattern = parts.drop(fixed.length)
    val root = Paths.get(if (fixed == Seq("")) "/" else fixed.mkString("/"))
    if (!Files.exists(root)) return 0L
    val matcher = FileSystems.getDefault.getPathMatcher("glob:" + pattern.mkString("/"))
    val walk = Files.walk(root, if (pattern.isEmpty) Int.MaxValue else pattern.size)
    try {
      val files = walk.filter(p => Files.isRegularFile(p) &&
        (pattern.isEmpty || matcher.matches(root.relativize(p)))).iterator
      var bytes = 0L
      while (bytes <= limit && files.hasNext) bytes += Files.size(files.next())
      bytes
    } finally walk.close()
  }

  /** S3 — attach the hidden file-metadata path column.
    * Reference: `ds2b_company_house.py:63` (`_metadata.file_path`; Unity
    * Catalog forbids `input_file_name()` — same hidden column exists in
    * Spark 4's file sources). */
  def withFilePath(df: DataFrame, as: String = "file_path"): DataFrame =
    df.withColumn(as, col("_metadata.file_path"))

  /** Identity-from-path: the reference recovers `company_number` from the
    * raw-zone directory layout, not the payload
    * (`ds2b_company_house.py:64-67`). */
  def withPathIdentity(df: DataFrame, as: String = "company_number",
      pattern: String = "/([0-9A-Z]+)/[^/]+$", pathCol: String = "file_path"): DataFrame =
    df.withColumn(as, regexp_extract(col(pathCol), pattern, 1))

  /** P10 + P2 — config-gated array explode then struct-star flatten.
    * Reference: `ds2b_company_house.py:75-82`; keeps `keep` columns, one
    * output row per array element. */
  def explodeItems(df: DataFrame, arrayCol: String, keep: Seq[String]): DataFrame =
    df.withColumn("exploded", explode(col(arrayCol)))
      .select(keep.map(col) :+ col("exploded.*"): _*)

  /** P1 — audit/watermark column. Reference: `ds2b_company_house.py:87`. */
  def withAudit(df: DataFrame, as: String = "last_updated_ts"): DataFrame =
    df.withColumn(as, current_timestamp())

  /** P4 — sanitize all column names: lowercase, non-alphanumeric runs → `_`.
    * Reference: `medallion/bronze/notebooks/ds2b_yfinance.ipynb` cell-0
    * (`clean_column_names`). */
  def cleanColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(cleanName): _*)

  def cleanName(c: String): String =
    c.toLowerCase.replaceAll("[^a-z0-9]+", "_").stripPrefix("_").stripSuffix("_")
}

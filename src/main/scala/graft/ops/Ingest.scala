package graft.ops

import java.nio.file.{Files, FileSystems, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
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
    json(spark, schema, Input(glob))

  /** [[json]] over an input already expanded. */
  def json(spark: SparkSession, schema: StructType, in: Input): DataFrame =
    read(spark, "json", schema, Map("multiLine" -> "true"), in)

  /** S2 — CSV scan: explicit schema, header, PERMISSIVE (malformed → null).
    * Reference: `medallion/bronze/ds2b_yfinance.py:54-60`. */
  def csv(spark: SparkSession, schema: StructType, glob: String): DataFrame =
    csv(spark, schema, Input(glob))

  /** [[csv]] over an input already expanded. */
  def csv(spark: SparkSession, schema: StructType, in: Input): DataFrame =
    read(spark, "csv", schema, Map("header" -> "true", "mode" -> "PERMISSIVE"), in)

  /** A scan of `in`: of its listed files where it has them, so Spark
    * neither globs again, nor probes the literal glob path for a
    * streaming-sink metadata dir (a probe that fails and logs a WARN
    * with a stack trace per read), nor checks again that each file
    * exists; otherwise of its glob, through Spark's own reader. */
  private def read(spark: SparkSession, format: String, schema: StructType,
      options: Map[String, String], in: Input): DataFrame = in.listed match {
    case Some(files) => Bridge.readListed(spark, format, schema, options, files)
    case None => spark.read.format(format).schema(schema).options(options).load(in.glob)
  }

  /** A scan's input, expanded once in-process with `java.nio` (no Spark
    * job, no Hadoop glob): `glob` as written and the regular files it
    * matches, in path order, or `None` where it is left to Spark. Sizing
    * ([[bytes]]) and the read ([[listed]]) share the one expansion.
    *
    * Each path component may use the glob syntax Spark's readers share
    * with `java.nio` (`*`, `?`, `[..]`, `{a,b}`). A path without it
    * matches the file, or the files under the directory. Left to Spark:
    * a path with a URI scheme (`s3a:`, `abfss:`, ...) and a glob that
    * matches a directory. */
  final case class Input(glob: String, files: Option[Seq[Path]]) {

    /** Bytes of the matched files, stopped once they exceed `limit`; 0
      * when nothing matches, `limit` when the input is left to Spark. */
    def bytes(limit: Long): Long = files.fold(limit) { fs =>
      val it = fs.iterator
      var n = 0L
      while (n <= limit && it.hasNext) n += Files.size(it.next())
      n
    }

    /** The matched files a scan reads in place of `glob`; `None` where
      * `glob` goes to Spark unchanged: it has no glob syntax, matches
      * nothing (Spark's own error stays), is left to Spark, or matches a
      * file whose name Spark would read as a glob. */
    def listed: Option[Seq[String]] = files.collect {
      case fs if fs.nonEmpty && isGlob(glob) && !fs.exists(f => isGlob(f.toString)) =>
        fs.map(_.toString)
    }
  }

  object Input {
    def apply(glob: String): Input = Input(glob, expand(glob))
  }

  private def isGlob(path: String): Boolean = path.exists("*?[]{}\\".contains(_))

  private def expand(glob: String): Option[Seq[Path]] = {
    if (glob.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) return None
    val parts = glob.split("/", -1).toSeq
    val fixed = parts.takeWhile(p => !isGlob(p))
    val pattern = parts.drop(fixed.length)
    val root = Paths.get(if (fixed == Seq("")) "/" else fixed.mkString("/"))
    if (!Files.exists(root)) return Some(Nil)
    val matcher = FileSystems.getDefault.getPathMatcher("glob:" + pattern.mkString("/"))
    val walk = Files.walk(root, if (pattern.isEmpty) Int.MaxValue else pattern.size)
    val hits = try walk.iterator.asScala.filter(p =>
        if (pattern.isEmpty) Files.isRegularFile(p)
        else p != root && matcher.matches(root.relativize(p))).toVector
      finally walk.close()
    if (hits.forall(Files.isRegularFile(_))) Some(hits.sortBy(_.toString)) else None
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

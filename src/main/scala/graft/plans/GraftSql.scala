package graft.plans

import graft.core.TableCatalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructType}

/** SQL surface for the catalog's maintenance operations, through the
  * `injectParser` extension point (beside the functions and optimizer
  * rules `GraftExtensions` injects):
  *
  * {{{
  *   GRAFT VERSIONS <table>                   -- tags + current marker
  *   GRAFT ROLLBACK <table> TO v000002        -- O(1) pointer swap
  *   GRAFT VACUUM <table> KEEP <n>            -- returns deleted tags
  *   GRAFT COMPACT <table>                    -- small-file rewrite
  *   GRAFT PURGE <table> KEY <col> IN (...)   -- GDPR erasure (deletion vector, O(keys))
  *   GRAFT PURGE REWRITE <table>              -- physical erasure pass, clears DVs
  *   GRAFT CLONE <src> TO <dst>               -- zero-copy hardlink clone
  *   GRAFT DESCRIBE <table>                   -- per-version files/bytes/sidecars
  *   GRAFT TABLES                             -- all tables under the catalog root
  *   GRAFT EXPORT <table>                     -- snapshot manifest for external engines
  *   GRAFT ANALYZE <table> COLUMNS (a, b)     -- per-file min/max sidecar
  *   GRAFT ANALYZE BLOOM <table> COLUMN <c>   -- per-file bloom sidecar
  *   GRAFT ANALYZE NDV <table> COLUMNS (a, b) -- per-file HLL-register sidecar
  *   GRAFT NDV <table> COLUMNS (a, b)         -- distinct estimates from metadata
  *   GRAFT OPTIMIZE <t> HILBERT BY (a, b)     -- full curve recluster + layout note
  *   GRAFT OPTIMIZE <t> ZORDER BY (a, b)      -- (same, Morton curve)
  *   GRAFT OPTIMIZE <t>                       -- incremental: recluster appended files only
  *   GRAFT ALTER TABLE t ADD CHECK n (expr)   -- write-time CHECK (batch rejected on violation)
  *   GRAFT ALTER TABLE t ADD EXPECT n (expr) OR DROP  -- drop+count violating rows
  *   GRAFT ALTER TABLE t DROP CONSTRAINT n    -- remove a constraint
  *   GRAFT ALTER TABLE t ADD GENERATED c AS (expr) -- generated column (computed when absent, validated when supplied)
  *   GRAFT CONSTRAINTS t                      -- list declared constraints
  *   GRAFT AUDIT t                            -- current version's dropped-row ledger
  *   GRAFT MAINTAIN t                         -- one maintenance pass: incr-OPTIMIZE + conditional compact + vacuum
  *   GRAFT DRIFT t v000001 v000002            -- per-column profile drift between versions
  *   GRAFT TXNS t                             -- stream-transaction ledger (app -> last applied version)
  *   GRAFT ALTER TABLE t SET ('k' = 'v')      -- table property (e.g. 'schema.mode' = 'strict')
  * }}}
  *
  * The grammar is a prefix dispatch: statements starting with the GRAFT
  * keyword parse here into `LeafRunnableCommand`s (driver-side catalog
  * maintenance — no distributed plan to build, exactly what Spark's own
  * DDL commands are); everything else delegates verbatim to the session
  * parser, so the extension is invisible to normal SQL. Commands resolve
  * table names against the catalog bound via [[GraftSql.use]] (the same
  * session-global registry pattern as the MV rewrite rule).
  */
object GraftSql {
  @volatile private var bound: Option[TableCatalog] = None

  /** Bind the catalog GRAFT commands operate on. */
  def use(cat: TableCatalog): Unit = bound = Some(cat)

  private[plans] def catalog: TableCatalog = bound.getOrElse(
    throw new IllegalStateException(
      "GRAFT SQL: no catalog bound — call GraftSql.use(catalog) first"))

  private val Vacuum =
    """(?is)\s*GRAFT\s+VACUUM\s+(\S+)\s+KEEP\s+(\d+)\s*;?\s*""".r
  private val Rollback =
    """(?is)\s*GRAFT\s+ROLLBACK\s+(\S+)\s+TO\s+(v\d{6})\s*;?\s*""".r
  private val Versions =
    """(?is)\s*GRAFT\s+VERSIONS\s+(\S+)\s*;?\s*""".r
  private val Compact =
    """(?is)\s*GRAFT\s+COMPACT\s+(\S+)\s*;?\s*""".r
  private val Purge =
    """(?is)\s*GRAFT\s+PURGE\s+(\S+)\s+KEY\s+(\w+)\s+IN\s*\(([^)]*)\)\s*;?\s*""".r
  private val PurgeRewrite =
    """(?is)\s*GRAFT\s+PURGE\s+REWRITE\s+(\S+)\s*;?\s*""".r
  // BLOOM before the plain form: both start with ANALYZE
  private val Clone =
    """(?is)\s*GRAFT\s+CLONE\s+(\S+)\s+TO\s+(\S+)\s*;?\s*""".r
  private val Describe =
    """(?is)\s*GRAFT\s+DESCRIBE\s+(\S+)\s*;?\s*""".r
  private val Tables =
    """(?is)\s*GRAFT\s+TABLES\s*;?\s*""".r
  private val AnalyzeBloom =
    """(?is)\s*GRAFT\s+ANALYZE\s+BLOOM\s+(\S+)\s+COLUMN\s+(\w+)\s*;?\s*""".r
  // NDV form before the bare form: both start with ANALYZE
  private val AnalyzeNdv =
    """(?is)\s*GRAFT\s+ANALYZE\s+NDV\s+(\S+)\s+COLUMNS\s*\(([^)]*)\)\s*;?\s*""".r
  private val Ndv =
    """(?is)\s*GRAFT\s+NDV\s+(\S+)\s+COLUMNS\s*\(([^)]*)\)\s*;?\s*""".r
  private val Analyze =
    """(?is)\s*GRAFT\s+ANALYZE\s+(\S+)\s+COLUMNS\s*\(([^)]*)\)\s*;?\s*""".r
  // curve form before the bare form: both start with OPTIMIZE
  private val OptimizeBy =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+(\S+)\s+(ZORDER|HILBERT)\s+BY\s*\(([^)]*)\)\s*;?\s*""".r
  private val Optimize =
    """(?is)\s*GRAFT\s+OPTIMIZE\s+(\S+)\s*;?\s*""".r
  // constraint DDL: the expr capture is greedy to the LAST ')' so nested
  // parens inside the check expression survive
  private val AddCheck =
    """(?is)\s*GRAFT\s+ALTER\s+TABLE\s+(\S+)\s+ADD\s+CHECK\s+(\w+)\s*\((.+)\)\s*;?\s*""".r
  private val AddExpectDrop =
    """(?is)\s*GRAFT\s+ALTER\s+TABLE\s+(\S+)\s+ADD\s+EXPECT\s+(\w+)\s*\((.+)\)\s+OR\s+DROP\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*GRAFT\s+ALTER\s+TABLE\s+(\S+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val AddGenerated =
    """(?is)\s*GRAFT\s+ALTER\s+TABLE\s+(\S+)\s+ADD\s+GENERATED\s+(\w+)\s+AS\s*\((.+)\)\s*;?\s*""".r
  private val Constraints =
    """(?is)\s*GRAFT\s+CONSTRAINTS\s+(\S+)\s*;?\s*""".r
  private val Audit =
    """(?is)\s*GRAFT\s+AUDIT\s+(\S+)\s*;?\s*""".r
  private val Maintain =
    """(?is)\s*GRAFT\s+MAINTAIN\s+(\S+)\s*;?\s*""".r
  private val Drift =
    """(?is)\s*GRAFT\s+DRIFT\s+(\S+)\s+(\S+)\s+(\S+)\s*;?\s*""".r
  private val Txns =
    """(?is)\s*GRAFT\s+TXNS\s+(\S+)\s*;?\s*""".r
  private val Properties =
    """(?is)\s*GRAFT\s+PROPERTIES\s+(\S+)\s*;?\s*""".r
  private val SetProperty =
    """(?is)\s*GRAFT\s+ALTER\s+TABLE\s+(\S+)\s+SET\s+\(\s*'([^']+)'\s*=\s*'([^']*)'\s*\)\s*;?\s*""".r
  private val Export =
    """(?is)\s*GRAFT\s+EXPORT\s+(\S+)\s*;?\s*""".r
  private val GraftPrefix = """(?is)\s*GRAFT\b.*""".r

  /** One purge value: single-quoted ('' escapes a quote) → String,
    * bare integer → Long. */
  private def purgeValue(s: String): Any = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
    else t.toLong
  }

  private[plans] def parse(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case Vacuum(t, n) => Some(GraftVacuumCommand(t, n.toInt))
      case Rollback(t, v) => Some(GraftRollbackCommand(t, v))
      case Versions(t) => Some(GraftVersionsCommand(t))
      case Compact(t) => Some(GraftCompactCommand(t))
      case PurgeRewrite(t) => Some(GraftPurgeRewriteCommand(t))
      case Purge(t, c, vs) =>
        Some(GraftPurgeCommand(t, c,
          vs.split(',').map(purgeValue).toSeq))
      case Clone(s, t) => Some(GraftCloneCommand(s, t))
      case Describe(t) => Some(GraftDescribeCommand(t))
      case Tables() => Some(GraftTablesCommand())
      case AnalyzeBloom(t, c) => Some(GraftAnalyzeBloomCommand(t, c))
      case AnalyzeNdv(t, cs) =>
        Some(GraftAnalyzeNdvCommand(t,
          cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case Ndv(t, cs) =>
        Some(GraftNdvCommand(t,
          cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case Analyze(t, cs) =>
        Some(GraftAnalyzeCommand(t,
          cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case OptimizeBy(t, curve, cs) =>
        Some(GraftOptimizeByCommand(t, curve.toLowerCase,
          cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case Optimize(t) => Some(GraftOptimizeCommand(t))
      case AddExpectDrop(t, n, e) =>
        Some(GraftAddConstraintCommand(t, n, "EXPECT_DROP", e.trim))
      case AddCheck(t, n, e) =>
        Some(GraftAddConstraintCommand(t, n, "CHECK", e.trim))
      case AddGenerated(t, c, e) =>
        Some(GraftAddGeneratedCommand(t, c, e.trim))
      case DropConstraint(t, n) => Some(GraftDropConstraintCommand(t, n))
      case Constraints(t) => Some(GraftConstraintsCommand(t))
      case Audit(t) => Some(GraftAuditCommand(t))
      case Maintain(t) => Some(GraftMaintainCommand(t))
      case Drift(t, v1, v2) => Some(GraftDriftCommand(t, v1, v2))
      case Txns(t) => Some(GraftTxnsCommand(t))
      case Export(t) => Some(GraftExportCommand(t))
      case SetProperty(t, k, v) => Some(GraftSetPropertyCommand(t, k, v))
      case Properties(t) => Some(GraftPropertiesCommand(t))
      case GraftPrefix() => throw new IllegalArgumentException(
        s"""Unrecognized GRAFT statement: $sqlText
           |Supported: GRAFT VERSIONS t | GRAFT ROLLBACK t TO vNNNNNN |
           |GRAFT VACUUM t KEEP n | GRAFT COMPACT t |
           |GRAFT PURGE t KEY col IN (v, ...) | GRAFT PURGE REWRITE t |
           |GRAFT CLONE src TO dst | GRAFT DESCRIBE t | GRAFT TABLES |
           |GRAFT ANALYZE t COLUMNS (a, b) |
           |GRAFT ANALYZE BLOOM t COLUMN c |
           |GRAFT ANALYZE NDV t COLUMNS (a, b) | GRAFT NDV t COLUMNS (a, b) |
           |GRAFT OPTIMIZE t [ZORDER|HILBERT BY (a, b)] |
           |GRAFT ALTER TABLE t ADD CHECK name (expr) |
           |GRAFT ALTER TABLE t ADD EXPECT name (expr) OR DROP |
           |GRAFT ALTER TABLE t DROP CONSTRAINT name |
           |GRAFT ALTER TABLE t ADD GENERATED col AS (expr) |
           |GRAFT CONSTRAINTS t | GRAFT AUDIT t | GRAFT MAINTAIN t |
           |GRAFT ALTER TABLE t SET ('key' = 'value') | GRAFT PROPERTIES t |
           |GRAFT EXPORT t""".stripMargin)
      case _ => None
    }
}

/** Delegating parser: GRAFT statements parse here, all other methods and
  * statements pass straight through to the session parser. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSql.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    GraftSql.parse(sqlText)
      .getOrElse(delegate.parsePlanWithParameters(sqlText, ctx))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

case class GraftVersionsCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", StringType, nullable = false)(),
    AttributeReference("is_current", BooleanType, nullable = false)(),
    AttributeReference("commit_ts", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = GraftSql.catalog
    val cur = java.nio.file.Paths.get(cat.currentPath(table))
      .getFileName.toString
    cat.versions(table).map(v => Row(v, v == cur, cat.commitTs(table, v)))
  }
}

case class GraftTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.listTables().map(Row(_))
}

case class GraftDescribeCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", StringType, nullable = false)(),
    AttributeReference("is_current", BooleanType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("sidecars", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.describe(table).map { case (v, cur, nf, b, sc) =>
      Row(v, cur, nf, b, sc.mkString(","))
    }
}

case class GraftDriftCommand(table: String, vFrom: String, vTo: String)
    extends LeafRunnableCommand {
  private val longs = Seq("rows_from", "nulls_from", "distinct_from",
    "rows_to", "nulls_to", "distinct_to")
  private val doubles = Seq("min_num_from", "max_num_from",
    "min_num_to", "max_num_to")
  override val output: Seq[Attribute] =
    AttributeReference("column", StringType, nullable = false)() +:
      (longs.map(n => AttributeReference(n, LongType, nullable = true)()) ++
        doubles.map(n => AttributeReference(n, DoubleType, nullable = true)()))
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.profileDrift(spark, table, vFrom, vTo)
      .selectExpr(("column" +: (longs ++ doubles)): _*)
      .collect().toSeq // O(#columns) rows — driver-side by design
}

case class GraftTxnsCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("app", StringType, nullable = false)(),
    AttributeReference("last_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.txns(table).map { case (a, v) => Row(a, v) }
}

case class GraftRollbackCommand(table: String, version: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.rollback(table, version); Seq.empty
  }
}

case class GraftVacuumCommand(table: String, keep: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("deleted", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.vacuum(table, keep).map(Row(_))
}

case class GraftCompactCommand(table: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.compact(spark, table); Seq.empty
  }
}
/** Snapshot-manifest export ([[graft.core.TableCatalog.exportManifest]]):
  * returns the manifest path so clients can hand it to an external
  * engine. Refuses while deletion vectors are pending. */
case class GraftExportCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("manifest", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftSql.catalog.exportManifest(spark, table).toString))
}

case class GraftCloneCommand(source: String, target: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.clone(source, target); Seq.empty
  }
}

case class GraftPurgeCommand(table: String, keyCol: String, keys: Seq[Any])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.purgeKeys(spark, table, keyCol, keys); Seq.empty
  }
}

/** Physical erasure pass — the deferred half of GRAFT PURGE. */
case class GraftPurgeRewriteCommand(table: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.purgeRewrite(spark, table); Seq.empty
  }
}

case class GraftAnalyzeCommand(table: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.analyze(spark, table, cols); Seq.empty
  }
}

case class GraftAnalyzeBloomCommand(table: String, column: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.analyzeBloom(spark, table, column); Seq.empty
  }
}

/** Build the `_ndv` HLL-register sidecar (ANALYZE ... COMPUTE NDV). */
case class GraftAnalyzeNdvCommand(table: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.analyzeNdv(spark, table, cols); Seq.empty
  }
}

/** Read distinct-count estimates from the `_ndv` sidecar — metadata
  * only, no data scan; columns without statistics are omitted. */
case class GraftNdvCommand(table: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("ndv_estimate", DoubleType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val est = GraftSql.catalog.ndvEstimate(spark, table, cols)
    cols.flatMap(c => est.get(c).map(e => Row(c, e)))
  }
}

/** Full curve recluster + `_layout` note (Delta `OPTIMIZE … ZORDER BY`). */
case class GraftOptimizeByCommand(table: String, curve: String,
    cols: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.optimize(spark, table, cols, curve); Seq.empty
  }
}

/** Incremental OPTIMIZE: recluster only files appended since the last
  * optimize; reports how many files were rewritten (0 = already tight). */
case class GraftOptimizeCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rewritten_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftSql.catalog.optimizeIncremental(spark, table).toLong))
}

/** Constraint DDL (Delta `ADD CONSTRAINT` / DLT `expect_or_drop`). */
case class GraftAddConstraintCommand(table: String, cname: String,
    kind: String, expr: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (kind == "CHECK") GraftSql.catalog.addCheck(spark, table, cname, expr)
    else GraftSql.catalog.addExpectDrop(spark, table, cname, expr)
    Seq.empty
  }
}

case class GraftAddGeneratedCommand(table: String, col: String,
    expr: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.setGeneratedColumn(spark, table, col, expr)
    Seq.empty
  }
}

case class GraftDropConstraintCommand(table: String, cname: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.dropConstraint(table, cname); Seq.empty
  }
}

case class GraftConstraintsCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("expr", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.constraints(table).map { case (n, k, e) => Row(n, k, e) }
}

/** One table-maintenance pass (incremental OPTIMIZE → conditional
  * small-file compaction → retention vacuum) with an audit row per step. */
case class GraftMaintainCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("action", StringType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.maintain(spark, table).map { case (a, d) => Row(a, d) }
}

/** Table property (TBLPROPERTIES analogue; `schema.mode` governs
  * append-time schema evolution). */
case class GraftSetPropertyCommand(table: String, key: String, value: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSql.catalog.setProperty(table, key, value); Seq.empty
  }
}

case class GraftPropertiesCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.properties(table).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** Per-version expectation ledger: dropped-row counts for the current
  * version's EXPECT … OR DROP constraints. */
case class GraftAuditCommand(table: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint", StringType, nullable = false)(),
    AttributeReference("dropped", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSql.catalog.audit(table).map { case (n, c) => Row(n, c) }
}

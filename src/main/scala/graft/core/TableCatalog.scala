package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem-backed table catalog.
  *
  * The reference registers every table in a three-level Unity Catalog
  * namespace `` `catalog`.schema.table `` and persists as Delta
  * (`medallion/bronze/ds2b_company_house.py:91-97`). This runtime has no
  * Delta jars and no metastore, so the catalog is a façade mapping the
  * same three-level names to Parquet directories, with *versioned
  * overwrite* standing in for Delta's ACID rewrite: a new version is
  * written to `<table>/v=<n+1>` and a `_CURRENT` pointer file is swapped
  * atomically, because Spark cannot overwrite a Parquet path it is
  * currently reading (SURVEY.md §7.4 "Delta MERGE without Delta").
  *
  * Concurrency: the reference serializes writers externally
  * (maxConcurrentRuns=1 orchestration, `aws/ch_ingest_company_overview_raw
  * .json`); this catalog instead commits under a per-table filesystem
  * lock with data staged outside it (see [[withCommitLock]]), so
  * concurrent appends from independent jobs all publish — none is a
  * lost update — and maintenance ops abort-and-retry on conflict,
  * Delta-style optimistic concurrency on plain files.
  *
  * Retention horizon: automatic write-time pruning keeps the last 2
  * versions PLUS any version superseded less than `retentionMinAgeMs`
  * ago (default 10 min) — the `deletedFileRetentionDuration` posture.
  * Without the grace, a [[snapshot]] reader racing a fast writer loses
  * its pinned version's files after just two publishes mid-read
  * (FAILED_READ_FILE.FILE_NOT_EXIST — caught live by
  * CatalogConcurrencySpec under gate load in r11); with it, any reader
  * that resolves a version has at least the grace window to finish.
  * Explicit `GRAFT VACUUM` / [[vacuum]] remains an operator override
  * with no grace, like Delta VACUUM with a reduced retention check.
  */
final class TableCatalog(val root: String,
    val retentionMinAgeMs: Long = 600000L) extends Serializable {

  private def tableDir(name: String): Path =
    Paths.get(root, name.replace("`", "").split('.').mkString("/"))

  private def currentPointer(name: String): Path = tableDir(name).resolve("_CURRENT")

  def exists(name: String): Boolean = Files.exists(currentPointer(name))

  /** Every table under this catalog root (directories holding a
    * `_CURRENT` pointer), as dotted names — the catalog-browse metadata
    * walk behind `GRAFT TABLES`. Driver-side, genuinely O(#dirs): the
    * recursion prunes at each table root (a `_CURRENT` marker) instead
    * of descending into version/data subtrees, so a large catalog costs
    * one directory listing per namespace level + table, never a
    * full-tree file walk. */
  def listTables(): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def visit(d: Path, parts: List[String]): Unit = {
      val entries = Option(d.toFile.listFiles()).getOrElse(Array.empty)
      if (entries.exists(f => f.isFile && f.getName == "_CURRENT")) {
        if (parts.nonEmpty) out += parts.reverse.mkString(".")
      } else entries.filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).foreach(f => visit(f.toPath, f.getName :: parts))
    }
    visit(rootPath, Nil)
    out.sorted.toSeq
  }

  def currentPath(name: String): String = {
    val cur = Files.readString(currentPointer(name)).trim
    // Effective version = max(per-table pointer, multi-table commit
    // entry): in the window between [[publishAtomic]]'s single commit
    // file swap and its per-table pointer convergence, readers AND
    // writers (append base resolution!) must already see the committed
    // version — otherwise a racing append would base on stale data and
    // publish a higher version without the committed rows (lost update).
    // v%06d tags compare correctly as strings. A rolled-back table never
    // resolves through a stale entry: [[swapPointer]] deletes any
    // differing entry on every single-table publish.
    val eff = multiCurrent().get(name)
      .filter(v => v > cur && Files.isDirectory(tableDir(name).resolve(v)))
      .getOrElse(cur)
    tableDir(name).resolve(eff).toString
  }

  // --------------------------------------- multi-table atomic commit
  /** The catalog-level commit file behind [[publishAtomic]]: one file of
    * `table\tversion` lines, replaced only by ATOMIC_MOVE — the single
    * object whose swap makes an N-table publish all-or-nothing. The
    * medallion pipeline's sequential silver→gold publish (reference
    * main.py:32-38) exposes new silver with stale gold between the two
    * swaps; one commit file closes that window for snapshot readers. */
  private def multiCurrentFile: Path = Paths.get(root).resolve("_MULTI_CURRENT")

  private[core] def multiCurrent(): Map[String, String] = {
    if (!Files.isRegularFile(multiCurrentFile)) return Map.empty
    import scala.jdk.CollectionConverters._
    scala.util.Try {
      Files.readAllLines(multiCurrentFile).asScala.filter(_.contains('\t'))
        .map { l => val a = l.split("\t", 2); (a(0), a(1)) }.toMap
    }.getOrElse(Map.empty)
  }

  private def writeMultiCurrent(entries: Map[String, String]): Unit = {
    val tmp = Paths.get(root).resolve("_MULTI_CURRENT.tmp")
    Files.writeString(tmp, entries.toSeq.sortBy(_._1)
      .map { case (t, v) => s"$t\t$v" }.mkString("", "\n", "\n"))
    Files.move(tmp, multiCurrentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish N tables in ONE atomic commit. Data for every table stages
    * and claims its version slot first (per-table commit locks — the
    * same slot protocol as single-table writes, so concurrent writers
    * never collide), with nothing published; then a single ATOMIC_MOVE
    * of [[multiCurrentFile]] commits the whole set at once. A
    * [[snapshot]] reader resolves every table through ONE read of that
    * file, so it observes either the complete old set or the complete
    * new set — never new silver with stale gold. Per-table `_CURRENT`
    * pointers converge right after (a semantic no-op: [[currentPath]]
    * already resolves committed entries), keeping plain readers and
    * external tools on the ordinary pointer protocol. The frames stage
    * concurrently and fail as in [[publishAtomicChained]], whose body
    * this is with constant builds. */
  def publishAtomic(batches: Seq[(String, DataFrame)]): Map[String, String] =
    if (batches.isEmpty) Map.empty
    else publishAtomicChained(batches.head._2.sparkSession,
      batches.map { case (name, df) => TableCatalog.ChainedBatch(name, _ => df) })

  /** [[publishAtomic]] for DERIVED layers (the medallion silver→gold
    * dependency): each batch is a function of a resolver that reads
    * tables staged EARLIER in the same transaction from their staged
    * parquet — so gold is computed from the exact silver bytes this
    * commit will publish, without publishing silver early and without
    * recomputing the silver lineage. Any other name, including one
    * staged LATER in the transaction, resolves through the live catalog
    * (e.g. an SCD2 merge base = pre-transaction state).
    *
    * Every staged read and every lane runs on `spark`, so a caller that
    * picked a session for the transaction (see [[Sessions.forInput]])
    * plans all of it on that session.
    *
    * Phase 1 stages the batches concurrently on [[Lanes]] (lane count
    * `max(1, min(batches, defaultParallelism / 2))`), taken in batch
    * order. Every batch has a promise of its staged directory; a
    * resolver call for an earlier batch's name waits on that promise, so
    * a batch waits only on lower indexes and the bounded lanes cannot
    * deadlock. Phases 2–4 stay sequential in batch order: claim version
    * slots, ONE ATOMIC_MOVE of the commit file that publishes the whole
    * chain, then per-table pointer convergence — so version numbers are
    * claimed in batch order, as before.
    *
    * Failure while staging: batches not yet started are skipped, the
    * in-flight ones finish, every stage directory this transaction made
    * is deleted, and the first failure in batch order is rethrown.
    * Nothing is published. A failure in Phases 2–4 before the commit
    * swap leaves only unreferenced version dirs — nothing torn.
    *
    * Scale shape: staging IS the full write cost (same as committing
    * each layer separately); the added cost is only metadata. Each
    * staged layer is a materialization barrier, so a 1000-executor run
    * writes silver once and reads it back for gold — no double compute,
    * and the commit swap is a single rename regardless of data size. */
  def publishAtomicChained(spark: SparkSession,
      batches: Seq[TableCatalog.ChainedBatch]): Map[String, String] = {
    require(batches.map(_.name).distinct.size == batches.size,
      "publishAtomicChained: duplicate table names in one transaction")
    val index = batches.map(_.name).zipWithIndex.toMap
    val promises = batches.map(_ => Promise[Path]())
    val stages = new ConcurrentLinkedQueue[Path]
    // Phase 1 — stage every batch OUTSIDE any lock (the expensive part).
    val staged = try Lanes.run(spark, batches.zipWithIndex.map { case (b, i) => b.name -> { () =>
      def resolver(n: String): DataFrame = index.get(n).filter(_ < i) match {
        case Some(j) => readParquet(spark, Await.result(promises(j).future, Duration.Inf))
        case None => read(spark, n)
      }
      val dir = tableDir(b.name)
      val stage = newStageDir(dir)
      stages.add(stage)
      try {
        Files.createDirectories(dir)
        val (dfGen, genChecks) = applyGenerated(b.build(resolver), b.name)
        val (guarded, guard) = guardConstraints(dfGen, b.name, genChecks)
        writeParquet(guarded, stage, b.partitionBy)
        enforceConstraints(guard, b.name, stage)
      } catch { case e: Throwable => promises(i).failure(e); throw e }
      promises(i).success(stage)
      (b.name, dir, stage)
    }}) catch { case e: Throwable =>
      stages.forEach(s => scala.util.Try(deleteRecursively(s)))
      throw e
    }
    // Phase 2 — claim version slots (short per-table critical sections).
    val claimed = staged.map { case (name, dir, stage) =>
      withCommitLock(dir) {
        val v = "v%06d".format(nextVersion(dir))
        Files.move(stage, dir.resolve(v), StandardCopyOption.ATOMIC_MOVE)
        val ts = dir.resolve(v).resolve("_commit_ts")
        if (!Files.exists(ts))
          Files.writeString(ts, System.currentTimeMillis().toString)
        name -> v
      }
    }
    // Phase 3 — THE commit: one file swap under the catalog-root lock.
    withCommitLock(Paths.get(root)) {
      writeMultiCurrent(multiCurrent() ++ claimed)
    }
    // Phase 4 — converge per-table pointers (+ bounded version pruning).
    claimed.foreach { case (name, v) =>
      val dir = tableDir(name)
      withCommitLock(dir) { repoint(dir, name, v) }
    }
    claimed.toMap
  }

  /** Consistent multi-table read handle: pins the table→version map from
    * ONE atomic read of the commit file, so every table read through it
    * comes from the same [[publishAtomic]] transaction. Tables never
    * published atomically fall back to their live pointer. Version dirs
    * it pins are protected from pruning (see [[pruneOldVersions]]) for
    * as long as they remain in the commit file. */
  final class Snapshot private[TableCatalog] (pins: Map[String, String]) {
    def version(name: String): Option[String] = pins.get(name)
    def read(spark: SparkSession, name: String): DataFrame =
      pins.get(name).filter(v =>
          Files.isDirectory(tableDir(name).resolve(v))) match {
        case Some(v) => applyTombstones(readParquet(spark, tableDir(name).resolve(v)), name)
        case None => TableCatalog.this.read(spark, name)
      }
  }

  def snapshot(): Snapshot = new Snapshot(multiCurrent())

  def read(spark: SparkSession, name: String): DataFrame =
    applyTombstones(readParquet(spark, Paths.get(currentPath(name))), name)

  // ------------------------------------------------- deletion vectors
  /** Parsed `_tombstones` sidecar rows: (keyCol, type tag, value). The
    * table-level deletion-vector store behind [[purgeKeys]]: one line
    * per erased key, applied as a residual filter on EVERY read path
    * (current, time travel, pruned scans) until [[purgeRewrite]]
    * physically erases and clears it. */
  private def readTombstones(name: String): Seq[(String, String, String)] = {
    val p = tableDir(name).resolve("_tombstones")
    if (!Files.isRegularFile(p)) return Nil
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val Array(c, t, v) = line.split('\u0001')
      (c, t, v)
    }
  }

  /** NOT-IN residual over the tombstoned keys, restricted to key
    * columns `cols` actually has (a version written before an ALTER ADD
    * COLUMN cannot hold the subject under a column it lacks). Null keys
    * are explicitly preserved: `k NOT IN (…)` alone is NULL — i.e.
    * dropped — for null `k`, which would silently erase every
    * null-keyed row. */
  private def tombstoneFilter(name: String,
      cols: Set[String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    val byCol = readTombstones(name).groupBy(_._1)
      .filter { case (c, _) => cols.contains(c) }
    if (byCol.isEmpty) None
    else Some(byCol.map { case (c, ts) =>
      val vs: Seq[Any] = ts.map {
        case (_, "long", v) => v.toLong
        case (_, _, v) => v
      }
      col(c).isNull || !col(c).isin(vs: _*)
    }.reduce(_ && _))
  }

  /** Apply the table's deletion vectors to a frame read from any of its
    * versions — the read-time half of the merge-on-read purge. */
  private def applyTombstones(df: DataFrame, name: String): DataFrame =
    tombstoneFilter(name, df.columns.toSet).map(df.filter).getOrElse(df)

  /** Register the table's CURRENT version as a SQL temp view (dots in
    * the 3-level name become underscores — temp views are single-level).
    * The view binds to the version current at registration: a pointer
    * swap after an overwrite needs re-registration to become visible,
    * which is the read-consistency contract a long-running report wants
    * (no mid-query version tear). */
  def registerView(spark: SparkSession, name: String): String = {
    val viewName = name.replace('.', '_')
    read(spark, name).createOrReplaceTempView(viewName)
    viewName
  }

  /** Exactly a version tag (v + 6 digits): staging/trash dirs from an
    * interrupted purge or swap (`v000001.purging`, `v000001.stale`) must
    * never surface as readable versions. */
  private def isVersionTag(s: String): Boolean =
    s.length == 7 && s.charAt(0) == 'v' && s.drop(1).forall(_.isDigit)

  /** Retained version tags, oldest first (pruning keeps the newest 2 —
    * the Delta-time-travel analogue bounded by the retention policy). */
  def versions(name: String): Seq[String] =
    Option(tableDir(name).toFile.list()).getOrElse(Array.empty[String])
      .filter(isVersionTag).sorted.toSeq

  /** Per-version metadata: (version, isCurrent, nDataFiles, dataBytes,
    * sidecar names present). Driver-side directory walk, O(#files)
    * metadata only — the audit/ops view behind `GRAFT DESCRIBE`. The
    * sidecar list shows `_schema` (see [[writeParquet]]): a version
    * without it was written before the catalog recorded schemas, or by
    * another tool, and reads through schema inference. */
  def describe(name: String): Seq[(String, Boolean, Long, Long, Seq[String])] = {
    val cur = Paths.get(currentPath(name)).getFileName.toString
    versions(name).map { v =>
      val dir = tableDir(name).resolve(v)
      val (nFiles, bytes) = census(dir)
      // sidecars: metadata artifacts only — job markers are noise here
      val sidecars = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("_") && f.getName != "_SUCCESS")
        .map(_.getName).sorted.toSeq
      (v, v == cur, nFiles, bytes, sidecars)
    }
  }

  /** Data bytes of `name`'s current version (0 when the table does not
    * exist), counted by [[census]] and stopped once they exceed `limit`:
    * the size of a table as a reader of it will scan it, from metadata
    * alone, with no Spark job. */
  def currentBytes(name: String, limit: Long): Long =
    if (!exists(name)) 0L else census(Paths.get(currentPath(name)), limit)._2

  /** The data census of one version dir: (data files, data bytes). It
    * recurses, because partitioned versions keep data files under
    * col=value subdirs. Any _- or .-prefixed path segment (sidecar dirs,
    * `_SUCCESS`, a crashed write's `_temporary`) excludes the file. The
    * walk stops once the bytes exceed `limit`. */
  private def census(dir: Path, limit: Long = Long.MaxValue): (Long, Long) = {
    var nFiles = 0L
    var bytes = 0L
    val walk = Files.walk(dir)
    try {
      val files = walk.filter(Files.isRegularFile(_)).iterator
      while (bytes <= limit && files.hasNext) {
        val f = files.next()
        val rel = dir.relativize(f)
        val hidden = (0 until rel.getNameCount).exists { i =>
          val n = rel.getName(i).toString
          n.startsWith("_") || n.startsWith(".")
        }
        if (!hidden) { nFiles += 1; bytes += Files.size(f) }
      }
    } finally walk.close()
    (nFiles, bytes)
  }

  /** Time travel: read a specific retained version (as-of-write state —
    * the rollback/debug/audit read path every versioned store needs). */
  def readVersion(spark: SparkSession, name: String, version: String): DataFrame = {
    require(versions(name).contains(version),
      s"version $version of $name not retained (have: ${versions(name)})")
    // deletion vectors are table-level: an erased subject is gone from
    // time travel too, immediately — logical erasure must not be
    // escapable by reading an older version
    applyTombstones(readParquet(spark, tableDir(name).resolve(version)), name)
  }

  // ------------------------------------------- time travel AS OF time
  /** Commit time (epoch millis) of a retained version: the `_commit_ts`
    * marker stamped at first publish, falling back to the directory
    * mtime for versions predating the marker (or clones that didn't
    * carry it). */
  def commitTs(name: String, version: String): Long = {
    val v = tableDir(name).resolve(version)
    val m = v.resolve("_commit_ts")
    if (Files.isRegularFile(m)) Files.readString(m).trim.toLong
    else Files.getLastModifiedTime(v).toMillis
  }

  /** Delta `TIMESTAMP AS OF` analogue: read the LATEST retained version
    * committed at or before `tsMillis` — so "what did this table say
    * when yesterday's report ran" is answerable without knowing version
    * numbers. Same deletion-vector semantics as [[readVersion]] (logical
    * erasure is not escapable through time travel); versions already
    * vacuumed are not resolvable — retention bounds the travel horizon,
    * and a timestamp older than every retained version fails loudly
    * rather than silently serving newer data. */
  def readAsOf(spark: SparkSession, name: String, tsMillis: Long): DataFrame = {
    val vs = versions(name)
    val pick = vs.filter(v => commitTs(name, v) <= tsMillis)
    require(pick.nonEmpty,
      s"no retained version of $name committed at or before $tsMillis " +
        s"(earliest: ${vs.headOption.map(v => s"$v @ ${commitTs(name, v)}").getOrElse("none")})")
    readVersion(spark, name, pick.last)
  }

  // ------------------------------------------------ table properties
  private def propertiesFile(name: String): Path =
    tableDir(name).resolve("_properties")

  /** Table-level key=value properties (the Delta TBLPROPERTIES
    * analogue). Known key: `schema.mode` = `strict` (appends with a
    * drifted schema are REJECTED instead of taking the null-padded
    * union-rewrite evolution path — the production posture once a
    * silver schema is contractual) | `evolve` (default). */
  def properties(name: String): Map[String, String] = {
    val p = propertiesFile(name)
    if (!Files.isRegularFile(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
      }.toMap
    }
  }

  def setProperty(name: String, key: String, value: String): Unit = {
    require(!key.contains('=') && !key.contains('\n') && !value.contains('\n'),
      "property key/value must not contain '=' (key) or newlines")
    Files.createDirectories(tableDir(name))
    val next = properties(name) + (key -> value)
    Files.writeString(propertiesFile(name),
      next.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n"))
  }

  def removeProperty(name: String, key: String): Unit = {
    val next = properties(name) - key
    Files.writeString(propertiesFile(name),
      next.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n"))
  }

  // --------------------------------------------- column masking policies
  /** Read the table with `mask.<col>` property policies applied — the
    * dynamic-masking governance layer (Databricks column masks / Snowflake
    * masking policies): the table owner sets a policy once, every policy-
    * aware read path gets redacted values, and the physical data is
    * untouched (unmasked reads remain possible for privileged paths —
    * this is display-layer governance, not erasure; erasure is
    * [[purgeKeys]]). Policies: `sha256` (deterministic pseudonym — joins
    * and GROUP BY still work on the masked value), `nullify` (type-
    * preserving NULL), `last4` (show only the last 4 characters). An
    * unknown policy or a policy on a missing column fails LOUDLY at read
    * time — silently returning unmasked data is the one wrong behavior.
    * Masks are per-row projection expressions (codegen'd, zero shuffle). */
  def readMasked(spark: SparkSession, name: String): DataFrame =
    readMaskedFrom(read(spark, name), properties(name).toSeq.collect {
      case (k, v) if k.startsWith("mask.") => k.stripPrefix("mask.") -> v
    })

  /** Governed read for a principal: [[readMasked]]'s column policies
    * PLUS a row-level-security predicate — the row-filter half of the
    * governance plane (Unity/Snowflake-style row access policies,
    * rebuilt as table properties). Resolution order: `rls.<principal>`
    * if set, else `rls.default` if set, else no row filter. The
    * predicate is a SQL boolean over table columns with `${principal}`
    * substituted (per-tenant isolation in one shared policy:
    * `tenant = '${principal}'`). A predicate referencing a missing
    * column fails LOUDLY at read time, same posture as masks — and it
    * is applied BEFORE masking, so a policy may filter on a column the
    * same principal only sees masked.
    *
    * Scale shape: the filter is a per-row predicate pushed into the
    * scan like any user filter (partition pruning and file skipping
    * apply to it); zero shuffle, zero data rewrite — policy changes are
    * metadata-only. */
  def readAs(spark: SparkSession, name: String, principal: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val props = properties(name)
    val policy = props.get(s"rls.$principal").orElse(props.get("rls.default"))
    val base = read(spark, name)
    val filtered = policy match {
      case Some(p) =>
        // The principal is NEVER spliced into the SQL text: the policy is
        // parsed with `${principal}` rewritten to a reserved string
        // literal, and the principal value lands post-parse as a Literal
        // node — so a principal like `x' OR '1'='1` is data, not syntax,
        // and cannot rewrite the policy predicate.
        val marker = "graft.rls.principal"
        val sql = p
          .replace("'${principal}'", s"'$marker'")
          .replace("${principal}", s"'$marker'")
        // parse eagerly (classic `expr` defers to a lazy SqlExpression
        // node) so a policy referencing columns the table lacks fails
        // loudly HERE, not as a generic analysis error downstream
        val parsed0 = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.sqlParser.parseExpression(sql)
        val parsed = parsed0.transform {
          case lit @ org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null && v.toString.contains(marker) =>
            org.apache.spark.sql.catalyst.expressions.Literal(
              v.toString.replace(marker, principal))
        }
        parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }.foreach { c =>
          require(base.columns.exists(_.equalsIgnoreCase(c)),
            s"rls policy on $name references unknown column: $c")
        }
        base.filter(org.apache.spark.sql.graft.Bridge.column(parsed))
      case None => base
    }
    val masks = props.toSeq.collect {
      case (k, v) if k.startsWith("mask.") => k.stripPrefix("mask.") -> v
    }
    if (masks.isEmpty) filtered
    else readMaskedFrom(filtered, masks)
  }

  /** Apply mask policies to an already-resolved frame (shared by
    * [[readMasked]]-style flows that start from a governed base). */
  private def readMaskedFrom(df: DataFrame,
      masks: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.functions._
    masks.foldLeft(df) { case (d, (c, policy)) =>
      require(d.columns.contains(c), s"mask policy on unknown column: $c")
      val masked = policy match {
        case "sha256" => sha2(col(c).cast("string"), 256)
        case "nullify" => lit(null).cast(d.schema(c).dataType)
        case "last4" => expr(
          s"CASE WHEN length($c) <= 4 THEN $c " +
            s"ELSE concat(repeat('*', length($c) - 4), right($c, 4)) END")
        case other => throw new IllegalArgumentException(
          s"unknown mask policy '$other' for column $c")
      }
      d.withColumn(c, masked)
    }
  }

  // ---------------------------------------------------- export manifest
  /** Export the CURRENT version as a self-describing manifest — the
    * external-engine handoff (Delta's symlink-format manifest for
    * Trino/Presto/DuckDB): a JSON file pinning the exact data files
    * (relative path + size) of one version, so an external reader scans
    * precisely this snapshot no matter how many writes land afterwards
    * (version dirs are immutable until [[vacuum]]). Sidecars and
    * `_`-prefixed markers are excluded. REFUSES to export while deletion
    * vectors are pending: the raw files still contain logically-erased
    * rows an external engine would resurface — run [[purgeRewrite]]
    * first. Returns the manifest path. */
  def exportManifest(spark: SparkSession, name: String): Path = {
    require(readTombstones(name).isEmpty,
      s"table $name has pending deletion vectors; run purgeRewrite before exporting")
    val cur = Paths.get(currentPath(name)).toAbsolutePath
    val version = cur.getFileName.toString
    import scala.jdk.CollectionConverters._
    // data files only: skip any path segment that is a marker/sidecar
    // (_-prefixed) or committer bookkeeping (.-prefixed CRCs etc.)
    val files = Files.walk(cur).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => !cur.relativize(p).iterator().asScala
        .exists(s => s.toString.startsWith("_") || s.toString.startsWith(".")))
      .map(p => (cur.relativize(p).toString.replace('\\', '/'), Files.size(p)))
      .toSeq.sorted
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json =
      s"""{"table": ${q(name)}, "version": ${q(version)}, "root": ${q(cur.toString)},
         |"schema_ddl": ${q(read(spark, name).schema.toDDL)},
         |"files": [${files.map { case (p, b) => s"""{"path": ${q(p)}, "bytes": $b}""" }.mkString(", ")}]}
         |""".stripMargin
    val out = tableDir(name).resolve(s"_manifest_$version.json")
    Files.writeString(out, json)
    out
  }

  /** Read EXACTLY the files a manifest pins (snapshot-stable no matter
    * what was written since), verifying each file still has the
    * manifested size — a changed or missing file fails loudly rather
    * than silently reading a different snapshot. Partition-directory
    * values are recovered via basePath. The manifest grammar is our own
    * ([[exportManifest]]), so parsing is a driver-side scan of the
    * known shape, not a schema-inferring JSON read. */
  def readManifest(spark: SparkSession, manifest: Path): DataFrame = {
    val body = Files.readString(manifest)
    def unq(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
    val rootRe = """"root": "((?:[^"\\]|\\.)*)"""".r
    val root = rootRe.findFirstMatchIn(body)
      .map(m => unq(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        s"manifest $manifest: missing root"))
    val fileRe = """\{"path": "((?:[^"\\]|\\.)*)", "bytes": (\d+)\}""".r
    val files = fileRe.findAllMatchIn(body)
      .map(m => (unq(m.group(1)), m.group(2).toLong)).toSeq
    require(files.nonEmpty, s"manifest $manifest lists no files")
    files.foreach { case (rel, bytes) =>
      val p = Paths.get(root, rel)
      require(Files.isRegularFile(p) && Files.size(p) == bytes,
        s"manifest file drifted or missing: $p (expected $bytes bytes)")
    }
    readParquet(spark, Paths.get(root),
      Some(files.map { case (rel, _) => Paths.get(root, rel).toString }))
  }

  // --------------------------------------------- CHECK constraints
  private def constraintsFile(name: String): Path =
    tableDir(name).resolve("_constraints")

  /** Declared write-time constraints: (name, kind, sqlExpr) with kind
    * CHECK (a violating batch is rejected whole) or EXPECT_DROP
    * (violating rows are dropped and counted — DLT's `expect_or_drop`).
    * Table-level like `_tombstones`: constraints govern the table across
    * versions, not one snapshot. SQL-NULL semantics match standard CHECK:
    * a row violates only when the expression evaluates to FALSE — an
    * expression that comes out NULL passes. */
  def constraints(name: String): Seq[(String, String, String)] = {
    val p = constraintsFile(name)
    if (!Files.isRegularFile(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val a = l.split("\t", 3); (a(0), a(1), a(2))
      }
    }
  }

  /** Add a CHECK constraint. Existing data must already satisfy it
    * (Delta `ALTER TABLE ADD CONSTRAINT` semantics) — one scan with a
    * limit-1 violation probe, so the common all-good case still reads
    * every file but ships one row at most to the driver. */
  def addCheck(spark: SparkSession, name: String, cname: String,
      sqlExpr: String): Unit = {
    spark.sessionState.sqlParser.parseExpression(sqlExpr) // syntax gate
    require(!constraints(name).exists(_._1 == cname),
      s"constraint $cname already exists on $name")
    if (exists(name)) {
      val bad = read(spark, name).filter(violationPredicate(sqlExpr)).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK $cname to $name: existing rows violate ($sqlExpr)")
    }
    appendConstraintLine(name, cname, "CHECK", sqlExpr)
  }

  /** Add an expectation with drop-on-violation (new batches only —
    * existing rows are not re-judged, matching DLT expectations). */
  def addExpectDrop(spark: SparkSession, name: String, cname: String,
      sqlExpr: String): Unit = {
    spark.sessionState.sqlParser.parseExpression(sqlExpr)
    require(!constraints(name).exists(_._1 == cname),
      s"constraint $cname already exists on $name")
    appendConstraintLine(name, cname, "EXPECT_DROP", sqlExpr)
  }

  def dropConstraint(name: String, cname: String): Unit = {
    val keep = constraints(name).filterNot(_._1 == cname)
    if (keep.isEmpty) Files.deleteIfExists(constraintsFile(name))
    else Files.writeString(constraintsFile(name),
      keep.map { case (n, k, e) => s"$n\t$k\t$e" }.mkString("", "\n", "\n"))
  }

  private def appendConstraintLine(name: String, cname: String, kind: String,
      sqlExpr: String): Unit = {
    require(!cname.contains("\t") && !sqlExpr.contains("\t") &&
      !sqlExpr.contains("\n"), "constraint name/expr must not contain tab/newline")
    Files.createDirectories(tableDir(name))
    Files.writeString(constraintsFile(name), s"$cname\t$kind\t$sqlExpr\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Violation = expression is definitively FALSE (null passes, as in
    * SQL CHECK). */
  private def violationPredicate(sqlExpr: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    expr(sqlExpr) <=> lit(false)
  }

  // --------------------------------------------- generated columns
  /** Declared generated columns (`generate.<col>` table properties →
    * (col, sqlExpr)), name-sorted so multi-column application order is
    * deterministic. The Delta GENERATED ALWAYS AS analogue: a batch
    * that OMITS the column gets it computed at write time; a batch that
    * SUPPLIES it is validated cell-by-cell against the formula and
    * rejected whole on any mismatch (silently diverging materialized
    * values are the failure mode this exists to prevent). */
  def generatedColumns(name: String): Seq[(String, String)] =
    properties(name).toSeq.collect {
      case (k, v) if k.startsWith("generate.") => k.stripPrefix("generate.") -> v
    }.sortBy(_._1)

  /** Declare `col` as generated from `sqlExpr` (new batches only —
    * existing versions are not re-judged, matching constraint
    * semantics). The expression is parse-checked here so a typo fails
    * at declaration, not at the next write. */
  def setGeneratedColumn(spark: SparkSession, name: String, col: String,
      sqlExpr: String): Unit = {
    spark.sessionState.sqlParser.parseExpression(sqlExpr)
    // A formula, once declared, is immutable: historical versions were
    // materialized under it and are never re-judged, so a silent
    // redefinition would leave old and new rows answering to different
    // formulas under one name. Drop + re-declare is the explicit path.
    properties(name).get(s"generate.$col").filter(_ != sqlExpr).foreach { old =>
      throw new IllegalArgumentException(
        s"generated column $col on $name is already defined as ($old); " +
          "call dropGeneratedColumn first to redefine it")
    }
    setProperty(name, s"generate.$col", sqlExpr)
  }

  /** Remove a generated-column declaration: future batches must supply
    * the column themselves and are no longer formula-checked. */
  def dropGeneratedColumn(name: String, col: String): Unit =
    removeProperty(name, s"generate.$col")

  /** Write-side entry: compute ABSENT generated columns, and return the
    * equality checks for the PRESENT ones (validated through the same
    * zero-extra-scan observe guard as CHECK constraints — a supplied
    * value must match its formula null-safely). */
  private def applyGenerated(df: DataFrame,
      name: String): (DataFrame, Seq[(String, String)]) = {
    import org.apache.spark.sql.functions.expr
    val gens = generatedColumns(name)
    val (present, absent) = gens.partition { case (c, _) => df.columns.contains(c) }
    val computed = absent.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, expr(e)) }
    val checks = present.map { case (c, e) => (s"_generated_$c", s"`$c` <=> ($e)") }
    (computed, checks)
  }

  /** In-flight enforcement state: the Observation resolves after the
    * staged write's action completes, the audit rows describe per-
    * constraint violation counts. */
  private case class ConstraintGuard(obs: org.apache.spark.sql.Observation,
    checks: Seq[(String, String)], drops: Seq[(String, String)])

  /** Wrap a batch with write-time constraint enforcement — at ZERO extra
    * scans. CHECK violations are counted through `observe` metrics that
    * piggyback on the staged write itself; EXPECT_DROP rows are filtered
    * out (the observe node sits below the filter, so drop counts see the
    * pre-filter rows). The verdict is then read in [[enforceConstraints]]
    * AFTER the staged version is fully written but BEFORE the `_CURRENT`
    * pointer swap: a rejected batch deletes its staged directory and the
    * table is untouched — the versioned-pointer protocol is what makes
    * validate-after-write safe, where an in-place writer would need a
    * full pre-pass over the batch instead. */
  private def guardConstraints(df: DataFrame, name: String,
      extraChecks: Seq[(String, String)] = Nil)
      : (DataFrame, Option[ConstraintGuard]) = {
    val cons = constraints(name)
    if (cons.isEmpty && extraChecks.isEmpty) return (df, None)
    import org.apache.spark.sql.functions._
    val checks = cons.collect { case (n, "CHECK", e) => (n, e) } ++ extraChecks
    val drops = cons.collect { case (n, "EXPECT_DROP", e) => (n, e) }
    val metrics = (checks ++ drops).map { case (n, e) =>
      sum(when(violationPredicate(e), 1L).otherwise(0L)).as(n)
    }
    val obs = new org.apache.spark.sql.Observation(s"graft_constraints_$name")
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val guarded = drops.foldLeft(observed) { case (d, (_, e)) =>
      d.filter(!violationPredicate(e))
    }
    (guarded, Some(ConstraintGuard(obs, checks, drops)))
  }

  /** Resolve the constraint verdict for a fully-written staged version:
    * throw (and delete the staged dir) on any CHECK violation, else
    * record EXPECT_DROP counts as a `_audit` sidecar in the version dir
    * (one line per constraint: name, dropped count) — the per-version
    * quality ledger a curation pipeline reads back. */
  private def enforceConstraints(guard: Option[ConstraintGuard],
      name: String, staged: Path): Unit = guard.foreach { g =>
    val m = g.obs.get
    def cnt(n: String): Long =
      Option(m.getOrElse(n, 0L)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val violated = g.checks.map { case (n, e) => (n, e, cnt(n)) }.filter(_._3 > 0)
    if (violated.nonEmpty) {
      deleteRecursively(staged)
      throw new IllegalStateException(
        s"write to $name rejected by CHECK constraint(s): " +
          violated.map { case (n, e, c) => s"$n ($e): $c row(s)" }.mkString("; "))
    }
    if (g.drops.nonEmpty)
      Files.writeString(staged.resolve("_audit"),
        g.drops.map { case (n, _) => s"$n\t${cnt(n)}" }.mkString("", "\n", "\n"))
  }

  /** Per-version expectation audit: (constraint, dropped row count) for
    * the CURRENT version, empty if the table has no drop expectations
    * or the version predates them. */
  def audit(name: String): Seq[(String, Long)] = {
    val p = Paths.get(currentPath(name)).resolve("_audit")
    if (!Files.isRegularFile(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val a = l.split("\t", 2); (a(0), a(1).toLong)
      }
    }
  }

  /** Serialize the version-claim → publish critical section across
    * concurrent writers — same-process threads AND separate drivers on a
    * shared filesystem: `Files.createDirectory` of the lock marker is
    * atomic (POSIX mkdir), so exactly one writer holds the commit lock at
    * a time. Data is ALWAYS staged outside the lock; the lock covers only
    * slot claim, O(#files) metadata carries, and the pointer swap — the
    * filesystem analogue of Delta's optimistic-concurrency commit. A lock
    * left by a crashed writer is stolen after [[lockStealMs]] (no live
    * commit holds it that long: the locked section is metadata-plus-
    * O(batch)-sidecar work, never a table-sized write). */
  private val lockStealMs = 600000L
  private def withCommitLock[T](dir: Path)(body: => T): T = {
    val lock = dir.resolve("_COMMIT_LOCK")
    val deadline = System.nanoTime() + 900L * 1000000000L
    var held = false
    while (!held) {
      try { Files.createDirectory(lock); held = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = scala.util.Try(System.currentTimeMillis() -
            Files.getLastModifiedTime(lock).toMillis).getOrElse(0L)
          if (age > lockStealMs) scala.util.Try(Files.deleteIfExists(lock))
          else if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"commit lock on $dir not released within 15 min")
          else Thread.sleep(5)
      }
    }
    try body finally scala.util.Try(Files.deleteIfExists(lock))
  }

  /** Unique staging dir for a version's data write (dot-prefixed: hidden
    * from every census/read path). Orphans from crashed writers are swept
    * opportunistically once they're an hour stale. */
  private def newStageDir(dir: Path): Path = {
    val cutoff = System.currentTimeMillis() - 3600000L
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".stage-") && f.lastModified < cutoff)
      .foreach(f => scala.util.Try(deleteRecursively(f.toPath)))
    dir.resolve(s".stage-${java.util.UUID.randomUUID().toString.take(12)}")
  }

  // ------------------------------------------------ parquet I/O primitives
  /** The catalog's one parquet write: `df` to `dir` (overwritten),
    * through [[InProcessLocalFs]] so no file, `.crc` or directory forks a
    * `chmod`. Then a `_schema` sidecar records the frame's schema minus
    * the `partitionBy` columns, which reads keep discovering from the
    * directory names, with the types inference gives them. When the
    * write throws, `dir` is deleted before the failure propagates, so a
    * failed stage never waits for the stale-stage sweep. */
  private def writeParquet(df: DataFrame, dir: Path,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").options(InProcessLocalFs.writeOptions)
    val sc = df.sparkSession.sparkContext
    val tag = s"graft-write-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    try (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
    catch { case e: Throwable =>
      // A failed job returns while its other tasks may still run (a cancel
      // does not interrupt them), and one of them can recreate part of the
      // dir after the delete: wait for them to end first.
      awaitTasksEnded(df.sparkSession, tag)
      if (Files.exists(dir)) scala.util.Try(deleteRecursively(dir))
      throw e
    } finally sc.removeJobTag(tag)
    val resolver = df.sparkSession.sessionState.conf.resolver
    Files.writeString(dir.resolve("_schema"), StructType(df.schema.filterNot(f =>
      partitionBy.exists(resolver(_, f.name)))).json)
  }

  /** Block until no task of the jobs tagged `tag` is running, as the
    * status store sees it; bounded, so a stuck task cannot hang the caller. */
  private def awaitTasksEnded(spark: SparkSession, tag: String,
      timeoutMs: Long = 30000L): Unit = {
    val tracker = spark.sparkContext.statusTracker
    def running: Int = tracker.getJobIdsForTag(tag).iterator
      .flatMap(j => tracker.getJobInfo(j).iterator).flatMap(_.stageIds)
      .flatMap(s => tracker.getStageInfo(s).iterator).map(_.numActiveTasks).sum
    val deadline = System.currentTimeMillis() + timeoutMs
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    while (running > 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    }
  }

  /** The catalog's one parquet read: the directory `dir` this catalog
    * wrote, or `files` pruned from it (partition values resolve against
    * `dir`), with the schema its `_schema` sidecar recorded, so no Spark
    * job reads a footer to infer it. A version without the sidecar
    * (written before the catalog recorded schemas, or by another tool)
    * reads through inference. */
  private def readParquet(spark: SparkSession, dir: Path,
      files: Option[Seq[String]] = None): DataFrame = {
    val sidecar = dir.resolve("_schema")
    val r = if (!Files.isRegularFile(sidecar)) spark.read
      else spark.read.schema(DataType.fromJson(Files.readString(sidecar)).asInstanceOf[StructType])
    files match {
      case None => r.parquet(dir.toString)
      case Some(fs) =>
        require(fs.nonEmpty, s"readParquet: empty file list under $dir")
        r.option("basePath", dir.toString).parquet(fs: _*)
    }
  }

  /** Write `df` as the next version of `name` and atomically repoint.
    * Concurrency-safe: the batch lands in a staging dir first, then the
    * commit lock serializes slot claim + pointer swap, so simultaneous
    * writers each publish a distinct complete version (last swap wins —
    * overwrite is state-independent, so no rebase is needed). */
  def overwrite(df: DataFrame, name: String, partitionBy: Seq[String] = Nil): Unit =
    overwriteInternal(df, name, partitionBy, validateGenerated = true)

  /** `validateGenerated = false` skips the generated-column equality
    * checks (absent columns are still computed). Only the evolution
    * append path uses it: there the written frame is old-rows ∪ batch,
    * and generated formulas judge NEW batches only — re-judging
    * historical rows would let a formula declared (or batch written)
    * after data existed veto every future append to the table. The
    * batch's own rows are validated by the caller before the union. */
  private def overwriteInternal(df: DataFrame, name: String,
      partitionBy: Seq[String], validateGenerated: Boolean): Unit = {
    val dir = tableDir(name)
    Files.createDirectories(dir)
    val (dfGen, genChecks0) = applyGenerated(df, name)
    val genChecks = if (validateGenerated) genChecks0 else Nil
    val (guarded, guard) = guardConstraints(dfGen, name, genChecks)
    val stage = newStageDir(dir)
    writeParquet(guarded, stage, partitionBy)
    enforceConstraints(guard, name, stage)
    withCommitLock(dir) {
      val nextV = "v%06d".format(nextVersion(dir))
      Files.move(stage, dir.resolve(nextV), StandardCopyOption.ATOMIC_MOVE)
      repoint(dir, name, nextV)
    }
  }

  /** Atomically swap `_CURRENT` to `version` (write-temp + ATOMIC_MOVE —
    * the one pointer-swap protocol, shared by writes and rollback). */
  private def swapPointer(dir: Path, name: String, version: String): Unit = {
    // Stamp the version's commit time on FIRST publish only (rollback
    // re-points to an old version and must not re-date it — AS OF
    // resolution refers to when the data version was created).
    val ts = dir.resolve(version).resolve("_commit_ts")
    if (Files.isDirectory(dir.resolve(version)) && !Files.exists(ts))
      Files.writeString(ts, System.currentTimeMillis().toString)
    val tmp = dir.resolve("_CURRENT.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, currentPointer(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // Every single-table publish supersedes the table's multi-commit
    // entry: without this, a ROLLBACK below a pinned version would be
    // silently undone by [[currentPath]]'s max rule. Equal entries (the
    // convergence step of publishAtomic itself) skip the catalog lock.
    // Lock order is always table → catalog root, never the reverse, so
    // holding the table lock here cannot deadlock with publishAtomic.
    if (multiCurrent().get(name).exists(_ != version))
      withCommitLock(Paths.get(root)) {
        val cur = multiCurrent()
        if (cur.get(name).exists(_ != version)) writeMultiCurrent(cur - name)
      }
  }

  /** Atomically swap `_CURRENT` to `nextV` and prune old versions. */
  private def repoint(dir: Path, name: String, nextV: String): Unit = {
    swapPointer(dir, name, nextV)
    pruneOldVersions(dir, keep = 2, pinned = multiCurrent().get(name))
  }

  /** Append: write ONLY the new batch's files into the next version and
    * carry every previous data file across by hardlink — O(batch) data
    * written per append, not O(table) (an append-heavy 100 TB silver
    * layer cannot pay a full rewrite per batch). Falls back to the
    * null-padded union rewrite when the batch's schema drifts from the
    * table's (ALTER TABLE ADD COLUMN analogue) or the current version is
    * partitioned — in both cases a flat hardlink union would leave the
    * directory unreadable as one consistent Parquet table. Versioning and
    * rollback semantics are unchanged: pruning old versions only unlinks,
    * so carried files survive through the newer version's links. */
  // ------------------------------------------------- idempotent appends

  /** Stream-transaction ledger of a version: appId → highest applied
    * transaction version (Delta's txnAppId/txnVersion). Lives as a
    * `_txn` sidecar INSIDE the version dir, so the ledger update and the
    * data it describes publish in the SAME atomic pointer swap — the
    * property that makes [[appendTxn]] exactly-once under replay. */
  private def readTxns(vDir: Path): Map[String, Long] = {
    val p = vDir.resolve("_txn")
    if (!Files.isRegularFile(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.filter(_.contains('\t')).map { l =>
        val a = l.split("\t", 2); (a(0), a(1).toLong)
      }.toMap
    }
  }

  private def writeTxns(vDir: Path, txns: Map[String, Long]): Unit =
    Files.writeString(vDir.resolve("_txn"),
      txns.toSeq.sortBy(_._1).map { case (a, v) => s"$a\t$v" }
        .mkString("", "\n", "\n"))

  /** Idempotent append: apply the batch ONLY if `txnVersion` is newer
    * than the last committed version for `appId` — the exactly-once
    * contract a replaying streaming sink needs (foreachBatch re-delivers
    * a batch whose checkpoint commit raced a crash). The duplicate check
    * runs under the SAME commit lock that publishes the data, and the
    * ledger rides inside the version dir, so a replay can never slip
    * between check and publish. Returns false when skipped as a
    * duplicate. Requires a schema-stable append (the evolution fallback
    * is a rewrite that would reset the ledger — strict mode is the
    * right posture for transactional streams). */
  def appendTxn(df: DataFrame, name: String, appId: String,
      txnVersion: Long): Boolean = {
    if (!exists(name)) {
      // first batch bootstraps the table — and its ledger
      overwrite(df, name)
      val cur = Paths.get(currentPath(name))
      writeTxns(cur, Map(appId -> txnVersion))
      true
    } else appendInternal(df, name, Some((appId, txnVersion)))
  }

  def append(df: DataFrame, name: String): Unit = {
    appendInternal(df, name, None); ()
  }

  /** Current stream-transaction ledger (app → highest applied version),
    * the ops view behind `GRAFT TXNS`. */
  def txns(name: String): Seq[(String, Long)] =
    readTxns(Paths.get(currentPath(name))).toSeq.sortBy(_._1)

  private def appendInternal(df0: DataFrame, name: String,
      txn: Option[(String, Long)]): Boolean = {
    val spark = df0.sparkSession
    if (!exists(name)) { overwrite(df0, name); return true }
    // Generated columns materialize BEFORE the schema-shape decision: a
    // batch omitting a generated column still takes the O(batch) fast
    // path (the compute restores the table's shape), and the evolution
    // union below never null-pads a column the formula can produce.
    val (df, genChecks) = applyGenerated(df0, name)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    // Metadata sidecar dirs (_stats, _bloom) are NOT hive partitions:
    // counting them here silently downgraded every post-analyze append
    // to the O(table) union-rewrite path.
    def fastPathApplicable(): Boolean = {
      val prev = Paths.get(currentPath(name))
      val prevPartitioned = Option(prev.toFile.listFiles())
        .getOrElse(Array.empty).exists(f => f.isDirectory &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
      shape(read(spark, name).schema) == shape(df.schema) && !prevPartitioned
    }
    if (!fastPathApplicable()) {
      if (txn.isDefined)
        // the evolution fallback rewrites the whole table and would
        // reset the _txn ledger — refusing loudly beats a silent
        // duplicate window; transactional streams pair with strict mode
        throw new IllegalStateException(
          s"appendTxn to $name requires a schema-stable unpartitioned " +
            "append (the evolution/partitioned fallback is a rewrite)")
      val cur = read(spark, name)
      if (shape(cur.schema) != shape(df.schema) &&
          properties(name).get("schema.mode").contains("strict"))
        throw new IllegalStateException(
          s"append to $name rejected: schema.mode=strict and the batch " +
            s"schema (${df.schema.simpleString}) drifts from the table's " +
            s"(${cur.schema.simpleString})")
      // Generated-column equality is judged on the NEW batch only, with
      // one eager O(batch) probe (negligible next to the O(table) union
      // rewrite this path already pays). The union overwrite below must
      // NOT re-run the checks: it would judge historical rows, and a
      // formula declared after data existed would then block every
      // evolution append to the table wholesale.
      genChecks.map { case (n, e) => (n, e,
          df.filter(violationPredicate(e)).limit(1).count()) }
        .filter(_._3 > 0) match {
        case Nil =>
        case bad => throw new IllegalStateException(
          s"append to $name rejected: supplied generated column(s) " +
            s"diverge from their formula in the batch: " +
            bad.map { case (n, e, _) => s"$n ($e)" }.mkString("; "))
      }
      overwriteInternal(cur.unionByName(df, allowMissingColumns = true),
        name, Nil, validateGenerated = false)
      true
    } else {
      val dir = tableDir(name)
      val (guarded, guard) = guardConstraints(df, name, genChecks)
      // Stage the batch write OUTSIDE the commit lock (appended rows are
      // state-independent), then commit under the lock: re-resolve the
      // base version there, so a batch another writer published between
      // our staging and our claim is carried in, never lost.
      val stage = newStageDir(dir)
      writeParquet(guarded, stage)
      // Constraint verdict BEFORE hardlink carry: a rejected batch
      // deletes only its own staged files, and the audit sidecar lands
      // next to the batch it describes.
      enforceConstraints(guard, name, stage)
      // Write-time clustering (Delta optimizeWrite analogue), opt-in via
      // table property optimize.write=true: when the table has a curve
      // layout, re-stage the batch curve-clustered on the SAME pinned
      // grid, so appended files enter the layout already tight and the
      // maintenance tick finds nothing to fold in. O(batch) extra
      // read+write; output file count is size-derived (like
      // optimizeIncremental) so small batches don't shatter.
      val wroteClustered: Option[Layout] =
        if (!properties(name).get("optimize.write").contains("true")) None
        else readLayout(Paths.get(currentPath(name))).map { l =>
          val batchBytes = Option(stage.toFile.listFiles())
            .getOrElse(Array.empty).filter(_.isFile).map(_.length).sum
          // target.file.bytes (Delta's targetFileSize analogue) sizes the
          // clustered batch's output files; default 128 MiB
          val targetBytes = properties(name).get("target.file.bytes")
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .getOrElse(128L << 20)
          val parts = math.max(1, (batchBytes / targetBytes).toInt)
          val stage2 = newStageDir(dir)
          try writeParquet(graft.ops.Gold.clusterOnGrid(readParquet(spark, stage),
            l.cols, l.bounds, l.bits, Some(parts), l.curve), stage2)
          catch { case e: Throwable => deleteRecursively(stage); throw e }
          deleteRecursively(stage)
          Files.move(stage2, stage, StandardCopyOption.ATOMIC_MOVE)
          l
        }
      // Capture the fresh batch's file names BEFORE hardlinking carries
      // the old files in: incremental stats below must scan exactly the
      // new batch (O(batch)), and a lazy directory read resolved later
      // would see the carried files too.
      val batchNames = Option(stage.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).toSeq
      // lock-block outcome: 0 = committed, 1 = rebase via rewrite path,
      // 2 = skipped as a duplicate transaction
      val outcome = withCommitLock(dir) {
        if (!fastPathApplicable()) {
          // a concurrent writer changed the table's shape under us:
          // restage through the union-rewrite path (outside the lock)
          deleteRecursively(stage)
          1
        } else if (txn.exists { case (app, v) =>
            readTxns(Paths.get(currentPath(name))).get(app).exists(_ >= v) }) {
          // replayed batch: its transaction version already committed —
          // the exactly-once duplicate drop, decided under the lock
          deleteRecursively(stage)
          2
        } else {
          val prev = Paths.get(currentPath(name))
          val nextV = "v%06d".format(nextVersion(dir))
          val next = dir.resolve(nextV)
          Files.move(stage, next, StandardCopyOption.ATOMIC_MOVE)
          val batchFiles = batchNames.map(n => next.resolve(n).toString)
          // Part-file names embed the write job's UUID, so links from the
          // previous version cannot collide with the fresh batch's files.
          val walk = Files.walk(prev)
          // skip job markers (_SUCCESS), hidden checksums (._SUCCESS.crc)
          // and metadata sidecars (_stats/**, _bloom/**) — the fresh write
          // produced its own markers; min/max stats are re-derived
          // incrementally below, and bloom sidecars (whose build
          // parameters aren't stored) still require a post-append
          // re-analyze.
          try walk.filter(Files.isRegularFile(_)).forEach { f =>
            val rel = prev.relativize(f)
            val hidden = (0 until rel.getNameCount).exists { i =>
              val n = rel.getName(i).toString
              n.startsWith("_") || n.startsWith(".")
            }
            if (!hidden) Files.createLink(next.resolve(rel), f)
          } finally walk.close()
          carryStatsIncremental(spark, prev, next, df, batchFiles)
          carryBloomsIncremental(spark, prev, next, df, batchFiles)
          carryIndexIncremental(spark, prev, next, batchFiles)
          // The curve-layout note survives appends: hardlinked files keep
          // their names, so the clustered set stays valid. A plain append's
          // batch files are, by definition, not yet clustered — exactly
          // what a later optimizeIncremental() picks up. A CLUSTERED-WRITE
          // batch joins the clustered set immediately — but only if the
          // base's grid still matches the one the batch was clustered on
          // (a concurrent re-optimize could have re-gridded between our
          // staging and this claim; then the batch stays out of the set
          // and maintenance folds it in later — safe, never wrong).
          val prevLayout = prev.resolve("_layout")
          if (Files.isRegularFile(prevLayout)) readLayout(prev) match {
            case Some(pl) if wroteClustered.exists(l =>
                l.curve == pl.curve && l.bits == pl.bits &&
                  l.cols == pl.cols && l.bounds == pl.bounds) =>
              writeLayout(next, pl.curve, pl.bits, pl.cols, pl.bounds,
                (pl.files ++ batchNames).toSeq.sorted)
            case _ => Files.copy(prevLayout, next.resolve("_layout"))
          }
          // carry the stream-transaction ledger (merged with this
          // commit's txn, if any) so a plain append between two
          // transactional ones never opens a duplicate window
          val txns = readTxns(prev) ++ txn.toMap
          if (txns.nonEmpty) writeTxns(next, txns)
          repoint(dir, name, nextV)
          0
        }
      }
      if (outcome == 1) appendInternal(df, name, txn) else outcome == 0
    }
  }

  /** Incremental `_stats` maintenance on hardlink append: carried files
    * keep their manifest rows verbatim (hardlinks preserve name AND
    * content, so per-file min/max can't drift), and ONLY the fresh
    * batch's files are scanned for theirs — O(batch), matching the
    * append's data cost. Without this, every append dropped the sidecar
    * and skipping on an append-heavy 100 TB table silently degraded to
    * full-scan fallback until someone re-ran analyze() over the whole
    * table. Completeness invariant (prunedFiles trusts the manifest):
    * prev stats cover all prev files by induction, batch stats cover
    * exactly the new files, and their union is written or nothing is. */
  private def carryStatsIncremental(spark: SparkSession, prev: Path,
      next: Path, df: DataFrame, batchFiles: Seq[String],
      dropNames: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    val prevStats = prev.resolve("_stats")
    if (!Files.isDirectory(prevStats) || batchFiles.isEmpty) return
    // dropNames: manifest rows of files the new version REWRITES (an
    // incremental OPTIMIZE replaces the unclustered files) must not be
    // carried — their stats now describe files the version doesn't hold.
    val prevManifest0 = readParquet(spark, prevStats)
    val prevManifest =
      if (dropNames.isEmpty) prevManifest0
      else prevManifest0.filter(!col("_file").isin(dropNames: _*))
    val statsCols = prevManifest.columns.toSeq
      .collect { case c if c.startsWith("min_") => c.stripPrefix("min_") }
    if (statsCols.isEmpty || !statsCols.forall(df.columns.contains)) return
    val batchStats = perFileMinMax(readParquet(spark, next, Some(batchFiles)), statsCols)
    writeParquet(prevManifest.unionByName(batchStats).coalesce(1), next.resolve("_stats"))
  }

  /** One `_stats` manifest row per input file: its NAME (version dirs are
    * flat, and names stay valid when the table root moves) and the
    * min/max of every column in `statsCols`. */
  private def perFileMinMax(d: DataFrame, statsCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    d.select(input_file_name().as("_file") +: statsCols.map(col): _*)
      .groupBy("_file")
      .agg(min(col(statsCols.head)).as(s"min_${statsCols.head}"),
        (statsCols.tail.map(c => min(col(c)).as(s"min_$c")) ++
          statsCols.map(c => max(col(c)).as(s"max_$c"))): _*)
      .withColumn("_file", element_at(split(col("_file"), "/"), -1))
  }

  /** Incremental `_bloom/<c>` maintenance on hardlink append, same
    * contract as [[carryStatsIncremental]]: carried files keep their
    * filter rows, the fresh batch's files get filters built with the
    * ORIGINAL analyze's sizing (the `_items`/`_fpp` columns stored by
    * [[analyzeBloom]]) — zero false negatives is preserved because the
    * union covers every data file. Legacy sidecars without the sizing
    * columns can't be extended safely and drop (pre-carry fallback). */
  private def carryBloomsIncremental(spark: SparkSession, prev: Path,
      next: Path, df: DataFrame, batchFiles: Seq[String],
      dropNames: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val bloomRoot = prev.resolve("_bloom")
    if (!Files.isDirectory(bloomRoot) || batchFiles.isEmpty) return
    Option(bloomRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.foreach { c =>
        if (df.columns.contains(c)) {
          val prevSidecar0 = readParquet(spark, bloomRoot.resolve(c))
          // dropNames: filters of rewritten files must not be carried
          // (see carryStatsIncremental) — the rewritten output gets
          // fresh filters below, built with the original sizing.
          val prevSidecar =
            if (dropNames.isEmpty) prevSidecar0
            else prevSidecar0.filter(!col("_file").isin(dropNames: _*))
          if (prevSidecar0.columns.contains("_items")) {
            val params = prevSidecar0.select("_items", "_fpp").head(1)
            if (params.nonEmpty)
              buildBloomSidecar(readParquet(spark, next, Some(batchFiles)), c,
                params.head.getLong(0), params.head.getDouble(1),
                next.resolve("_bloom").resolve(c), carryFrom = Some(prevSidecar))
          }
        }
      }
  }

  /** Partition-scoped versioned overwrite: `df` carries ONLY the rewritten
    * partitions of `partCol`; every other partition of the current version
    * is carried into the new version via hardlinks — O(#files) metadata
    * ops, zero data copy (the filesystem analogue of reusing data-file
    * entries in a Delta/Iceberg manifest). This is what keeps an SCD merge
    * at 100 TB proportional to the *touched* keys, not the table size. */
  def overwritePartitions(df: DataFrame, name: String, partCol: String,
      touched: Seq[Any]): Unit = {
    require(exists(name), s"overwritePartitions: $name does not exist")
    val dir = tableDir(name)
    val (dfGen, genChecks) = applyGenerated(df, name)
    val (guarded, guard) = guardConstraints(dfGen, name, genChecks)
    // Stage outside the commit lock; under the lock, carry untouched
    // partitions from the LATEST committed version — so a concurrent
    // append/merge to other partitions isn't lost. (Writes racing on the
    // SAME partitions remain last-wins: the rewritten content is computed
    // by the caller from an earlier read, which the lock can't rewind —
    // a read-merge-rewrite flow that needs stronger isolation must
    // serialize its writers itself.)
    val stage = newStageDir(dir)
    writeParquet(guarded, stage, Seq(partCol))
    // verdict before the untouched-partition carry, same as append
    enforceConstraints(guard, name, stage)
    val touchedDirs = touched.map(v => s"$partCol=$v").toSet
    withCommitLock(dir) {
      val prev = Paths.get(currentPath(name))
      val nextV = "v%06d".format(nextVersion(dir))
      val next = dir.resolve(nextV)
      Files.move(stage, next, StandardCopyOption.ATOMIC_MOVE)
      // hardlink untouched partition dirs (and root-level files like
      // _SUCCESS are left to the new write) from the previous version
      Option(prev.toFile.list()).getOrElse(Array.empty[String])
        .filter(n => n.startsWith(s"$partCol=") && !touchedDirs.contains(n))
        .foreach { p =>
          val walk = Files.walk(prev.resolve(p))
          try walk.filter(Files.isRegularFile(_)).forEach { f =>
            val rel = prev.relativize(f)
            val to = next.resolve(rel)
            Files.createDirectories(to.getParent)
            Files.createLink(to, f)
          } finally walk.close()
        }
      repoint(dir, name, nextV)
    }
  }

  /** Row-level change feed between two retained versions — the change-
    * data-capture read Delta exposes as CDF, rebuilt on the versioned
    * Parquet layout. `keys` must uniquely identify a row in each version
    * (the same contract as the SCD merge keys, SURVEY.md §7.4). Emits the
    * table's columns plus `_change_type` ∈ {insert, delete,
    * update_preimage, update_postimage}.
    *
    * Scale shape: each side is packed to (keys, row-struct, row-hash)
    * then full-outer joined on `keys` — one shuffle per side, co-
    * partitioned, no driver collection; unchanged rows are dropped
    * before the pre/post images are exploded, so output is proportional
    * to the churn, not the table. */
  def changes(spark: SparkSession, name: String, fromVersion: String,
      toVersion: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val before = readVersion(spark, name, fromVersion)
    val after  = readVersion(spark, name, toVersion)
    require(before.columns.sameElements(after.columns),
      s"changes: schema drift between $fromVersion (${before.columns.mkString(",")}) " +
        s"and $toVersion (${after.columns.mkString(",")}) not supported")
    val nonKey = before.columns.filterNot(keys.contains).toSeq
    def pack(df: DataFrame, img: String, h: String): DataFrame =
      df.select(keys.map(col) ++ Seq(
        struct(df.columns.map(col).toIndexedSeq: _*).as(img),
        graft.ops.Hashing.rowHashCol(nonKey, strict = true).as(h)): _*)
    val joined = pack(before, "_o", "_oh")
      .join(pack(after, "_n", "_nh"), keys, "full_outer")
      .where(col("_o").isNull || col("_n").isNull || col("_oh") =!= col("_nh"))
    val images =
      when(col("_o").isNull,
        array(struct(col("_n").as("row"), lit("insert").as("_change_type"))))
      .when(col("_n").isNull,
        array(struct(col("_o").as("row"), lit("delete").as("_change_type"))))
      .otherwise(array(
        struct(col("_o").as("row"), lit("update_preimage").as("_change_type")),
        struct(col("_n").as("row"), lit("update_postimage").as("_change_type"))))
    joined.select(explode(images).as("c")).select(col("c.row.*"), col("c._change_type"))
  }

  /** Per-column PROFILE drift between two retained versions — the
    * statistical complement of [[changes]]: row-level CDF answers "which
    * rows moved", this answers "did the table's SHAPE move" (row count,
    * null rate, cardinality, numeric range per column) — the
    * version-over-version audit a data-quality monitor alerts on before
    * a drifted batch poisons downstream training.
    *
    * Full-outer on column name, so schema evolution surfaces as one-
    * sided rows instead of being silently dropped. Cost: one single-pass
    * profile per version ([[graft.ops.Quality.profile]] — every min/max/
    * null aggregate rides one scan, distincts one tall shuffle), joined
    * on a #columns-sized frame. */
  def profileDrift(spark: SparkSession, name: String,
      vFrom: String, vTo: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    def p(v: String, tag: String) =
      graft.ops.Quality.profile(readVersion(spark, name, v))
        .select(col("column"),
          col("n_rows").as(s"rows_$tag"),
          col("n_nulls").as(s"nulls_$tag"),
          col("n_distinct").as(s"distinct_$tag"),
          col("min_num").as(s"min_num_$tag"),
          col("max_num").as(s"max_num_$tag"))
    p(vFrom, "from").join(p(vTo, "to"), Seq("column"), "full_outer")
  }

  /** Collect per-file min/max statistics for `statsCols` over the CURRENT
    * version and persist them as a `_stats` parquet sidecar inside the
    * version directory — the data-skipping manifest Delta keeps in its
    * transaction log, rebuilt on the versioned-Parquet layout. The
    * underscore prefix hides the sidecar from Spark's file index, so
    * plain reads of the version are unaffected, and the manifest lives
    * and dies with its version (pruning deletes it, appends don't carry
    * it — stale stats are never consulted).
    *
    * Scale shape: one column-pruned distributed scan (only the stats
    * columns' chunks are read — columnar formats make this cheap),
    * aggregated per input file; the manifest itself is O(#files) rows.
    * Together with [[graft.ops.Gold.clusterBy]]/`zorderBy` this is the
    * full OPTIMIZE story: clustering makes per-file ranges disjoint,
    * stats make the read side actually skip them. Unpartitioned current
    * versions only (clusterBy output is unpartitioned; partitioned
    * tables already skip via partition pruning). */
  def analyze(spark: SparkSession, name: String, statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "analyze: statsCols must be non-empty")
    val cur = Paths.get(currentPath(name))
    writeParquet(perFileMinMax(readParquet(spark, cur), statsCols).coalesce(1),
      cur.resolve("_stats"))
  }

  /** File paths of the current version whose [min, max] range for `c`
    * intersects [lo, hi] per the `_stats` manifest — or every data file
    * when no manifest covers `c`. Driver-side manifest read, O(#files). */
  def prunedFiles(spark: SparkSession, name: String, c: String,
      lo: Any, hi: Any): Seq[String] = {
    import org.apache.spark.sql.functions._
    val cur = Paths.get(currentPath(name))
    val statsDir = cur.resolve("_stats")
    def allFiles = Option(cur.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getPath).toSeq
    if (!Files.isDirectory(statsDir)) return allFiles
    val stats = readParquet(spark, statsDir)
    if (!stats.columns.contains(s"min_$c")) return allFiles
    // null min/max means the file has no non-null value of c — no row of
    // it can satisfy a range predicate, so the null-propagating
    // comparison correctly drops it.
    stats.filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("_file").collect().map(r => cur.resolve(r.getString(0)).toString).toSeq
  }

  /** Range scan with file skipping: read only the files whose stats range
    * intersects [lo, hi], then apply the exact predicate as a residual —
    * correctness never depends on the manifest, only the I/O saved does.
    * This is the read-side payoff of OPTIMIZE: on a table clustered on
    * `c`, a selective range touches a handful of files instead of all of
    * them. */
  def scanRange(spark: SparkSession, name: String, c: String,
      lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = prunedFiles(spark, name, c, lo, hi)
    val base =
      if (files.nonEmpty) readPruned(spark, name, files)
      else read(spark, name).limit(0) // keep the schema, scan nothing
    base.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** The data files a sidecar pruned from one (flat) version directory,
    * with the table's deletion vectors applied. */
  private def readPruned(spark: SparkSession, name: String,
      files: Seq[String]): DataFrame =
    applyTombstones(readParquet(spark, Paths.get(files.head).getParent, Some(files)), name)

  /** Build a per-file Bloom membership sidecar for `c` over the CURRENT
    * version (`_bloom/<c>` inside the version dir) — the point-lookup
    * complement of [[analyze]]'s min/max manifest. Min/max skipping is
    * blind for equality on a high-cardinality key unless the table is
    * clustered on exactly that key; a per-file bloom prunes point reads
    * on ANY column regardless of layout, at `fpp` false-positive cost
    * and zero false negatives (Delta's bloom filter index, rebuilt on
    * the versioned-Parquet layout).
    *
    * Values are probed via one canonical representation: the column
    * CAST to string on the build side, `Any.toString` on the probe side
    * — exact for integral/string keys, the intended use. Same lifecycle
    * as `_stats`: lives and dies with its version, appends don't carry
    * it, so stale filters are never consulted.
    *
    * Scale shape: one column-pruned scan, map-side partial blooms, only
    * O(#files × bits) crosses the shuffle ([[graft.functions.BloomAgg]]);
    * the sidecar is O(#files) rows. */
  def analyzeBloom(spark: SparkSession, name: String, c: String,
      expectedItemsPerFile: Long = 100000L, fpp: Double = 0.03): Unit =
    buildBloomSidecar(readParquet(spark, Paths.get(currentPath(name))), c,
      expectedItemsPerFile, fpp,
      Paths.get(currentPath(name), "_bloom", c), carryFrom = None)

  /** Shared bloom sidecar builder: per-file membership filters for the
    * files `scan` reads, optionally unioned with carried rows from
    * a previous sidecar (incremental append path). The build parameters
    * ride along as columns so an append can rebuild batch-file filters
    * with the SAME sizing as the original analyze. */
  private def buildBloomSidecar(scan: DataFrame, c: String,
      expectedItemsPerFile: Long, fpp: Double, outDir: Path,
      carryFrom: Option[DataFrame]): Unit = {
    import org.apache.spark.sql.functions._
    val bloom = udaf(new graft.functions.BloomAgg(expectedItemsPerFile, fpp),
      org.apache.spark.sql.Encoders.STRING)
    val fresh = scan
      .select(input_file_name().as("_file"), col(c).cast("string").as("_v"))
      .groupBy("_file")
      .agg(bloom(col("_v")).as("_bloom"))
      .withColumn("_file", element_at(split(col("_file"), "/"), -1))
      .withColumn("_items", lit(expectedItemsPerFile))
      .withColumn("_fpp", lit(fpp))
    writeParquet(carryFrom.map(_.unionByName(fresh)).getOrElse(fresh).coalesce(1), outDir)
  }

  /** Current-version files that might contain any of `values` in `c`
    * per the `_bloom/<c>` sidecar — or every data file when none
    * covers `c`.
    *
    * Driver-memory bound: the membership probe runs ON THE EXECUTORS
    * (the filter deserializes each file's bloom where the sidecar row
    * lives), so only surviving file NAMES cross to the driver — O(#hit
    * files × path length), never O(#files × bloom bits). At 100 TB
    * (say 10^5 files × 128 KiB blooms = ~12 GiB of filter bytes) a
    * driver-side collect of the sidecar would OOM; the name list for a
    * selective probe is a few KiB. */
  def bloomPrunedFiles(spark: SparkSession, name: String, c: String,
      values: Seq[Any]): Seq[String] = {
    val cur = Paths.get(currentPath(name))
    val bloomDir = cur.resolve("_bloom").resolve(c)
    def allFiles = Option(cur.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getPath).toSeq
    if (!Files.isDirectory(bloomDir)) return allFiles
    val probes = values.map(String.valueOf)
    // Deliberate METADATA-PLANE exception to the no-UDF rule: the probe
    // must deserialize a custom filter format no builtin expression can
    // read, and it runs over the sidecar — O(#files) rows × O(#probes)
    // mightContain calls, never over data rows — so codegen throughput
    // is irrelevant here; every data-plane hot path stays UDF-free.
    val mightHit = org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      val bf = graft.functions.BloomAgg.deserialize(bytes)
      probes.exists(bf.mightContainString)
    }
    readParquet(spark, bloomDir)
      .filter(mightHit(org.apache.spark.sql.functions.col("_bloom")))
      .select("_file").collect().iterator
      .map(r => cur.resolve(r.getString(0)).toString).toSeq
  }

  /** Point lookup with Bloom file skipping: read only files whose bloom
    * might hold a probe value, then apply the exact IN predicate as a
    * residual — false positives cost I/O, never wrong rows. On a 100 TB
    * table this turns a needle query from a full scan into a handful of
    * file reads without requiring the table be clustered on `c`. */
  def scanPoints(spark: SparkSession, name: String, c: String,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = bloomPrunedFiles(spark, name, c, values)
    val base =
      if (files.nonEmpty) readPruned(spark, name, files)
      else read(spark, name).limit(0) // keep the schema, scan nothing
    base.filter(col(c).isin(values: _*))
  }

  // ---------------------------------------------- NDV statistics sidecar
  /** Collect per-file HyperLogLog register arrays for `cols` and persist
    * them as a `_ndv` sidecar in the current version dir — ANALYZE-style
    * distinct-count statistics ([[graft.functions.HllSketch]]). The
    * payoff over a plain `approx_count_distinct` at write time: HLL
    * merge is elementwise max, which is EXACT (the merged registers
    * equal a one-pass sketch of the union, bit for bit), so table-,
    * partition-, or version-level NDV is answered later from metadata
    * alone — no re-scan — and stays exact-sketch under any regrouping
    * of files. That is the statistic a cost-based join planner needs
    * (broadcast or shuffle? estimate output cardinality?) kept fresh at
    * O(#files × 1 KiB) instead of O(data).
    *
    * Same lifecycle as `_stats`/`_bloom`: the sidecar lives and dies
    * with its version; appends don't carry it (stale statistics are
    * never consulted). Null values don't count toward NDV. */
  def analyzeNdv(spark: SparkSession, name: String, cols: Seq[String],
      p: Int = 10, w: Int = 20): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "analyzeNdv: cols must be non-empty")
    val cur = currentPath(name)
    val d = readParquet(spark, Paths.get(cur))
    // xxhash64 → [0, 2^(p+w)) nonneg window the sketch requires; null
    // input propagates null, which the aggregate skips.
    def h(c: String) =
      when(col(c).isNotNull, pmod(xxhash64(col(c)), lit(1L << (p + w))))
    val aggs = cols.map(c =>
      graft.functions.HllSketch(h(c), p, w).as(s"hll_$c"))
    writeParquet(d.select(input_file_name().as("_file") +: cols.map(col): _*)
      .groupBy("_file")
      .agg(count(lit(1)).as("_n"), aggs: _*)
      .withColumn("_file", element_at(split(col("_file"), "/"), -1))
      .withColumn("_p", lit(p)).withColumn("_w", lit(w))
      .coalesce(1), Paths.get(cur, "_ndv"))
    // Plan-time summary beside the register sidecar: merged NDV per
    // column + exact row count + global min/max ranges as one tiny JSON
    // the optimizer ([[graft.plans.NdvStats]] for [[graft.plans.NdvBroadcastRule]]
    // / [[graft.plans.NdvJoinOrderRule]]) can read driver-side with zero
    // Spark jobs at plan time. Underscore-prefixed, so table scans skip
    // it; same lifecycle as `_ndv` (dies with the version).
    val est = ndvEstimate(spark, name, cols)
    val nRows = readParquet(spark, Paths.get(cur, "_ndv"))
      .agg(sum("_n")).head().getLong(0)
    // min/max for RANGE selectivity, on the numeric scale the plan-time
    // reader expects: numerics as doubles, dates as epoch DAYS (the same
    // integer a Catalyst DateType literal carries). Strings/timestamps
    // are skipped — a range estimate over them has no defensible scale.
    val rangeCols = d.schema.fields.toSeq
      .filter(f => cols.contains(f.name))
      .filter(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        || f.dataType == org.apache.spark.sql.types.DateType)
    val ranges: Seq[(String, Double, Double)] =
      if (rangeCols.isEmpty) Nil
      else {
        def onScale(f: org.apache.spark.sql.types.StructField) =
          if (f.dataType == org.apache.spark.sql.types.DateType)
            unix_date(col(f.name)).cast("double")
          else col(f.name).cast("double")
        val aggs = rangeCols.flatMap(f => Seq(
          min(onScale(f)).as(s"lo_${f.name}"), max(onScale(f)).as(s"hi_${f.name}")))
        val row = d.agg(aggs.head, aggs.tail: _*).head()
        rangeCols.flatMap { f =>
          val lo = row.getAs[Any](s"lo_${f.name}")
          val hi = row.getAs[Any](s"hi_${f.name}")
          if (lo == null || hi == null) None
          else {
            val (l, h) = (lo.asInstanceOf[Double], hi.asInstanceOf[Double])
            // Non-finite min/max (a NaN or ±Inf value in the column)
            // would serialize as bare `NaN`/`Infinity` — invalid JSON
            // that fails the sidecar parse and silently disables the
            // WHOLE summary (n_rows/ndv included). Drop just this
            // column's range instead.
            if (java.lang.Double.isFinite(l) && java.lang.Double.isFinite(h))
              Some((f.name, l, h))
            else None
          }
        }
      }
    val body = est.toSeq.sortBy(_._1)
      .map { case (c, v) => s""""${c}": ${v}""" }.mkString(",")
    val loBody = ranges.sortBy(_._1)
      .map { case (c, lo, _) => s""""${c}": ${lo}""" }.mkString(",")
    val hiBody = ranges.sortBy(_._1)
      .map { case (c, _, hi) => s""""${c}": ${hi}""" }.mkString(",")
    Files.writeString(Paths.get(cur, "_ndv_summary.json"),
      s"""{"n_rows": $nRows, "ndv": {$body}, "lo": {$loBody}, "hi": {$hiBody}}""")
  }

  /** Distinct-count estimates for `cols` from the `_ndv` sidecar alone —
    * zero data I/O: per-column registers are max-merged across the
    * file rows (posexplode + grouped max, O(#files × m) sidecar rows),
    * then the standard HLL estimator with small-range linear-counting
    * correction runs on the m merged registers driver-side (metadata
    * plane, m ≤ 16 Ki values per column). Returns (column → estimate);
    * columns the sidecar doesn't cover are absent. */
  def ndvEstimate(spark: SparkSession, name: String,
      cols: Seq[String]): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val dir = Paths.get(currentPath(name), "_ndv")
    if (!Files.isDirectory(dir)) return Map.empty
    val sc = readParquet(spark, dir)
    val covered = cols.filter(c => sc.columns.contains(s"hll_$c"))
    if (covered.isEmpty) return Map.empty
    val first = sc.select("_p", "_w").head()
    val (p, w) = (first.getInt(0), first.getInt(1))
    val m = 1 << p
    covered.map { c =>
      val regs = sc.select(posexplode(col(s"hll_$c")).as(Seq("pos", "r")))
        .groupBy("pos").agg(max(col("r")).as("r"))
        .collect().map(row => row.getAs[Int]("pos") ->
          row.getAs[Long]("r")).toMap
      val full = (0 until m).map(i => regs.getOrElse(i, 0L))
      val s = full.map(r => math.pow(2.0, -r.toDouble)).sum
      val raw = graft.functions.HllSketch.alphaNumerator(p, w) /
        (s * math.pow(2.0, (w + 1).toDouble))
      val zeros = full.count(_ == 0L)
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else raw
      c -> est
    }.toMap
  }

  // ------------------------------------------ exact value-index sidecar
  /** Build an EXACT inverted index for a low-cardinality column: a
    * `_index/<col>` sidecar of distinct (value, file) postings — the
    * third member of the skipping trio. `_stats` prunes by range,
    * `_bloom` prunes point lookups probabilistically (false positives
    * admit extra files); the index prunes point lookups exactly AND
    * answers what a bloom structurally cannot: which files do NOT
    * contain a value. Only sane for columns whose per-version posting
    * count stays metadata-sized — the `maxDistinct` guard fails loudly
    * rather than writing a sidecar that is itself big data. */
  def analyzeIndex(spark: SparkSession, name: String, c: String,
      maxDistinct: Long = 100000L): Unit = {
    val cur = Paths.get(currentPath(name))
    val postings = buildPostings(readParquet(spark, cur), c)
    val n = postings.count()
    require(n <= maxDistinct,
      s"analyzeIndex: $name.$c has $n postings (> $maxDistinct) — " +
        "an exact index on a high-cardinality column is itself big data; " +
        "use analyzeBloom instead")
    writeParquet(postings.coalesce(1), cur.resolve("_index").resolve(c))
  }

  private def buildPostings(scan: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions._
    scan.select(element_at(split(input_file_name(), "/"), -1).as("_file"),
      col(c).as("_value")).distinct()
  }

  /** Exact file list for `c IN (values)` per the `_index` sidecar; None
    * when no index covers `c` (caller falls back to bloom/full scan).
    * Sidecar-sized read + O(#matching files) collect — metadata plane. */
  def indexedFiles(spark: SparkSession, name: String, c: String,
      values: Seq[Any]): Option[Seq[String]] = {
    import org.apache.spark.sql.functions._
    val cur = Paths.get(currentPath(name))
    val idx = cur.resolve("_index").resolve(c)
    if (!Files.isDirectory(idx)) None
    else Some(readParquet(spark, idx)
      .filter(col("_value").isin(values: _*))
      .select("_file").distinct()
      .collect().map(r => cur.resolve(r.getString(0)).toString).toSeq)
  }

  /** Point scan through the exact index: zero false-positive file
    * admissions (the bloom path may read files that merely might
    * contain the key). Falls back to the bloom path — which itself
    * falls back to a full scan — so the answer is always right, only
    * the bytes read differ. */
  def scanPointsIndexed(spark: SparkSession, name: String, c: String,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions._
    indexedFiles(spark, name, c, values) match {
      case None => scanPoints(spark, name, c, values)
      case Some(Nil) => read(spark, name).limit(0)
      case Some(files) =>
        readPruned(spark, name, files)
          .filter(col(c).isin(values: _*))
    }
  }

  /** Incremental `_index` maintenance on hardlink append: postings are
    * per-file FACTS (a hardlinked file keeps name and content), so
    * carried files keep their rows verbatim and only the fresh batch is
    * scanned — O(batch), the same induction as `_stats`. */
  private def carryIndexIncremental(spark: SparkSession, prev: Path,
      next: Path, batchFiles: Seq[String]): Unit = {
    val idxRoot = prev.resolve("_index")
    if (!Files.isDirectory(idxRoot)) return
    import scala.jdk.CollectionConverters._
    Files.list(idxRoot).iterator().asScala.filter(Files.isDirectory(_))
      .foreach { colDir =>
        val c = colDir.getFileName.toString
        val fresh = buildPostings(readParquet(spark, next, Some(batchFiles)), c)
        writeParquet(readParquet(spark, colDir).unionByName(fresh).coalesce(1),
          next.resolve("_index").resolve(c))
      }
  }

  /** GDPR subject-ACCESS request — the read sibling of the erasure path
    * ([[purgeKeys]]): pull every current-version row belonging to a
    * subject across a set of tables into one tall report
    * (table, row-as-json). Each table scans through [[scanPoints]], so a
    * bloom-analyzed table touches only files whose sidecar admits the
    * key — at 100 TB the access request reads a handful of files per
    * table, not the lake (and tables without a bloom sidecar degrade to
    * a full scan with the same results, never an error). Tombstoned
    * subjects correctly return nothing: erased means erased for access
    * requests too. */
  def subjectRows(spark: SparkSession, tables: Seq[(String, String)],
                  value: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    require(tables.nonEmpty, "subjectRows: no (table, keyCol) pairs given")
    tables.map { case (name, keyCol) =>
      scanPoints(spark, name, keyCol, Seq(value))
        .select(lit(name).as("table"),
          to_json(struct(col("*"))).as("row_json"))
    }.reduce(_ unionAll _)
  }

  /** Shallow clone (Delta CLONE analogue): register `target` whose
    * current version shares every data file of `source`'s current
    * version by hardlink — O(#files) metadata, zero data copy. The clone
    * is an independent table from that point on: writes to either side
    * create new versions without touching the other (versioned writes
    * never modify files in place, so shared inodes are safe), and
    * vacuum/pruning on one side cannot free bytes the other still
    * links. The cheap dev/test-sandbox copy a 100 TB table otherwise
    * cannot afford. */
  def clone(source: String, target: String): Unit = {
    require(exists(source), s"clone: $source does not exist")
    require(!exists(target), s"clone: $target already exists")
    val src = Paths.get(currentPath(source))
    val dir = tableDir(target)
    val next = dir.resolve("v%06d".format(1))
    Files.createDirectories(next)
    val walk = Files.walk(src)
    try walk.filter(Files.isRegularFile(_)).forEach { f =>
      val rel = src.relativize(f)
      val to = next.resolve(rel)
      Files.createDirectories(to.getParent)
      Files.createLink(to, f)
    } finally walk.close()
    // pending deletion vectors travel with the data: the clone links the
    // same physical files, so without the tombstones an erased subject
    // would resurface through the clone's read path
    val srcTombstones = tableDir(source).resolve("_tombstones")
    if (Files.isRegularFile(srcTombstones))
      Files.copy(srcTombstones, dir.resolve("_tombstones"))
    // constraints are table properties: a clone inherits them (Delta
    // CLONE semantics), so writes to the clone stay governed
    val srcConstraints = constraintsFile(source)
    if (Files.isRegularFile(srcConstraints))
      Files.copy(srcConstraints, constraintsFile(target))
    repoint(dir, target, "v%06d".format(1))
  }

  /** Roll the table back to a retained version — pointer swap only, no
    * data rewrite and no version deletion (the newer version stays
    * retained, so a roll-forward is the same call with the newer tag).
    * This is the operational payoff of versioned overwrite: undoing a
    * bad batch is O(1) metadata, not a restore job. The next overwrite/
    * append builds on the rolled-back state and version numbers keep
    * increasing monotonically (the abandoned version is simply pruned
    * or vacuumed later, never reused). */
  def rollback(name: String, version: String): Unit = {
    require(versions(name).contains(version),
      s"rollback: version $version of $name not retained (have: ${versions(name)})")
    swapPointer(tableDir(name), name, version)
  }

  /** VACUUM analogue: explicitly drop retained versions beyond the newest
    * `keepLast`, returning the deleted tags. The CURRENT version is never
    * deleted, whatever `keepLast` says — after a [[rollback]] the pointer
    * may sit on an old version, and vacuum must not destroy the data the
    * table is serving. Deleting a version only unlinks its files: data
    * files carried forward by [[append]]/[[overwritePartitions]] hardlinks
    * stay alive through the newer versions' links, so vacuum reclaims
    * exactly the bytes no retained version references — the same
    * reachability contract as Delta's VACUUM, done by the filesystem's
    * link counts instead of a manifest walk. */
  def vacuum(name: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "vacuum: keepLast must be >= 1")
    val dir = tableDir(name)
    val cur = Files.readString(currentPointer(name)).trim
    val pinned = multiCurrent().get(name)
    val doomed = versions(name).dropRight(keepLast)
      .filterNot(v => v == cur || pinned.contains(v))
    doomed.foreach(v => deleteRecursively(dir.resolve(v)))
    // crashed writers' staging dirs age out at write time opportunistically
    // (newStageDir), but a table nobody writes again would keep them
    // forever — vacuum is the terminal GC for write debris too
    val cutoff = System.currentTimeMillis() - 3600000L
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".stage-") && f.lastModified < cutoff)
      .foreach(f => scala.util.Try(deleteRecursively(f.toPath)))
    doomed
  }

  /** Right-to-be-forgotten purge (GDPR erasure), merge-on-read form:
    * append the subject's keys to the table-level `_tombstones`
    * deletion-vector sidecar — O(keys) driver metadata, ZERO data I/O.
    * The subject is logically gone EVERYWHERE immediately: every read
    * path ([[read]], [[readVersion]] time travel, [[scanRange]]/
    * [[scanPoints]] pruned scans, [[changes]] via readVersion, clones
    * via the copied sidecar) applies the tombstone residual. Physical
    * byte erasure is deferred to [[purgeRewrite]] (run it on the
    * compaction/vacuum maintenance schedule), exactly Delta's
    * deletion-vector design: at 100 TB × N retained versions, an eager
    * per-version rewrite per erasure request is the most expensive
    * operation in the catalog, while the DV write is a metadata blip
    * and the rewrite batches many requests into one pass.
    *
    * Write protocol: read-modify-write of the sidecar through a temp
    * file + ATOMIC_MOVE (same protocol as the `_CURRENT` swap) — a
    * crash never leaves a torn file, and the previous sidecar stays
    * live until the move lands. Key values must not contain newlines
    * (erasure keys are ids, not documents).
    *
    * Caveat (documented, deliberate): tombstones are table-level, so
    * they also mask the subject in versions written AFTER the purge —
    * erasure is sticky until [[purgeRewrite]] clears it. Re-onboarding
    * an erased subject therefore requires a purgeRewrite first; for
    * GDPR erasure (the operation this implements) stickiness is the
    * safe default, not a bug. */
  def purgeKeys(spark: SparkSession, name: String, keyCol: String,
      keys: Seq[Any]): Unit = {
    require(keys.nonEmpty, "purgeKeys: empty key list")
    require(exists(name), s"purgeKeys: $name does not exist")
    val dir = tableDir(name)
    val p = dir.resolve("_tombstones")
    val sb = new StringBuilder(
      if (Files.isRegularFile(p)) Files.readString(p) else "")
    keys.foreach { k =>
      val (tpe, v) = k match {
        case n: Long => ("long", n.toString)
        case n: Int => ("long", n.toString)
        case other => ("string", String.valueOf(other))
      }
      require(!v.contains('\n') && !v.contains('\u0001'),
        s"purgeKeys: unsupported characters in key value '$v'")
      sb.append(keyCol).append('\u0001').append(tpe).append('\u0001')
        .append(v).append('\n')
    }
    val tmp = dir.resolve("_tombstones.tmp")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Physical erasure pass: rewrite EVERY retained version of `name`
    * dropping all tombstoned rows, then clear the `_tombstones` sidecar.
    * This is the deferred half of [[purgeKeys]] — run it with compaction
    * / vacuum, where one rewrite amortizes every erasure request since
    * the last pass. Rewriting every version independently is REQUIRED
    * (not an optimization): versions share data files by hardlink, so
    * editing one shared file in place is impossible and unlinking it
    * from one version would leave the others' links — the per-version
    * rewrite is what severs every physical path to the purged bytes.
    * Partition layout (col=value subdirs) is preserved. The pointer
    * never moves. */
  def purgeRewrite(spark: SparkSession, name: String): Unit = {
    val dir = tableDir(name)
    // Crash recovery from an earlier interrupted rewrite, BEFORE listing
    // versions: a `.purging` dir is an incomplete rewrite (discard); a
    // `.stale` dir whose live counterpart is missing IS the version —
    // the previous run died between the two swap moves — restore it so
    // it is listed, rewritten, and purged like any other; a `.stale`
    // next to a live dir only missed its final cleanup (discard).
    Option(dir.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      if (n.endsWith(".purging")) deleteRecursively(f.toPath)
      else if (n.endsWith(".stale")) {
        val live = dir.resolve(n.stripSuffix(".stale"))
        if (Files.exists(live)) deleteRecursively(f.toPath)
        else Files.move(f.toPath, live)
      }
    }
    if (readTombstones(name).isEmpty) return
    versions(name).foreach { v =>
      val vDir = dir.resolve(v)
      val partCols = partitionColumnsOf(vDir)
      // Partition-column type inference must stay OFF for the rewrite:
      // with it on, a string partition col holding "01" comes back as
      // int 1 and the rewrite would silently mutate both the directory
      // names and the column's values in every retained version.
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val inferPrev = spark.conf.get(inferKey, "true")
      spark.conf.set(inferKey, "false")
      val kept =
        try {
          val raw = readParquet(spark, vDir)
          tombstoneFilter(name, raw.columns.toSet)
            .map(raw.filter).getOrElse(raw)
        } finally spark.conf.set(inferKey, inferPrev)
      val tmp = dir.resolve(s"$v.purging")
      writeParquet(kept, tmp, partCols)
      // swap: stage the old dir out, then the rewrite in. A crash inside
      // the two-move window is repaired by the recovery block above on
      // the next rewrite attempt (the .stale dir is moved back), so no
      // version is ever lost and a retry always succeeds.
      val stale = dir.resolve(s"$v.stale")
      Files.move(vDir, stale)
      Files.move(tmp, vDir)
      deleteRecursively(stale)
    }
    Files.deleteIfExists(dir.resolve("_tombstones"))
  }

  /** All partition columns of a written version, outermost first, by
    * walking the nested `col=value` directory levels (one representative
    * child per level — Spark writes a uniform layout). Underscore
    * entries (`_SUCCESS`, a crashed write's `_temporary`) are never
    * partition dirs. */
  private def partitionColumnsOf(vDir: Path): Seq[String] = {
    @scala.annotation.tailrec
    def loop(d: java.io.File, acc: List[String]): List[String] = {
      val next = Option(d.listFiles()).getOrElse(Array.empty)
        .find(f => f.isDirectory && !f.getName.startsWith("_") &&
          f.getName.contains('='))
      next match {
        case Some(p) => loop(p, p.getName.split('=').head :: acc)
        case None => acc.reverse
      }
    }
    loop(vDir.toFile, Nil)
  }

  /** Small-file compaction — the file-count half of the reference's
    * `OPTIMIZE` (`s2g.py:98-101`; [[graft.ops.Gold.clusterBy]] is the
    * ZORDER half): rewrite the current version into ~`targetFileBytes`
    * files via a size-derived coalesce. Metadata-side fix for the
    * many-small-files problem streaming appends create; a no-op rewrite
    * when the table is already compact (still versioned — rollback
    * keeps working). */
  def compact(spark: SparkSession, name: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val cur = Paths.get(currentPath(name))
    // try/finally: Files.walk holds directory handles until closed — a
    // long-lived driver compacting many tables would leak descriptors.
    val walk = Files.walk(cur)
    val bytes =
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    val parts = math.max(1, (bytes / targetFileBytes).toInt)
    overwrite(read(spark, name).coalesce(parts), name)
  }

  // ------------------------------------------------------ OPTIMIZE layout

  /** Parsed `_layout` sidecar: which curve/grid the table was clustered
    * with, and which of the version's files are ALREADY in curve order.
    * `files` membership is the incremental-OPTIMIZE work list: a data
    * file not in it arrived by append and is unclustered. Per-column
    * grid descriptor: 2 values = uniform [lo, hi]; >2 = explicit
    * quantile cell boundaries (string columns — see
    * [[graft.ops.Gold.curveBounds]]). */
  private case class Layout(curve: String, bits: Int, cols: Seq[String],
      bounds: Seq[Seq[Double]], files: Set[String])

  /** `_layout` note beside `_stats`: three-section text file (header
    * `curve|bits|cols`, grid `v,v,…|v,v,…`, then one clustered
    * file name per line). Driver-side O(#files) metadata — the same
    * class as the `_stats` manifest; at 10^5 files this is a few MB,
    * the analogue of a Delta checkpoint's file list. */
  private def writeLayout(vDir: Path, curve: String, bits: Int,
      cols: Seq[String], bounds: Seq[Seq[Double]],
      files: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb.append(curve).append('|').append(bits).append('|')
      .append(cols.mkString(",")).append('\n')
    sb.append(bounds.map(_.mkString(",")).mkString("|")).append('\n')
    files.foreach(f => sb.append(f).append('\n'))
    Files.writeString(vDir.resolve("_layout"), sb.toString)
  }

  private def readLayout(vDir: Path): Option[Layout] = {
    val p = vDir.resolve("_layout")
    if (!Files.isRegularFile(p)) return None
    val lines = Files.readAllLines(p)
    if (lines.size < 2) return None
    val Array(curve, bits, cols) = lines.get(0).split('|')
    val bounds = lines.get(1).split('|').toSeq.map(
      _.split(',').toSeq.map(_.toDouble))
    import scala.jdk.CollectionConverters._
    Some(Layout(curve, bits.toInt, cols.split(',').toSeq, bounds,
      lines.asScala.drop(2).filter(_.nonEmpty).toSet))
  }

  /** Data file NAMES of a (flat) version directory. */
  /** One scheduled-maintenance pass — the nightly job a lakehouse runs
    * per table (Databricks "predictive optimization" class), bundling
    * the three upkeep operations in dependency order with cheap
    * trigger checks so drift-free tables cost one directory listing:
    *  1. incremental OPTIMIZE — folds appended files into the curve
    *     layout, O(appended batch), no-op without a `_layout`;
    *  2. small-file compaction — ONLY when the version holds more than
    *     `maxSmallFiles` data files AND their mean size is under half
    *     `targetFileBytes` (an append-heavy table accretes exactly this
    *     shape; a well-laid-out table must not pay an O(table) rewrite
    *     per tick);
    *  3. version-retention vacuum to `keepVersions`.
    * Returns an (action, detail) audit row per step, skips included, so
    * a scheduler's log shows WHY nothing was rewritten. */
  def maintain(spark: SparkSession, name: String,
      targetFileBytes: Long = 128L << 20, maxSmallFiles: Int = 32,
      keepVersions: Int = 2): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    val reclustered = optimizeIncremental(spark, name,
      targetFileBytes = targetFileBytes)
    out += (("optimize", if (reclustered > 0) s"reclustered_files=$reclustered"
      else "skipped: layout tight or no curve layout"))
    val cur = Paths.get(currentPath(name))
    val files = dataFileNames(cur)
    val bytes = files.map(n => Files.size(cur.resolve(n))).sum
    if (files.size > maxSmallFiles && bytes / files.size < targetFileBytes / 2) {
      compact(spark, name, targetFileBytes)
      out += (("compact",
        s"files=${files.size} -> ${dataFileNames(Paths.get(currentPath(name))).size}"))
    } else out += (("compact", s"skipped: ${files.size} file(s)"))
    val deleted = vacuum(name, keepVersions)
    out += (("vacuum", s"deleted=${deleted.size} version(s)"))
    out.result()
  }

  private def dataFileNames(vDir: Path): Seq[String] =
    Option(vDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).sorted.toSeq

  /** OPTIMIZE, full form (Delta `OPTIMIZE t ZORDER BY (…)`): rewrite the
    * CURRENT version curve-clustered on `cols` and record the layout —
    * curve, effective bits, quantization grid, and the clustered file
    * set — in a `_layout` sidecar, so that later appends can be folded
    * back in incrementally by [[optimizeIncremental]] instead of paying
    * this full-table rewrite again. One-time O(table) cost by design. */
  def optimize(spark: SparkSession, name: String, cols: Seq[String],
      curve: String = "hilbert", bits: Int = 16,
      partitions: Option[Int] = None): Unit = {
    val df = read(spark, name)
    graft.ops.Gold.curveBounds(df, cols, bits) match {
      case None =>
        // no quantizable range (all-null dimension): plain lexicographic
        // clustering, no grid to record — incremental re-cluster is
        // meaningless without a stable grid.
        overwrite(graft.ops.Gold.clusterBy(df, cols, partitions), name)
      case Some(bounds) =>
        overwrite(graft.ops.Gold.clusterOnGrid(
          df, cols, bounds, bits, partitions, curve), name)
        val cur = Paths.get(currentPath(name))
        writeLayout(cur, curve, math.min(bits, 62 / cols.size), cols,
          bounds, dataFileNames(cur))
    }
  }

  /** OPTIMIZE, incremental form (Delta OPTIMIZE semantics): re-cluster
    * ONLY the files appends have landed since the last optimize — the
    * data files not in the `_layout` clustered set — into the SAME
    * quantization grid the original layout used, and hardlink every
    * already-clustered file across untouched. Returns the number of
    * files written (0 = nothing to do, including "never optimized").
    *
    * Scale shape: O(appended bytes) read+write + O(#files) metadata per
    * call, against O(table) for a full re-cluster — the difference
    * between an hourly maintenance tick and an unschedulable job on an
    * append-heavy 100 TB table. Because the grid is pinned, the new
    * files' curve ranges interleave correctly with the old ones'
    * (out-of-grid values clamp to edge cells), so min/max skipping over
    * the merged layout matches a fresh full cluster's pruning
    * (DataSkippingSpec pins this), while layout quality of the
    * untouched files is preserved exactly. `_stats`/`_bloom` sidecars
    * are maintained through the rewrite: carried files keep their rows,
    * rewritten files' rows are dropped and rebuilt for the new files. */
  def optimizeIncremental(spark: SparkSession, name: String,
      partitions: Option[Int] = None,
      targetFileBytes: Long = 128L << 20): Int = {
    val dir = tableDir(name)
    // Optimistic-concurrency loop: the recluster derives FROM the current
    // version's unclustered files, so the expensive rewrite runs outside
    // the commit lock against a base snapshot, and the commit aborts +
    // recomputes if another writer published meanwhile (its appends may
    // hold new unclustered files this pass never saw). Maintenance loses
    // races to ingest by design — it can always rerun.
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val prev = Paths.get(currentPath(name))
      readLayout(prev) match {
        case None => return 0
        case Some(l) =>
          val all = dataFileNames(prev)
          val unclustered = all.filterNot(l.files)
          if (unclustered.isEmpty) return 0
          // Default output-file count is SIZE-derived from the batch (like
          // compact()), not spark.sql.shuffle.partitions: a small appended
          // batch re-range-partitioned into the session default would
          // shatter into that many tiny files on every maintenance tick —
          // the incremental path must fix layout without creating the
          // small-file problem compaction exists to solve.
          val batchBytes = unclustered
            .map(n => Files.size(prev.resolve(n))).sum
          val parts = partitions.getOrElse(
            math.max(1, (batchBytes / targetFileBytes).toInt))
          val batch = readParquet(spark, prev,
            Some(unclustered.map(n => prev.resolve(n).toString)))
          val stage = newStageDir(dir)
          writeParquet(graft.ops.Gold.clusterOnGrid(
            batch, l.cols, l.bounds, l.bits, Some(parts), l.curve), stage)
          var committed = -1
          withCommitLock(dir) {
            if (Paths.get(currentPath(name)) != prev) {
              deleteRecursively(stage) // lost the race: recompute from the new base
            } else {
              val nextV = "v%06d".format(nextVersion(dir))
              val next = dir.resolve(nextV)
              Files.move(stage, next, StandardCopyOption.ATOMIC_MOVE)
              val fresh = dataFileNames(next)
              val kept = all.filter(l.files)
              kept.foreach(n => Files.createLink(next.resolve(n), prev.resolve(n)))
              val freshPaths = fresh.map(n => next.resolve(n).toString)
              carryStatsIncremental(spark, prev, next, batch, freshPaths,
                dropNames = unclustered)
              carryBloomsIncremental(spark, prev, next, batch, freshPaths,
                dropNames = unclustered)
              writeLayout(next, l.curve, l.bits, l.cols, l.bounds, kept ++ fresh)
              repoint(dir, name, nextV)
              committed = fresh.size
            }
          }
          if (committed >= 0) return committed
      }
    }
    throw new IllegalStateException(
      s"optimizeIncremental($name) lost 3 consecutive commit races")
  }

  private def nextVersion(dir: Path): Int = {
    val existing = Option(dir.toFile.list()).getOrElse(Array.empty[String])
      .filter(isVersionTag)
      .flatMap(s => scala.util.Try(s.drop(1).toInt).toOption)
    if (existing.isEmpty) 1 else existing.max + 1
  }

  private def pruneOldVersions(dir: Path, keep: Int,
      pinned: Option[String] = None): Unit = {
    // Never delete the pointed-to version: after a rollback the pointer
    // can sit below the newest tags, and automatic pruning must not pull
    // the serving data out from under the table. Likewise never delete a
    // version pinned by the multi-table commit file — an in-flight
    // Snapshot resolves through it.
    val cur = scala.util.Try(Files.readString(dir.resolve("_CURRENT")).trim)
      .getOrElse("")
    val versions = Option(dir.toFile.list()).getOrElse(Array.empty[String])
      .filter(isVersionTag).sorted
    // Supersession-age grace: version v stopped being resolvable-as-
    // current when its immediate successor committed; only reap once
    // that moment is at least `retentionMinAgeMs` in the past, so any
    // snapshot that pinned v has the full grace window to finish its
    // read (the retention contract a 1000-reader lake needs — version
    // dirs of a superseded batch are cheap to keep for minutes,
    // mid-read file deletion is not). A successor without a commit
    // stamp reads as 0 (ancient) — the ungated legacy behavior.
    val now = System.currentTimeMillis()
    def commitTs(v: String): Long =
      scala.util.Try(Files.readString(dir.resolve(v).resolve("_commit_ts"))
        .trim.toLong).getOrElse(0L)
    versions.dropRight(keep).filterNot(v => v == cur || pinned.contains(v))
      .foreach { v =>
        val supersededAt = versions.find(_ > v).map(commitTs).getOrElse(now)
        if (now - supersededAt >= retentionMinAgeMs)
          deleteRecursively(dir.resolve(v))
      }
  }

  private def deleteRecursively(p: Path): Unit = {
    // try/finally: Files.walk holds directory handles until closed.
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }
}

object TableCatalog {
  /** One table in a [[TableCatalog.publishAtomicChained]] transaction:
    * `build` receives a resolver that reads same-transaction tables
    * staged before this one (else the live catalog). `build` runs on a
    * staging lane, concurrently with other batches' builds. */
  final case class ChainedBatch(
      name: String,
      build: (String => org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
      partitionBy: Seq[String] = Nil)
}

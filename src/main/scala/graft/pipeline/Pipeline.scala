package graft.pipeline

import graft.config.Configs._
import graft.core.{Clock, Lanes, Sessions, TableCatalog}
import graft.ops._
import graft.scd.{Scd2, ScdColumns}
import graft.schema.SchemaRegistry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Medallion pipeline layers — the reference's five entry points
  * (`main.py:29-40`) rebuilt on the graft operator library, reading and
  * writing through the Parquet-backed [[TableCatalog]] instead of Unity
  * Catalog + Delta.
  *
  * Execution mode: each entry point picks its session once, from the
  * size of its own input, and runs every frame, staged read and lane of
  * the call on it. The input is what exists when the call starts: the
  * raw files its bronze globs match ([[Ingest.globBytes]]) plus the
  * current versions of the catalog tables it reads or merges into
  * ([[TableCatalog.currentBytes]]), counted without a Spark job and only
  * up to the bound. Below [[Sessions.interpretedBelowBytes]] the call
  * runs on an interpreted clone of the caller's session, which compiles
  * no generated code; otherwise on the caller's session, unchanged (see
  * [[Sessions.forInput]]). The caller's session conf is never set.
  */
object Pipeline {

  /** Bronze Companies House: raw JSON → typed bronze tables
    * (`medallion/bronze/ds2b_company_house.py:17-101`), one table per
    * [[Lanes]] job, each with its own commit. */
  def bronzeCompanyHouse(spark: SparkSession, conf: BronzeConf, cat: TableCatalog): Unit = {
    val s = sessionFor(spark, cat, companyHouseGlobs(conf), Nil)
    Lanes.run(s, bronzeCompanyHouseJobs(s, conf, cat))
  }

  private def companyHouseGlob(conf: BronzeConf, t: BronzeTableConf): String =
    s"${conf.basePath}/*/*/${t.file}"

  private def companyHouseGlobs(conf: BronzeConf): Seq[String] =
    conf.tables.map(companyHouseGlob(conf, _))

  private def bronzeCompanyHouseJobs(spark: SparkSession, conf: BronzeConf,
      cat: TableCatalog): Seq[(String, () => Unit)] =
    conf.tables.map { t =>
      val name = s"${conf.catalog}.${conf.schema}.${t.name}"
      name -> { () =>
        var df = Ingest.json(spark, SchemaRegistry.companiesHouse(t.name),
          companyHouseGlob(conf, t))
        df = Ingest.withPathIdentity(Ingest.withFilePath(df))
        if (t.explode) {
          val arrayCol = t.explodeColumn.getOrElse("items")
          df = Ingest.explodeItems(df, arrayCol, Seq("company_number", "file_path"))
        }
        df = Ingest.withAudit(df)
        cat.overwrite(df, name)
      }
    }

  /** Bronze YFinance: raw CSV → typed bronze tables
    * (`medallion/bronze/ds2b_yfinance.py:17-78`), one table per
    * [[Lanes]] job, each with its own commit. */
  def bronzeYFinance(spark: SparkSession, conf: BronzeConf, cat: TableCatalog): Unit = {
    val s = sessionFor(spark, cat, yFinanceGlobs(conf), Nil)
    Lanes.run(s, bronzeYFinanceJobs(s, conf, cat))
  }

  private def yFinanceGlob(conf: BronzeConf, t: BronzeTableConf): String =
    s"${conf.basePath}/${t.file}"

  private def yFinanceGlobs(conf: BronzeConf): Seq[String] =
    conf.tables.map(yFinanceGlob(conf, _))

  private def bronzeYFinanceJobs(spark: SparkSession, conf: BronzeConf,
      cat: TableCatalog): Seq[(String, () => Unit)] =
    conf.tables.map { t =>
      val name = s"${conf.catalog}.${conf.schema}.${t.name}"
      name -> { () =>
        var df = Ingest.csv(spark, SchemaRegistry.yfinance(t.name), yFinanceGlob(conf, t))
        df = Ingest.withFilePath(df)
        df = Ingest.cleanColumnNames(Ingest.withAudit(df))
        cat.overwrite(df, name)
      }
    }

  /** Silver company master (`medallion/silver/b2s_company_house.py:55-136`). */
  def silverCompanyMaster(spark: SparkSession, catalog: String, cat: TableCatalog,
      clock: Clock = Clock.Wall): Unit = {
    val s = sessionFor(spark, cat, Nil, companyMasterInputs(catalog))
    overwriteEach(s, cat, Seq(silverCompanyMasterBatch(catalog, clock)))
  }

  /** Publish each batch as its own single-table commit, concurrently on
    * [[Lanes]]; every name a batch reads resolves through the live
    * catalog. */
  private def overwriteEach(spark: SparkSession, cat: TableCatalog,
      batches: Seq[TableCatalog.ChainedBatch]): Unit =
    Lanes.run(spark, batches.map { b => b.name -> { () =>
      cat.overwrite(b.build(n => cat.read(spark, n)), b.name, b.partitionBy)
    }})

  /** The bronze tables the company master reads: overview, officers,
    * filing history. */
  private def companyMasterInputs(catalog: String): Seq[String] =
    Seq("overview", "officers", "filing_history").map(t => s"$catalog.bronze.$t")

  private def silverCompanyMasterBatch(catalog: String, clock: Clock) =
    TableCatalog.ChainedBatch(s"$catalog.silver.company_master", read => {
      val Seq(overview, officers, filings) = companyMasterInputs(catalog).map(read)
      Master.companyMaster(Master.cleanOverview(overview),
        Master.officerSummary(officers), Master.filingSummary(filings), clock)
    }, partitionBy = Seq("company_status"))

  /** Silver SCD2 for YFinance tables (`medallion/silver/b2s_yfinance.py:66-190`). */
  def silverScd2(spark: SparkSession, conf: SilverConf, cat: TableCatalog,
      clock: Clock = Clock.Wall): Unit = {
    val s = sessionFor(spark, cat, Nil, scd2Inputs(conf))
    overwriteEach(s, cat, silverScd2Batches(s, conf, cat, clock))
  }

  private def scd2Source(conf: SilverConf, t: ScdTableConf): String =
    s"${conf.catalog}.${conf.sourceSchema}.${t.name}"

  private def scd2Target(conf: SilverConf, t: ScdTableConf): String =
    s"${conf.catalog}.${conf.targetSchema}.${t.name}"

  /** The bronze tables SCD2 reads and the silver tables it merges into. */
  private def scd2Inputs(conf: SilverConf): Seq[String] =
    conf.tables.flatMap(t => Seq(scd2Source(conf, t), scd2Target(conf, t)))

  private def silverScd2Batches(spark: SparkSession, conf: SilverConf,
      cat: TableCatalog, clock: Clock): Seq[TableCatalog.ChainedBatch] =
    conf.tables.map { t =>
      val targetName = scd2Target(conf, t)
      TableCatalog.ChainedBatch(targetName, read => {
        val src0 = read(scd2Source(conf, t))
        val src = Quality.nonNegativeNumerics(Quality.requireKeys(src0, t.businessKeys))
        val scd = new Scd2(t.businessKeys, t.trackedColumns,
          ScdColumns(hash = t.hashColumn), clock)
        // merge base = pre-transaction state (the live catalog, never a
        // same-transaction staging — SCD2 folds onto published history)
        val target = if (cat.exists(targetName)) Some(cat.read(spark, targetName)) else None
        scd(target, src)
      })
    }

  /** Gold: promote + dimensions (current snapshot, clustered) + facts
    * with KPIs (`medallion/gold/s2g.py:58-156`). */
  def gold(spark: SparkSession, conf: GoldConf, cat: TableCatalog): Unit = {
    val s = sessionFor(spark, cat, Nil, goldInputs(conf))
    overwriteEach(s, cat, goldBatches(conf))
  }

  private def goldSource(conf: GoldConf, n: String): String =
    s"${conf.catalog}.${conf.sourceSchema}.$n"

  /** The silver tables gold reads. */
  private def goldInputs(conf: GoldConf): Seq[String] =
    (conf.promoteTables ++ conf.dimensions ++ conf.facts.map(_.sourceTable))
      .map(goldSource(conf, _))

  private def goldBatches(conf: GoldConf): Seq[TableCatalog.ChainedBatch] = {
    def cluster(df: DataFrame): DataFrame =
      if (df.columns.contains("company_number")) Gold.clusterBy(df, Seq("company_number"))
      else df
    val promoted = conf.promoteTables.map { t =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.$t",
        read => Gold.dropTechnical(read(goldSource(conf, t))))
    }
    val dims = conf.dimensions.map { d =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.dim_$d",
        read => cluster(Gold.dropTechnical(Gold.currentOnly(read(goldSource(conf, d))))))
    }
    val facts = conf.facts.map { f =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.${f.name}",
        read => {
          var df = Gold.dropTechnical(Gold.currentOnly(read(goldSource(conf, f.sourceTable))))
          if (f.name == "fact_fundamentals")
            df = Gold.fundamentalsKpis(df, orderCols = Seq(f.dateColumn))
          cluster(df)
        }, partitionBy = f.partitionBy)
    }
    promoted ++ dims ++ facts
  }

  /** Fail-fast orchestration (`main.py:29-40`), with independent tables
    * staged concurrently on [[Lanes]] (lane count `max(1, min(tables,
    * defaultParallelism / 2))`) instead of the reference's one-table-at-
    * a-time loop.
    *
    * Bronze: the six bronze tables run concurrently, each landing with
    * its own per-table commit (raw ingest, no cross-table invariant).
    * Silver and gold start only after every bronze lane has finished;
    * they stage concurrently and publish in ONE multi-table atomic commit
    * ([[TableCatalog.publishAtomicChained]]) — a [[TableCatalog.snapshot]]
    * reader never observes new silver with stale gold, which the
    * reference's sequential Delta writes cannot guarantee. Gold builds
    * from the exact staged silver bytes (no early publish, no double
    * compute).
    *
    * Failure: if a bronze table fails, bronze tables already in flight
    * still publish, those not yet started are skipped, silver and gold
    * never start, and the first failure in table order is rethrown. A
    * silver or gold failure aborts the transaction with nothing
    * published and no staged data left behind. */
  def run(spark: SparkSession,
      bronzeCh: BronzeConf, bronzeYf: BronzeConf,
      silverYf: SilverConf, goldConf: GoldConf,
      cat: TableCatalog, clock: Clock = Clock.Wall): Unit =
    runOn(sessionFor(spark, cat, companyHouseGlobs(bronzeCh) ++ yFinanceGlobs(bronzeYf),
        companyMasterInputs(bronzeCh.catalog) ++ scd2Inputs(silverYf) ++ goldInputs(goldConf)),
      bronzeCh, bronzeYf, silverYf, goldConf, cat, clock)

  /** [[run]] on `session` as given, whatever the input size: with the
    * caller's own session it is the codegen path, which a differential
    * spec compares against the interpreted one. */
  private[graft] def runOn(session: SparkSession,
      bronzeCh: BronzeConf, bronzeYf: BronzeConf,
      silverYf: SilverConf, goldConf: GoldConf,
      cat: TableCatalog, clock: Clock): Unit = {
    Lanes.run(session, bronzeCompanyHouseJobs(session, bronzeCh, cat) ++
      bronzeYFinanceJobs(session, bronzeYf, cat))
    cat.publishAtomicChained(session,
      silverCompanyMasterBatch(bronzeCh.catalog, clock) +:
        (silverScd2Batches(session, silverYf, cat, clock) ++ goldBatches(goldConf)))
  }

  /** The session a call whose bronze scans read `globs` and whose
    * silver or gold layers read or merge into catalog `tables` runs on:
    * their bytes, counted up to [[Sessions.interpretedBelowBytes]], pick
    * it through [[Sessions.forInput]]. */
  private def sessionFor(spark: SparkSession, cat: TableCatalog, globs: Seq[String],
      tables: Seq[String]): SparkSession = {
    val bound = Sessions.interpretedBelowBytes
    var bytes = 0L
    for (g <- globs if bytes < bound) bytes += Ingest.globBytes(g, bound - bytes)
    for (t <- tables.distinct if bytes < bound) bytes += cat.currentBytes(t, bound - bytes)
    Sessions.forInput(spark, bytes)
  }
}

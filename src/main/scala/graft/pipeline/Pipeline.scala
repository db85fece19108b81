package graft.pipeline

import graft.config.Configs._
import graft.core.{Clock, Lanes, TableCatalog}
import graft.ops._
import graft.scd.{Scd2, ScdColumns}
import graft.schema.SchemaRegistry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Medallion pipeline layers — the reference's five entry points
  * (`main.py:29-40`) rebuilt on the graft operator library, reading and
  * writing through the Parquet-backed [[TableCatalog]] instead of Unity
  * Catalog + Delta.
  */
object Pipeline {

  /** Bronze Companies House: raw JSON → typed bronze tables
    * (`medallion/bronze/ds2b_company_house.py:17-101`), one table per
    * [[Lanes]] job, each with its own commit. */
  def bronzeCompanyHouse(spark: SparkSession, conf: BronzeConf, cat: TableCatalog): Unit =
    Lanes.run(spark, bronzeCompanyHouseJobs(spark, conf, cat))

  private def bronzeCompanyHouseJobs(spark: SparkSession, conf: BronzeConf,
      cat: TableCatalog): Seq[(String, () => Unit)] =
    conf.tables.map { t =>
      val name = s"${conf.catalog}.${conf.schema}.${t.name}"
      name -> { () =>
        val glob = s"${conf.basePath}/*/*/${t.file}"
        var df = Ingest.json(spark, SchemaRegistry.companiesHouse(t.name), glob)
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
  def bronzeYFinance(spark: SparkSession, conf: BronzeConf, cat: TableCatalog): Unit =
    Lanes.run(spark, bronzeYFinanceJobs(spark, conf, cat))

  private def bronzeYFinanceJobs(spark: SparkSession, conf: BronzeConf,
      cat: TableCatalog): Seq[(String, () => Unit)] =
    conf.tables.map { t =>
      val name = s"${conf.catalog}.${conf.schema}.${t.name}"
      name -> { () =>
        val glob = s"${conf.basePath}/${t.file}"
        var df = Ingest.csv(spark, SchemaRegistry.yfinance(t.name), glob)
        df = Ingest.withFilePath(df)
        df = Ingest.cleanColumnNames(Ingest.withAudit(df))
        cat.overwrite(df, name)
      }
    }

  /** Silver company master (`medallion/silver/b2s_company_house.py:55-136`). */
  def silverCompanyMaster(spark: SparkSession, catalog: String, cat: TableCatalog,
      clock: Clock = Clock.Wall): Unit =
    overwriteEach(spark, cat, Seq(silverCompanyMasterBatch(catalog, clock)))

  /** Publish each batch as its own single-table commit, concurrently on
    * [[Lanes]]; every name a batch reads resolves through the live
    * catalog. */
  private def overwriteEach(spark: SparkSession, cat: TableCatalog,
      batches: Seq[TableCatalog.ChainedBatch]): Unit =
    Lanes.run(spark, batches.map { b => b.name -> { () =>
      cat.overwrite(b.build(n => cat.read(spark, n)), b.name, b.partitionBy)
    }})

  private def silverCompanyMasterBatch(catalog: String, clock: Clock) =
    TableCatalog.ChainedBatch(s"$catalog.silver.company_master", read => {
      Master.companyMaster(
        Master.cleanOverview(read(s"$catalog.bronze.overview")),
        Master.officerSummary(read(s"$catalog.bronze.officers")),
        Master.filingSummary(read(s"$catalog.bronze.filing_history")),
        clock)
    }, partitionBy = Seq("company_status"))

  /** Silver SCD2 for YFinance tables (`medallion/silver/b2s_yfinance.py:66-190`). */
  def silverScd2(spark: SparkSession, conf: SilverConf, cat: TableCatalog,
      clock: Clock = Clock.Wall): Unit =
    overwriteEach(spark, cat, silverScd2Batches(spark, conf, cat, clock))

  private def silverScd2Batches(spark: SparkSession, conf: SilverConf,
      cat: TableCatalog, clock: Clock): Seq[TableCatalog.ChainedBatch] =
    conf.tables.map { t =>
      val targetName = s"${conf.catalog}.${conf.targetSchema}.${t.name}"
      TableCatalog.ChainedBatch(targetName, read => {
        val src0 = read(s"${conf.catalog}.${conf.sourceSchema}.${t.name}")
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
  def gold(spark: SparkSession, conf: GoldConf, cat: TableCatalog): Unit =
    overwriteEach(spark, cat, goldBatches(conf))

  private def goldBatches(conf: GoldConf): Seq[TableCatalog.ChainedBatch] = {
    def silverName(n: String) = s"${conf.catalog}.${conf.sourceSchema}.$n"
    def cluster(df: DataFrame): DataFrame =
      if (df.columns.contains("company_number")) Gold.clusterBy(df, Seq("company_number"))
      else df
    val promoted = conf.promoteTables.map { t =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.$t",
        read => Gold.dropTechnical(read(silverName(t))))
    }
    val dims = conf.dimensions.map { d =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.dim_$d",
        read => cluster(Gold.dropTechnical(Gold.currentOnly(read(silverName(d))))))
    }
    val facts = conf.facts.map { f =>
      TableCatalog.ChainedBatch(s"${conf.catalog}.${conf.targetSchema}.${f.name}",
        read => {
          var df = Gold.dropTechnical(Gold.currentOnly(read(silverName(f.sourceTable))))
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
      cat: TableCatalog, clock: Clock = Clock.Wall): Unit = {
    Lanes.run(spark, bronzeCompanyHouseJobs(spark, bronzeCh, cat) ++
      bronzeYFinanceJobs(spark, bronzeYf, cat))
    cat.publishAtomicChained(spark,
      silverCompanyMasterBatch(bronzeCh.catalog, clock) +:
        (silverScd2Batches(spark, silverYf, cat, clock) ++ goldBatches(goldConf)))
  }
}

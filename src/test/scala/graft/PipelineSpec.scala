package graft

import graft.config.Configs._
import graft.core.{Clock, TableCatalog}
import graft.pipeline.Pipeline

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** End-to-end golden test (SURVEY.md §5.4): miniature raw zone → bronze →
  * silver → gold with pinned clocks, including the documented edge cases
  * (FIXTURES.md) and an incremental second run driving the SCD2 history.
  */
class PipelineSpec extends SparkSpec {

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  private def overviewJson(name: String, number: String, status: String,
      created: String): String =
    s"""{
       |  "company_name": "$name",
       |  "company_number": "$number",
       |  "company_status": "$status",
       |  "date_of_creation": "$created",
       |  "jurisdiction": "england-wales",
       |  "type": "ltd",
       |  "etag": "e-$number",
       |  "has_charges": false,
       |  "has_insolvency_history": false
       |}""".stripMargin

  /** The golden raw zone under `root`: the documented edge cases
    * (FIXTURES.md) for every layer, as (bronze CH, bronze YF, silver,
    * gold) confs. [[landGoldenDay]] lands its incremental day. */
  private def goldenZone(root: Path): (BronzeConf, BronzeConf, SilverConf, GoldConf) = {
    val raw = root.resolve("raw")
    val ch = raw.resolve("companies_house")

    // -- Companies House raw zone (date/company partitioned dirs) --
    // company A twice (two ingestion dates → dedupe), padded name + lowercase status
    write(ch.resolve("ingestion_date=2026-01-01/00000001/overview.json"),
      overviewJson("  Alpha Ltd  ", "00000001", "active", "2000-06-15"))
    write(ch.resolve("ingestion_date=2026-01-02/00000001/overview.json"),
      overviewJson("  Alpha Ltd  ", "00000001", "active", "2000-06-15"))
    // company B: UPPER status
    write(ch.resolve("ingestion_date=2026-01-01/00000002/overview.json"),
      overviewJson("Beta Plc", "00000002", "ACTIVE", "2010-01-01"))
    // company C: future creation date → negative age, filtered at silver
    write(ch.resolve("ingestion_date=2026-01-01/00000003/overview.json"),
      overviewJson("Gamma Ltd", "00000003", "dissolved", "2100-01-01"))

    write(ch.resolve("ingestion_date=2026-01-01/00000001/officers.json"),
      """{"items": [
        |  {"name": "Jo", "officer_role": "director", "appointed_on": "2001-01-01", "nationality": "British"},
        |  {"name": "Sam", "officer_role": "director", "appointed_on": "2002-01-01", "nationality": "British"},
        |  {"name": "Kim", "officer_role": "secretary", "appointed_on": "2003-01-01", "nationality": "Irish"}
        |]}""".stripMargin)
    // B has an empty items array → explode drops → null officer_count at silver
    write(ch.resolve("ingestion_date=2026-01-01/00000002/officers.json"),
      """{"items": []}""")
    write(ch.resolve("ingestion_date=2026-01-01/00000001/filing-history.json"),
      """{"items": [
        |  {"date": "2025-10-01", "type": "AA", "description": "accounts", "category": "accounts"},
        |  {"date": "2025-11-05", "type": "CS01", "description": "confirmation", "category": "confirmation-statement"}
        |]}""".stripMargin)

    // -- YFinance raw zone (CSV) --
    val yf = raw.resolve("yfinance")
    write(yf.resolve("company_details/part0.csv"),
      """company_name,company_number,ticker,symbol,short_name,long_name,industry,sector,country,exchange,market_cap,website,ingestion_date
        |Alpha Ltd,00000001,ALP,ALP.L,Alpha,Alpha Ltd,Software,Tech,UK,LSE,1000000,https://a.example,2026-01-01
        |Beta Plc,00000002,BET,BET.L,Beta,Beta Plc,Banking,Fin,UK,LSE,2000000,https://b.example,2026-01-01
        |""".stripMargin)
    write(yf.resolve("fundamentals_data/part0.csv"),
      """company_name,company_number,ticker,quarter_end_date,total_revenue,gross_profit,operating_income,net_income,ebitda,total_assets,total_liabilities,cash,long_term_debt,operating_cash_flow,capital_expenditure,free_cash_flow,ingestion_date
        |Alpha Ltd,00000001,ALP,2025-09-30,100.0,40.0,20.0,15.0,25.0,500.0,200.0,50.0,80.0,30.0,10.0,20.0,2026-01-01
        |Alpha Ltd,00000001,ALP,2025-12-31,150.0,60.0,30.0,25.0,45.0,520.0,210.0,60.0,75.0,40.0,12.0,28.0,2026-01-01
        |Beta Plc,00000002,BET,2025-12-31,0.0,0.0,0.0,0.0,5.0,900.0,700.0,100.0,300.0,20.0,5.0,15.0,2026-01-01
        |""".stripMargin)
    // trading: one negative close (P6 gate) and one null key (P5 gate)
    write(yf.resolve("trading_data/part0.csv"),
      """company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date
        |00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06
        |00000001,ALP,2026-01-06,10.5,12.0,10.0,11.0,11.0,1500,2026-01-07
        |00000002,BET,2026-01-05,20.0,21.0,19.0,-20.5,20.5,900,2026-01-06
        |,BET,2026-01-06,20.5,21.5,20.0,21.0,21.0,800,2026-01-07
        |""".stripMargin)

    val bronzeCh = BronzeConf("companies", "bronze", ch.toString, "json", Seq(
      BronzeTableConf("overview", "overview.json"),
      BronzeTableConf("officers", "officers.json", explode = true, Some("items")),
      BronzeTableConf("filing_history", "filing-history.json", explode = true, Some("items"))))
    val bronzeYf = BronzeConf("companies", "bronze", yf.toString, "csv", Seq(
      BronzeTableConf("company_details", "company_details/*.csv"),
      BronzeTableConf("fundamentals_data", "fundamentals_data/*.csv"),
      BronzeTableConf("trading_data", "trading_data/*.csv")))
    val silverYf = SilverConf("companies", "bronze", "silver", Seq(
      ScdTableConf("company_details", Seq("company_number"),
        Seq("market_cap", "industry", "sector")),
      ScdTableConf("fundamentals_data", Seq("company_number", "quarter_end_date"),
        Seq("total_revenue", "ebitda", "net_income")),
      ScdTableConf("trading_data", Seq("company_number", "date"),
        Seq("open", "high", "low", "close", "adj_close", "volume"))))
    val goldConf = GoldConf("companies", "silver", "gold",
      promoteTables = Seq("company_master"),
      dimensions = Seq("company_details"),
      facts = Seq(
        FactConf("fact_trading", "trading_data", "date", Seq("date")),
        FactConf("fact_fundamentals", "fundamentals_data", "quarter_end_date", Nil)))

    (bronzeCh, bronzeYf, silverYf, goldConf)
  }

  /** The golden zone's incremental day: one changed close and one new
    * trading day. */
  private def landGoldenDay(root: Path): Unit =
    write(root.resolve("raw/yfinance/trading_data/part0.csv"),
      """company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date
        |00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06
        |00000001,ALP,2026-01-06,10.5,12.0,10.0,11.5,11.5,1500,2026-02-01
        |00000001,ALP,2026-02-02,11.5,12.5,11.0,12.0,12.0,2000,2026-02-03
        |""".stripMargin)

  /** A table's rows as sorted text, column-name ordered. Two columns are
    * volatile by contract and masked to a stable form: `file_path` embeds
    * the test temp dir (the raw-zone-relative suffix is kept), and
    * `last_updated_ts` is the reference's `current_timestamp()` audit
    * column. */
  private def canonical(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    def mask(c: String, v: String): String = c match {
      case "file_path" => v.replaceFirst(".*/raw/", "raw/")
      case "last_updated_ts" => "<volatile-ts>"
      case _ => v
    }
    val rows = df.select(cols.map(col): _*).collect().map { r =>
      cols.indices.map(i =>
        if (r.isNullAt(i)) "<null>" else mask(cols(i), r.get(i).toString))
        .mkString("\u0001")
    }.sorted
    (cols.mkString("\u0001") +: rows.toSeq).mkString("\n") + "\n"
  }

  test("full medallion pipeline: raw -> bronze -> silver -> gold, then incremental SCD2") {
    val root = Files.createTempDirectory("graft-e2e")
    val (bronzeCh, bronzeYf, silverYf, goldConf) = goldenZone(root)
    val cat = new TableCatalog(root.resolve("warehouse").toString)
    Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, cat,
      clock = Clock.fixed("2026-01-10"))

    // -- bronze assertions --
    val officersB = cat.read(spark, "companies.bronze.officers")
    assert(officersB.count() == 3) // empty items array contributed nothing
    assert(officersB.columns.contains("officer_role"))

    // -- silver company_master --
    val master = cat.read(spark, "companies.silver.company_master")
    val rows = master.collect().map(r => r.getAs[String]("company_number") -> r).toMap
    assert(rows.keySet == Set("00000001", "00000002")) // future-dated gamma filtered
    assert(rows("00000001").getAs[String]("company_name") == "Alpha Ltd") // trimmed
    assert(rows("00000001").getAs[String]("company_status") == "Active")  // initcap
    assert(rows("00000002").getAs[String]("company_status") == "Active")
    assert(rows("00000001").getAs[Long]("officer_count") == 3)
    assert(rows("00000001").getAs[Long]("unique_roles") == 2)
    assert(rows("00000001").getAs[java.sql.Date]("last_filing_date").toString == "2025-11-05")
    assert(rows("00000002").isNullAt(rows("00000002").fieldIndex("officer_count")))

    // -- silver trading SCD2: quality gates dropped 2 of 4 rows --
    val trading1 = cat.read(spark, "companies.silver.trading_data")
    assert(trading1.count() == 2)
    assert(trading1.filter(col("is_current") === true).count() == 2)

    // -- gold facts --
    val fundamentals = cat.read(spark, "companies.gold.fact_fundamentals")
    val alpha = fundamentals.filter(col("company_number") === "00000001")
      .sort("quarter_end_date").collect()
    assert(alpha.head.isNullAt(alpha.head.fieldIndex("revenue_qoq_growth")))
    assert(alpha.last.getAs[Double]("revenue_qoq_growth") == 0.5) // (150-100)/100
    assert(alpha.head.getAs[Double]("ebitda_margin") == 0.25)
    val beta = fundamentals.filter(col("company_number") === "00000002").collect().head
    assert(beta.isNullAt(beta.fieldIndex("ebitda_margin"))) // when-without-otherwise
    assert(cat.read(spark, "companies.gold.fact_trading").count() == 2)
    assert(cat.read(spark, "companies.gold.dim_company_details")
      .filter(col("is_current") === true).count() == 2)

    // -- incremental second run: one changed close + one new trading day --
    landGoldenDay(root)
    Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, cat,
      clock = Clock.fixed("2026-02-05"))

    val trading2 = cat.read(spark, "companies.silver.trading_data")
    // 2 initial + 1 expired-version replacement + 1 new day = 4 rows
    assert(trading2.count() == 4)
    val cur = trading2.filter(col("is_current") === true)
    assert(cur.count() == 3)
    val changed = trading2.filter(col("date") === lit("2026-01-06").cast("date"))
      .sort("effective_from").collect()
    assert(changed.length == 2)
    assert(!changed.head.getAs[Boolean]("is_current")
      && changed.head.getAs[java.sql.Date]("effective_to").toString == "2026-02-05")
    assert(changed.last.getAs[Boolean]("is_current")
      && changed.last.getAs[Double]("close") == 11.5)
    // unchanged row kept its original effective_from
    val kept = trading2.filter(col("date") === lit("2026-01-05").cast("date")).collect()
    assert(kept.length == 1
      && kept.head.getAs[java.sql.Date]("effective_from").toString == "2026-01-10")

    // gold rebuilt from current rows only
    assert(cat.read(spark, "companies.gold.fact_trading").count() == 3)

    // -- committed-golden comparison (SURVEY.md §5.4): every silver/gold
    // table's canonical dump must match the goldens byte-for-byte, so a
    // refactor that silently shifts any value fails here even when the
    // property assertions above still hold. Regenerate deliberately with
    // GRAFT_REGEN_GOLDENS=1 after an INTENDED semantic change.
    val goldenDir = java.nio.file.Paths.get("src/test/resources/goldens")
    Seq("companies.silver.company_master", "companies.silver.trading_data",
        "companies.gold.fact_fundamentals", "companies.gold.fact_trading",
        "companies.gold.dim_company_details").foreach { t =>
      val got = canonical(cat.read(spark, t))
      val f = goldenDir.resolve(s"$t.txt")
      if (sys.env.contains("GRAFT_REGEN_GOLDENS")) write(f, got)
      else {
        assert(Files.exists(f), s"golden $f missing — regenerate with GRAFT_REGEN_GOLDENS=1")
        val want = Files.readString(f)
        if (got != want) {
          val gl = got.split("\n", -1); val wl = want.split("\n", -1)
          val i = gl.zipAll(wl, "<eof>", "<eof>").indexWhere { case (a, b) => a != b }
          fail(s"golden drift for $t at line ${i + 1}:\n  got:  ${gl.lift(i)}\n  want: ${wl.lift(i)}")
        }
      }
    }
  }

  test("a small run is interpreted: its day compiles few classes and publishes the codegen path's tables") {
    import org.apache.spark.sql.graft.CodegenCount
    val root = Files.createTempDirectory("graft-modes")
    val (bronzeCh, bronzeYf, silverYf, goldConf) = goldenZone(root)
    val interpreted = new TableCatalog(root.resolve("interpreted").toString)
    val codegen = new TableCatalog(root.resolve("codegen").toString)
    val conf = spark.conf.getAll
    // one run per path over the same raw zone; returns the classes the
    // interpreted run compiled
    def runBoth(day: String): Long = {
      val c0 = CodegenCount.compiled
      Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, interpreted, Clock.fixed(day))
      val compiled = CodegenCount.compiled - c0
      Pipeline.runOn(spark, bronzeCh, bronzeYf, silverYf, goldConf, codegen, Clock.fixed(day))
      compiled
    }
    val load = runBoth("2026-01-10")
    landGoldenDay(root)
    val day = runBoth("2026-02-05")
    info(s"classes compiled by the interpreted load: $load, day: $day")
    assert(day <= 10, s"the interpreted day compiled $day classes")
    assert(spark.conf.getAll == conf, "a run changed the caller's conf")
    val tables = interpreted.listTables()
    assert(tables.size == 14 && tables == codegen.listTables(), tables)
    tables.foreach { t =>
      assert(canonical(interpreted.read(spark, t)) == canonical(codegen.read(spark, t)), t)
    }
  }

  test("an entry point runs interpreted below the input bound and on the caller's session at it") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    import graft.core.Sessions
    val root = Files.createTempDirectory("graft-bound")
    val yf = root.resolve("raw/yfinance")
    val header = "company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date\n"
    val row = "00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06\n"
    write(yf.resolve("trading_data/part0.csv"), header + row)
    val conf = BronzeConf("companies", "bronze", yf.toString, "csv",
      Seq(BronzeTableConf("trading_data", "trading_data/*.csv")))
    val cat = new TableCatalog(root.resolve("warehouse").toString)
    // whole-stage codegen nodes of every query the calls run; the
    // caller's listeners reach a clone's queries too
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        stages.add(codegenStages(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def bronze(): Seq[Int] = {
      stages.clear()
      Pipeline.bronzeYFinance(spark, conf, cat)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      stages.asScala.toSeq
    }
    val rows = (Sessions.interpretedBelowBytes / row.length + 1).toInt
    spark.listenerManager.register(listener)
    try {
      val small = bronze()
      assert(small.nonEmpty && small.forall(_ == 0), small)
      write(yf.resolve("trading_data/part1.csv"), header + row * rows)
      val large = bronze()
      assert(large.exists(_ > 0), large)
    } finally spark.listenerManager.unregister(listener)
    assert(cat.read(spark, "companies.bronze.trading_data").count() == rows + 1L)
  }

  test("silver+gold publish atomically: a racing snapshot reader never sees a torn layer pair") {
    // The derivation invariant gold ≡ dropTechnical(currentOnly(silver))
    // must hold under EVERY snapshot a racing reader takes while the
    // pipeline republishes both layers — the guarantee sequential
    // per-table publishes (reference main.py:32-38) cannot give, and the
    // reason run() routes silver+gold through publishAtomicChained.
    import graft.ops.Gold
    val root = Files.createTempDirectory("graft-atomic")
    val yf = root.resolve("raw/yfinance")
    def tradingCsv(rows: Seq[String]): Unit = write(
      yf.resolve("trading_data/part0.csv"),
      ("company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date"
        +: rows).mkString("", "\n", "\n"))
    tradingCsv(Seq("00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06"))

    val cat = new TableCatalog(root.resolve("warehouse").toString)
    val bronzeYf = BronzeConf("companies", "bronze", yf.toString, "csv",
      Seq(BronzeTableConf("trading_data", "trading_data/*.csv")))
    val silverYf = SilverConf("companies", "bronze", "silver", Seq(
      ScdTableConf("trading_data", Seq("company_number", "date"),
        Seq("open", "high", "low", "close", "adj_close", "volume"))))
    val goldConf = GoldConf("companies", "silver", "gold",
      promoteTables = Nil, dimensions = Nil,
      facts = Seq(FactConf("fact_trading", "trading_data", "date", Nil)))
    def runOnce(day: String): Unit = {
      Pipeline.bronzeYFinance(spark, bronzeYf, cat)
      cat.publishAtomicChained(spark, Seq(
        TableCatalog.ChainedBatch("companies.silver.trading_data", read => {
          val src0 = read("companies.bronze.trading_data")
          val src = graft.ops.Quality.nonNegativeNumerics(
            graft.ops.Quality.requireKeys(src0, Seq("company_number", "date")))
          val scd = new graft.scd.Scd2(Seq("company_number", "date"),
            Seq("open", "high", "low", "close", "adj_close", "volume"),
            graft.scd.ScdColumns(), Clock.fixed(day))
          val target =
            if (cat.exists("companies.silver.trading_data"))
              Some(cat.read(spark, "companies.silver.trading_data"))
            else None
          scd(target, src)
        }),
        TableCatalog.ChainedBatch("companies.gold.fact_trading", read =>
          Gold.dropTechnical(Gold.currentOnly(
            read("companies.silver.trading_data"))))))
    }
    runOnce("2026-01-10")

    def canon(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toSeq.map {
        case null => "<null>"; case v => v.toString }.mkString("")).toSet
    }
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val samples = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get() && torn.get() == null) {
        val snap = cat.snapshot()
        val silver = snap.read(spark, "companies.silver.trading_data")
        val gold = snap.read(spark, "companies.gold.fact_trading")
        val want = canon(Gold.dropTechnical(Gold.currentOnly(silver)))
        val got = canon(gold)
        if (got != want)
          torn.set(s"snapshot tore: gold=${got.size} rows vs derived=${want.size}"
            + s"\n  gold-only: ${(got -- want).take(3)}"
            + s"\n  derived-only: ${(want -- got).take(3)}")
        samples.incrementAndGet()
      }
    })
    reader.start()
    try {
      // republish repeatedly with data that changes the row sets so any
      // mixed-generation pair is observable
      var close = 20.0
      for (i <- 2 to 5) {
        tradingCsv(Seq(
          "00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06",
          s"00000001,ALP,2026-01-0$i,10.5,12.0,10.0,$close,$close,1500,2026-02-01"))
        close += 1.0
        runOnce(s"2026-02-0$i")
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(torn.get() == null, String.valueOf(torn.get()))
    assert(samples.get() > 0, "racing reader never sampled")
    // final state sanity: the last commit is visible and consistent
    val snap = cat.snapshot()
    assert(canon(snap.read(spark, "companies.gold.fact_trading")) ==
      canon(Gold.dropTechnical(Gold.currentOnly(
        snap.read(spark, "companies.silver.trading_data")))))
  }

  /** One company, one trading day: the smallest raw zone every layer of
    * [[Pipeline.run]] writes from, as (bronze CH, bronze YF, silver, gold). */
  private def oneCompanyZone(root: Path): (BronzeConf, BronzeConf, SilverConf, GoldConf) = {
    val ch = root.resolve("raw/companies_house")
    val co = ch.resolve("ingestion_date=2026-01-01/00000001")
    write(co.resolve("overview.json"),
      overviewJson("Alpha Ltd", "00000001", "active", "2000-06-15"))
    write(co.resolve("officers.json"), """{"items": [{"name": "Jo",
      |"officer_role": "director", "appointed_on": "2001-01-01"}]}""".stripMargin)
    write(co.resolve("filing-history.json"), """{"items": [{"date": "2025-10-01",
      |"type": "AA", "description": "accounts", "category": "accounts"}]}""".stripMargin)
    val yf = root.resolve("raw/yfinance")
    write(yf.resolve("trading_data/part0.csv"),
      """company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date
        |00000001,ALP,2026-01-05,10.0,11.0,9.5,10.5,10.5,1000,2026-01-06
        |""".stripMargin)
    val bronzeCh = BronzeConf("companies", "bronze", ch.toString, "json", Seq(
      BronzeTableConf("overview", "overview.json"),
      BronzeTableConf("officers", "officers.json", explode = true, Some("items")),
      BronzeTableConf("filing_history", "filing-history.json", explode = true, Some("items"))))
    val bronzeYf = BronzeConf("companies", "bronze", yf.toString, "csv",
      Seq(BronzeTableConf("trading_data", "trading_data/*.csv")))
    val silverYf = SilverConf("companies", "bronze", "silver", Seq(
      ScdTableConf("trading_data", Seq("company_number", "date"),
        Seq("open", "high", "low", "close", "adj_close", "volume"))))
    val goldConf = GoldConf("companies", "silver", "gold",
      promoteTables = Seq("company_master"), dimensions = Nil,
      facts = Seq(FactConf("fact_trading", "trading_data", "date", Nil)))
    (bronzeCh, bronzeYf, silverYf, goldConf)
  }

  test("staging lanes: none outlives Pipeline.run; a failed bronze table never starts silver or gold") {
    val root = Files.createTempDirectory("graft-lanes")
    val (bronzeCh, bronzeYf, silverYf, goldConf) = oneCompanyZone(root)
    val cat = new TableCatalog(root.resolve("warehouse").toString)
    Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, cat, Clock.fixed("2026-01-10"))
    assert(cat.read(spark, "companies.gold.fact_trading").count() == 1L)
    assert(liveLanes.isEmpty, s"lane threads alive after a run: $liveLanes")

    // the first bronze table fails (no input files): silver and gold never start
    val failed = new TableCatalog(root.resolve("warehouse_failed").toString)
    val noOverview = bronzeCh.copy(tables = bronzeCh.tables.map(t =>
      if (t.name == "overview") t.copy(file = "missing.json") else t))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.run(spark, noOverview, bronzeYf, silverYf, goldConf, failed,
        Clock.fixed("2026-01-10"))
    }
    assert(e.getMessage.contains("missing.json"))
    assert(liveLanes.isEmpty, s"lane threads alive after a failed run: $liveLanes")
    assert(!failed.exists("companies.bronze.overview"))
    assert(failed.listTables().forall(_.startsWith("companies.bronze.")),
      s"silver/gold started: ${failed.listTables()}")
  }

  test("lane jobs carry their table as job description and call site") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-labels")
    val (bronzeCh, bronzeYf, silverYf, goldConf) = oneCompanyZone(root)
    val cat = new TableCatalog(root.resolve("warehouse").toString)
    // (description, call site, stage names) of every job the run starts
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        e.properties.getProperty("spark.job.description"),
        e.properties.getProperty("callSite.short"),
        e.stageInfos.map(_.name)))
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.run(spark, bronzeCh, bronzeYf, silverYf, goldConf, cat, Clock.fixed("2026-01-10"))
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    val tables = cat.listTables().toSet
    assert(tables.size == 8, tables)
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty)
    seen.foreach { case (desc, site, stages) =>
      assert(tables.contains(desc), s"job labelled '$desc' (call site '$site')")
      assert(site == desc, s"call site '$site' for table $desc")
      assert(!stages.exists(_.contains("withThreadLocalCaptured")), stages)
    }
    assert(seen.map(_._1).toSet == tables, "every table's lane starts a labelled job")
    // the label does not outlive the lane: the caller's properties are clean
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("compaction rewrites many small files into few, content intact") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-compact").toString)
    // 16 shuffle partitions → many tiny files
    cat.overwrite((1 to 1000).toDF("n").repartition(16), "c.s.many")
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(cat.currentPath("c.s.many")) >= 16)
    cat.compact(spark, "c.s.many")
    assert(files(cat.currentPath("c.s.many")) == 1)
    assert(cat.read(spark, "c.s.many").as[Int].collect().sorted.toSeq == (1 to 1000))
  }

  test("append writes only the batch; prior files carried by hardlink") {
    import spark.implicits._
    import java.nio.file.{Files, Path, Paths}
    def fileKeys(dir: Path): Map[String, Object] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => dir.relativize(p).toString -> Files.getAttribute(p, "unix:fileKey"))
        .toMap
      finally walk.close()
    }
    val cat = new TableCatalog(Files.createTempDirectory("graft-append").toString)
    cat.overwrite((1 to 100).toDF("n"), "c.s.app")
    val v1 = Paths.get(cat.currentPath("c.s.app"))
    val v1Files = fileKeys(v1)
    assert(v1Files.nonEmpty)
    cat.append((101 to 120).toDF("n"), "c.s.app")
    val v2 = Paths.get(cat.currentPath("c.s.app"))
    assert(v2 != v1)
    assert(cat.read(spark, "c.s.app").as[Int].collect().sorted.toSeq == (1 to 120))
    // every v1 data file appears in v2 as the SAME inode — appended, not rewritten
    val v2Files = fileKeys(v2)
    v1Files.foreach { case (rel, key) =>
      assert(v2Files.contains(rel), s"prior file $rel missing from appended version")
      assert(v2Files(rel) == key, s"prior file $rel was rewritten, not hardlinked")
    }
    assert(v2Files.size > v1Files.size, "appended batch added no new files")
    // schema drift falls back to the null-padded union rewrite
    cat.append(Seq((999, "x")).toDF("n", "extra"), "c.s.app")
    val drifted = cat.read(spark, "c.s.app")
    assert(drifted.columns.toSet == Set("n", "extra"))
    assert(drifted.count() == 121)
    assert(drifted.filter(col("extra").isNull).count() == 120)
  }

  test("catalog tables register as SQL views bound to the current version") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-view").toString)
    cat.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), "gold.mart.sales")
    val view = cat.registerView(spark, "gold.mart.sales")
    assert(view == "gold_mart_sales")
    assert(spark.sql(s"SELECT count(*) AS n FROM $view").head().getLong(0) == 2L)
    // the view is version-stable: a later overwrite is invisible until
    // re-registration (no mid-query version tear)
    cat.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "gold.mart.sales")
    assert(spark.sql(s"SELECT count(*) FROM $view").head().getLong(0) == 2L)
    cat.registerView(spark, "gold.mart.sales")
    assert(spark.sql(s"SELECT count(*) FROM $view").head().getLong(0) == 3L)
  }

  test("catalog change feed classifies insert/delete/update between versions") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-cdc").toString)
    cat.overwrite(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "n"), "c.s.cdc")
    cat.overwrite(Seq((1, "a", 10), (2, "B", 20), (4, "d", 40)).toDF("k", "v", "n"), "c.s.cdc")
    val out = cat.changes(spark, "c.s.cdc", "v000001", "v000002", Seq("k"))
      .as[(Int, String, Int, String)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(out == Seq(
      (2, "B", 20, "update_postimage"),
      (2, "b", 20, "update_preimage"),
      (3, "c", 30, "delete"),
      (4, "d", 40, "insert")))
    // null-vs-empty non-key values must not collide (strict row hash)
    val cat2 = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-cdc2").toString)
    cat2.overwrite(Seq((1, Option.empty[String])).toDF("k", "v"), "c.s.n")
    cat2.overwrite(Seq((1, Option(""))).toDF("k", "v"), "c.s.n")
    assert(cat2.changes(spark, "c.s.n", "v000001", "v000002", Seq("k")).count() == 2)
  }

  test("catalog change feed rejects schema drift; handles wipe and no-op") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-cdc3").toString)
    cat.overwrite(Seq((1, "a")).toDF("k", "v"), "c.s.e")
    cat.overwrite(Seq((1, "a")).toDF("k", "v"), "c.s.e")
    // identical versions → empty feed
    assert(cat.changes(spark, "c.s.e", "v000001", "v000002", Seq("k")).isEmpty)
    // full wipe → all deletes
    cat.overwrite(spark.emptyDataset[(Int, String)].toDF("k", "v"), "c.s.e")
    val wiped = cat.changes(spark, "c.s.e", "v000002", "v000003", Seq("k"))
    assert(wiped.select("_change_type").as[String].collect().toSeq == Seq("delete"))
    // schema drift between versions is refused, not silently mangled
    cat.overwrite(Seq((1, "a", 0)).toDF("k", "v", "extra"), "c.s.e")
    intercept[IllegalArgumentException] {
      cat.changes(spark, "c.s.e", "v000003", "v000004", Seq("k"))
    }
  }

  test("catalog time travel reads retained versions, pruning bounds them") {
    import spark.implicits._
    // retentionMinAgeMs = 0 pins the BOUNDED-retention half of the
    // contract (prune fires as soon as a version falls off the keep
    // window); the grace half is the next test.
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-tt").toString,
      retentionMinAgeMs = 0L)
    cat.overwrite(Seq((1, "x")).toDF("k", "v"), "c.s.t")
    cat.overwrite(Seq((1, "y"), (2, "z")).toDF("k", "v"), "c.s.t")
    assert(cat.versions("c.s.t") == Seq("v000001", "v000002"))
    assert(cat.readVersion(spark, "c.s.t", "v000001").count() == 1)
    assert(cat.read(spark, "c.s.t").count() == 2)
    cat.overwrite(Seq((3, "w")).toDF("k", "v"), "c.s.t") // prunes v000001
    assert(cat.versions("c.s.t") == Seq("v000002", "v000003"))
    intercept[IllegalArgumentException] {
      cat.readVersion(spark, "c.s.t", "v000001")
    }
  }

  test("retention grace: a snapshot reader's version survives fast subsequent publishes") {
    import spark.implicits._
    // Default grace (10 min): versions superseded seconds ago are NOT
    // reaped by write-time pruning, so a reader that resolved a version
    // keeps its files for the whole grace window however fast the
    // writer publishes — the r11 fix for the mid-read
    // FAILED_READ_FILE race CatalogConcurrencySpec caught under load.
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-grace").toString)
    cat.publishAtomic(Seq("c.s.g" -> Seq((1, 1L)).toDF("k", "run")))
    val snap = cat.snapshot()
    val pinned = snap.version("c.s.g").get
    (2 to 5).foreach(r =>
      cat.publishAtomic(Seq("c.s.g" -> Seq((1, r.toLong)).toDF("k", "run"))))
    // four publishes later, the pinned version is still on disk and
    // readable through the old snapshot
    assert(cat.versions("c.s.g").contains(pinned))
    assert(snap.read(spark, "c.s.g").select("run").head().getLong(0) == 1L)
    // explicit operator vacuum overrides the grace (keeps serving only)
    cat.vacuum("c.s.g", keepLast = 1)
    assert(cat.versions("c.s.g") == Seq(cat.versions("c.s.g").last))
  }

  test("shallow clone shares inodes; divergent writes leave the other side intact") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val cat = new TableCatalog(Files.createTempDirectory("graft-clone").toString)
    cat.overwrite((1 to 50).toDF("n"), "c.s.orig")
    cat.clone("c.s.orig", "c.s.copy")
    // same bytes served, by the same inodes (no data copy)
    assert(cat.read(spark, "c.s.copy").as[Int].collect().sorted.toSeq == (1 to 50))
    def inodes(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => Files.getAttribute(Paths.get(f.getPath), "unix:fileKey")).toSet
    assert(inodes(cat.currentPath("c.s.orig")) == inodes(cat.currentPath("c.s.copy")))
    // divergence: writing the clone leaves the source untouched, and
    // vacuuming the source cannot free bytes the clone still links
    cat.overwrite((100 to 110).toDF("n"), "c.s.copy")
    assert(cat.read(spark, "c.s.orig").as[Int].collect().sorted.toSeq == (1 to 50))
    cat.overwrite((200 to 210).toDF("n"), "c.s.orig")
    cat.vacuum("c.s.orig", keepLast = 1)
    assert(cat.readVersion(spark, "c.s.copy", "v000001")
      .as[Int].collect().sorted.toSeq == (1 to 50))
  }

  test("purgeKeys erases a subject from every retained version, sharing and all") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-purge").toString)
    cat.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "c.s.p")
    cat.append(Seq((4L, "d")).toDF("k", "v"), "c.s.p") // v2 hardlinks v1's files
    assert(cat.versions("c.s.p") == Seq("v000001", "v000002"))
    // snapshot the physical file set: the deletion-vector purge must
    // not rewrite a single data file
    def dataFiles() = new java.io.File(cat.currentPath("c.s.p")).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.lastModified)).toSet
    val filesBefore = dataFiles()
    cat.purgeKeys(spark, "c.s.p", "k", Seq(2L))
    // gone from the current version AND from time travel
    assert(cat.read(spark, "c.s.p").select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L))
    cat.versions("c.s.p").foreach { v =>
      assert(!cat.readVersion(spark, "c.s.p", v).select("k").as[Long]
        .collect().contains(2L), s"purged key survives in $v")
    }
    // …at O(keys) metadata cost: zero data files touched (merge-on-read
    // deletion vector, physical rewrite deferred to purgeRewrite)
    assert(dataFiles() == filesBefore, "logical purge must not rewrite data")
    assert(spark.read.parquet(cat.currentPath("c.s.p")).select("k")
      .as[Long].collect().contains(2L), "bytes remain until purgeRewrite")
    // physical erasure pass: bytes gone from every version, DVs cleared
    cat.purgeRewrite(spark, "c.s.p")
    cat.versions("c.s.p").foreach { v =>
      val raw = spark.read.parquet(
        java.nio.file.Paths.get(cat.currentPath("c.s.p")).getParent
          .resolve(v).toString)
      assert(!raw.select("k").as[Long].collect().contains(2L),
        s"purged bytes survive rewrite in $v")
    }
    // unpurged rows intact; table still writable afterwards
    assert(cat.readVersion(spark, "c.s.p", "v000001").count() == 2)
    cat.append(Seq((5L, "e")).toDF("k", "v"), "c.s.p")
    assert(cat.read(spark, "c.s.p").count() == 4)
    // partitioned layout: the physical pass preserves the col=value dirs
    cat.overwrite(Seq((1L, "x"), (2L, "y")).toDF("k", "part"), "c.s.pp",
      partitionBy = Seq("part"))
    cat.purgeKeys(spark, "c.s.pp", "k", Seq(1L))
    cat.purgeRewrite(spark, "c.s.pp")
    assert(cat.read(spark, "c.s.pp").select("k").as[Long].collect().toSeq == Seq(2L))
    assert(new java.io.File(cat.currentPath("c.s.pp")).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("part=")))
    // leftover staging/trash dirs from a crashed purge never surface as
    // versions (tag filter is exact: v + 6 digits)
    val vdir = java.nio.file.Paths.get(cat.currentPath("c.s.p")).getParent
    java.nio.file.Files.createDirectory(vdir.resolve("v000002.stale"))
    java.nio.file.Files.createDirectory(vdir.resolve("v000009.purging"))
    assert(cat.versions("c.s.p").forall(_.matches("v\\d{6}")))
    cat.append(Seq((6L, "f")).toDF("k", "v"), "c.s.p") // nextVersion unaffected
    assert(cat.read(spark, "c.s.p").count() == 5)
  }

  test("purgeKeys keeps multi-level string partition dirs and recovers a crashed swap") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-purge2").toString)
    // two partition levels with zero-padded string values — the layout a
    // naive rewrite mangles (type inference turns "01" into 1; a single-
    // level partitionBy flattens p2 into the files)
    cat.overwrite(Seq((1L, "01", "x"), (2L, "01", "y"), (3L, "007", "x"))
      .toDF("k", "p1", "p2"), "c.s.mp", partitionBy = Seq("p1", "p2"))
    cat.purgeKeys(spark, "c.s.mp", "k", Seq(2L))
    cat.purgeRewrite(spark, "c.s.mp")
    val cur = new java.io.File(cat.currentPath("c.s.mp"))
    val l1 = cur.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(l1 == Seq("p1=007", "p1=01"), s"level-1 dirs mangled: $l1")
    val l2 = new java.io.File(cur, "p1=01").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(l2 == Seq("p2=x"), s"level-2 dirs mangled or flattened: $l2")
    assert(cat.read(spark, "c.s.mp").select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))
    // crash mid-swap: the old dir is staged out (.stale), the new one not
    // yet moved in — the version vanishes from the listing. A retry must
    // restore it and complete instead of throwing FileAlreadyExists.
    val vdir = java.nio.file.Paths.get(cat.currentPath("c.s.mp")).getParent
    val v = cat.versions("c.s.mp").last
    java.nio.file.Files.move(vdir.resolve(v), vdir.resolve(s"$v.stale"))
    java.nio.file.Files.createDirectory(vdir.resolve(s"$v.purging"))
    assert(!cat.versions("c.s.mp").contains(v))
    cat.purgeKeys(spark, "c.s.mp", "k", Seq(3L))
    cat.purgeRewrite(spark, "c.s.mp")
    assert(cat.versions("c.s.mp").contains(v))
    assert(cat.read(spark, "c.s.mp").select("k").as[Long].collect().toSeq
      == Seq(1L))
    assert(!vdir.toFile.list().exists(n => n.endsWith(".stale") || n.endsWith(".purging")))
  }

  test("rollback is a pointer swap; vacuum never deletes the serving version") {
    import spark.implicits._
    val cat = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-vac").toString)
    cat.overwrite(Seq(1).toDF("n"), "c.s.vac") // v1
    cat.append(Seq(2).toDF("n"), "c.s.vac")    // v2 = v1-hardlinks + batch
    assert(cat.versions("c.s.vac") == Seq("v000001", "v000002"))
    // rollback: O(1) pointer swap, both versions stay retained
    cat.rollback("c.s.vac", "v000001")
    assert(cat.read(spark, "c.s.vac").as[Int].collect().toSeq == Seq(1))
    assert(cat.versions("c.s.vac") == Seq("v000001", "v000002"))
    // roll-forward is the same call with the newer tag
    cat.rollback("c.s.vac", "v000002")
    assert(cat.read(spark, "c.s.vac").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // vacuum protects the CURRENT version even when keepLast says otherwise
    cat.rollback("c.s.vac", "v000001")
    assert(cat.vacuum("c.s.vac", keepLast = 1).isEmpty) // v1 current, v2 newest
    assert(cat.versions("c.s.vac") == Seq("v000001", "v000002"))
    // vacuum drops the no-longer-current old version; hardlinked data
    // carried into v2 survives via v2's links
    cat.rollback("c.s.vac", "v000002")
    assert(cat.vacuum("c.s.vac", keepLast = 1) == Seq("v000001"))
    assert(cat.versions("c.s.vac") == Seq("v000002"))
    assert(cat.read(spark, "c.s.vac").as[Int].collect().sorted.toSeq == Seq(1, 2))
    intercept[IllegalArgumentException] {
      cat.readVersion(spark, "c.s.vac", "v000001")
    }
    // append after rollback builds on the rolled-back state: v2's row
    // never resurfaces, and automatic pruning spares nothing it serves
    cat.rollback("c.s.vac", "v000002")
    cat.overwrite(Seq(7).toDF("n"), "c.s.vac")  // v3
    cat.rollback("c.s.vac", "v000002")
    // v4 builds on v2; pruning then drops the v2 TAG (oldest, no longer
    // current) but v4's hardlinks keep every byte it serves alive
    cat.append(Seq(9).toDF("n"), "c.s.vac")
    assert(cat.read(spark, "c.s.vac").as[Int].collect().sorted.toSeq == Seq(1, 2, 9))
  }
}

package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

/** Seeded raw-zone generator for the medallion workload: Companies House
  * multiline JSON (`ingestion_date=<d>/<company_number>/{overview,
  * officers,filing-history}.json`) and YFinance CSVs (`company_details`,
  * `fundamentals_data`, `trading_data`) for `n` companies over `hist`
  * trading days, with the edge rows of the documented raw-zone fixtures.
  *
  * [[load]] lays out the history; each [[land]] adds one trading day and
  * corrects rows of a few companies. Every call records in the manifest
  * what the SCD2 merge and the quality gates should see, and the
  * manifest is written next to the raw zone for the correctness check.
  */
final class RawZone(val root: Path, seed: Long, n: Int, hist: Int) {
  import RawZone._

  private val rnd = new scala.util.Random(seed)
  val chDir: Path = root.resolve("companies_house")
  val yfDir: Path = root.resolve("yfinance")
  val firstDay: LocalDate = LocalDate.parse("2025-06-02")
  def histDay(i: Int): LocalDate = firstDay.plusDays(i.toLong)
  val loadDate: LocalDate = histDay(hist)

  val companies: IndexedSeq[String] =
    (0 until n).map(i => f"${10000000 + i * 37 + rnd.nextInt(30)}%08d")
  /** Companies whose creation date lies in the future: silver drops them. */
  val futureCompanies: IndexedSeq[String] =
    (0 until 3).map(i => f"${30000000 + i * 11 + rnd.nextInt(10)}%08d")

  private val shards = 4
  private def shardOf(i: Int) = i % shards
  private var junkKey = 90000000 + rnd.nextInt(1000000)
  private def nextJunk(): String = { junkKey += 1; f"$junkKey%08d" }

  // mutable raw state (rewritten files are regenerated from it)
  private val marketCap = Array.fill(n)(1000000L + rnd.nextInt(900000000).toLong)
  private val details = (0 until n).map { i =>
    Seq(s"Company $i", companies(i), s"T${companies(i).takeRight(4)}",
      s"T${companies(i).takeRight(4)}.L", s"Co$i", s"Company $i Holdings",
      pick(industries), pick(sectors), "UK", "LSE")
  }
  private val close = mutable.Map.empty[(Int, Int), Double] // (day, company) -> close
  private val volume = mutable.Map.empty[(Int, Int), Long]
  private val badTrading = mutable.Map.empty[Int, Seq[String]] // day -> bad lines
  private val badDetails = mutable.Map.empty[Int, Seq[String]] // shard -> bad lines
  private var ingested = mutable.Map.empty[(Int, Int), LocalDate] // (day, company) -> ingestion

  val manifest = new Manifest
  private var landed = 0L

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
    landed += Files.size(p)
  }

  /** Bytes written into the raw zone since the previous call. */
  def takeLanded(): Long = { val b = landed; landed = 0L; b }

  // ------------------------------------------------- Companies House

  private def overview(num: String, name: String, status: String, created: String,
      payloadNumber: Boolean): String = {
    val numField = if (payloadNumber) "\"" + num + "\"" else "null"
    s"""{
       |  "company_name": "$name",
       |  "company_number": $numField,
       |  "company_status": "$status",
       |  "date_of_creation": "$created",
       |  "jurisdiction": "england-wales",
       |  "type": "ltd",
       |  "etag": "e-$num",
       |  "has_charges": ${rnd.nextBoolean()},
       |  "has_insolvency_history": false
       |}""".stripMargin
  }

  private def items(rows: Seq[String]): String =
    if (rows.isEmpty) "{\"items\": []}"
    else rows.mkString("{\"items\": [\n  ", ",\n  ", "\n]}")

  private def landCompany(day: LocalDate, num: String, i: Int, created: String): Unit = {
    val dir = chDir.resolve(s"ingestion_date=$day").resolve(num)
    val padded = rnd.nextInt(8) == 0
    val name = if (padded) s"  Company $i  " else s"Company $i"
    val status = pick(Seq("active", "ACTIVE", "Active", "dissolved", "liquidation"))
    write(dir.resolve("overview.json"), overview(num, name, status, created, rnd.nextInt(20) != 0))
    val officers = (0 until rnd.nextInt(5)).map { k =>
      val role = pick(Seq("director", "secretary", "llp-member"))
      s"""{"name": "Officer $k of $num", "officer_role": "$role", "appointed_on": "20${10 + k}-0${1 + k}-15", "nationality": "British"}"""
    }
    write(dir.resolve("officers.json"), items(officers))
    val filings = (0 until rnd.nextInt(5)).map { k =>
      s"""{"date": "2025-0${1 + k}-1${k}", "type": "AA", "description": "accounts $k", "category": "accounts"}"""
    }
    write(dir.resolve("filing-history.json"), items(filings))
  }

  // ---------------------------------------------------------- YFinance

  private val detailsHeader = "company_name,company_number,ticker,symbol,short_name,long_name,industry,sector,country,exchange,market_cap,website,ingestion_date"
  private val fundamentalsHeader = "company_name,company_number,ticker,quarter_end_date,total_revenue,gross_profit,operating_income,net_income,ebitda,total_assets,total_liabilities,cash,long_term_debt,operating_cash_flow,capital_expenditure,free_cash_flow,ingestion_date"
  private val tradingHeader = "company_number,ticker,date,open,high,low,close,adj_close,volume,ingestion_date"

  private def writeDetailsShard(s: Int, day: LocalDate): Unit = {
    val rows = (0 until n).filter(shardOf(_) == s).map { i =>
      (details(i) ++ Seq(marketCap(i).toString, s"https://c$i.example", day.toString)).mkString(",")
    }
    write(yfDir.resolve(s"company_details/shard-$s.csv"),
      (detailsHeader +: (rows ++ badDetails.getOrElse(s, Nil))).mkString("", "\n", "\n"))
  }

  private def tradingLine(d: Int, i: Int): String = {
    val c = close((d, i))
    val o = c * 0.99
    val num = companies(i)
    f"$num,T${num.takeRight(4)},${histDay(d)},$o%.4f,${c * 1.02}%.4f,${c * 0.97}%.4f,$c%.4f,$c%.4f,${volume((d, i))},${ingested((d, i))}"
  }

  private def writeTradingDay(d: Int): Unit = {
    val rows = (0 until n).map(tradingLine(d, _))
    write(yfDir.resolve(s"trading_data/day-${histDay(d)}.csv"),
      (tradingHeader +: (rows ++ badTrading.getOrElse(d, Nil))).mkString("", "\n", "\n"))
  }

  /** Bad trading rows for day `d`: a null key, a negative volume under a
    * key of its own, and a malformed line (its `date` does not parse). */
  private def injectTradingBad(d: Int, onDate: LocalDate): Unit = {
    val lines = Seq(
      f",TNUL,${histDay(d)},1.0,1.0,1.0,1.0,1.0,10,$onDate",
      f"${nextJunk()},TNEG,${histDay(d)},1.0,1.0,1.0,1.0,1.0,-5,$onDate",
      "this line is not, a trading row")
    badTrading(d) = lines
    manifest.dq("trading_data").add(requireKeys = 2, nonNegative = 1)
  }

  private def newDay(d: Int, onDate: LocalDate): Unit =
    (0 until n).foreach { i =>
      val prev = if (d == 0) 20.0 + rnd.nextInt(200) else close((d - 1, i))
      close((d, i)) = math.max(1.0, prev * (1.0 + (rnd.nextGaussian() * 0.02)))
      volume((d, i)) = 1000L + rnd.nextInt(1000000)
      ingested((d, i)) = onDate
    }

  // ------------------------------------------------------------ phases

  /** The initial raw zone: `hist` trading days of history. */
  def load(): Unit = {
    val ing = loadDate
    companies.indices.foreach { i =>
      val created = f"${1980 + rnd.nextInt(40)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
      landCompany(ing, companies(i), i, created)
      // re-ingested duplicates: the same company under an earlier date
      if (i % 17 == 0) landCompany(ing.minusDays(1), companies(i), i, created)
    }
    futureCompanies.zipWithIndex.foreach { case (num, k) =>
      landCompany(ing, num, n + k, s"2100-0${1 + k}-01")
    }

    badDetails(0) = Seq(
      s"Nobody,,TNUL,TNUL.L,N,Nobody,None,None,UK,LSE,5,https://n.example,$ing",
      s"Negative Co,${nextJunk()},TNEG,TNEG.L,N,Negative Co,None,None,UK,LSE,-7,https://x.example,$ing",
      "corrupted details line")
    manifest.dq("company_details").add(requireKeys = 2, nonNegative = 1)
    (0 until shards).foreach(writeDetailsShard(_, ing))

    val quarters = Seq("2025-03-31", "2025-06-30", "2025-09-30", "2025-12-31")
    (0 until shards).foreach { s =>
      val rows = (0 until n).filter(shardOf(_) == s).flatMap { i =>
        quarters.map { q =>
          val rev = 1e6 + rnd.nextInt(1000000)
          val vals = Seq(rev, rev * 0.4, rev * 0.2, rev * 0.1, rev * 0.25, rev * 5,
            rev * 2, rev * 0.3, rev * 0.8, rev * 0.15, rev * 0.05, rev * 0.1)
          (Seq(s"Company $i", companies(i), s"T${companies(i).takeRight(4)}", q) ++
            vals.map(v => f"$v%.2f") :+ ing.toString).mkString(",")
        }
      }
      val bad = if (s != 0) Nil else Seq(
        s"Bad Date Co,${nextJunk()},TBAD,not-a-date,1,1,1,1,1,1,1,1,1,1,1,1,$ing",
        s"Negative Co,${nextJunk()},TNEG,2025-12-31,-1,1,1,1,1,1,1,1,1,1,1,1,$ing")
      write(yfDir.resolve(s"fundamentals_data/shard-$s.csv"),
        (fundamentalsHeader +: (rows ++ bad)).mkString("", "\n", "\n"))
    }
    manifest.dq("fundamentals_data").add(requireKeys = 1, nonNegative = 1)

    (0 until hist).foreach { d =>
      newDay(d, histDay(d + 1))
      if (d % 10 == 0) injectTradingBad(d, histDay(d + 1))
      writeTradingDay(d)
    }
    manifest.ops += OpExpect(ing,
      inserted = Map("company_details" -> n, "fundamentals_data" -> n * quarters.size,
        "trading_data" -> n * hist),
      expired = Map("company_details" -> 0, "fundamentals_data" -> 0, "trading_data" -> 0))
    manifest.companies = n
    manifest.future = futureCompanies
  }

  private var days = 0

  /** One incremental day: a new trading day for every company, one bad row
    * of each kind, corrected closes for ~2% of companies on an earlier day,
    * a market-cap change for one company and a status re-filing for one
    * company. Returns the clock date of the day. */
  def land(): LocalDate = {
    days += 1
    val d = hist + days - 1
    val today = histDay(d + 1)
    newDay(d, today)
    injectTradingBad(d, today)
    writeTradingDay(d)

    val nFix = math.max(1, n / 50)
    val fixDay = rnd.nextInt(d)
    val fixed = rnd.shuffle((0 until n).toList).take(nFix)
    fixed.foreach { i =>
      close((fixDay, i)) = close((fixDay, i)) + 0.5 + rnd.nextInt(100) / 100.0
      ingested((fixDay, i)) = today
    }
    writeTradingDay(fixDay)

    val moved = rnd.nextInt(n)
    marketCap(moved) += 1000L + rnd.nextInt(100000)
    writeDetailsShard(shardOf(moved), today)

    val refiled = rnd.nextInt(n)
    landCompany(today, companies(refiled), refiled, "1999-09-09")

    manifest.ops += OpExpect(today,
      inserted = Map("company_details" -> 1, "fundamentals_data" -> 0, "trading_data" -> (n + nFix)),
      expired = Map("company_details" -> 1, "fundamentals_data" -> 0, "trading_data" -> nFix))
    today
  }

  def writeManifest(): Path = {
    val p = root.resolve("_manifest.json")
    Files.writeString(p, manifest.json)
    p
  }
}

object RawZone {
  val industries = Seq("Software", "Banking", "Retail", "Mining", "Utilities", "Media")
  val sectors = Seq("Tech", "Financials", "Consumer", "Materials", "Energy")

  final class Gate(var requireKeys: Long = 0, var nonNegative: Long = 0) {
    def add(requireKeys: Long, nonNegative: Long): Unit = {
      this.requireKeys += requireKeys; this.nonNegative += nonNegative
    }
  }

  final case class OpExpect(date: LocalDate, inserted: Map[String, Int], expired: Map[String, Int])

  /** What the generator injected: bad rows per quality gate per table
    * (cumulative over the raw zone) and, per pipeline run, the SCD2 rows
    * each silver table should insert and expire. */
  final class Manifest {
    val dq: Map[String, Gate] =
      Seq("company_details", "fundamentals_data", "trading_data").map(_ -> new Gate).toMap
    val ops = mutable.ArrayBuffer.empty[OpExpect]
    var companies = 0
    var future: Seq[String] = Nil

    def json: String = Json.obj(Seq(
      "companies" -> companies.toString,
      "future_companies" -> Json.arr(future.map(Json.str)),
      "dq_dropped" -> Json.obj(dq.toSeq.sortBy(_._1).map { case (t, g) =>
        t -> Json.obj(Seq("require_keys" -> g.requireKeys.toString,
          "non_negative" -> g.nonNegative.toString)) }),
      "runs" -> Json.arr(ops.toSeq.map { o =>
        Json.obj(Seq("date" -> Json.str(o.date.toString),
          "inserted" -> Json.obj(o.inserted.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
          "expired" -> Json.obj(o.expired.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
      })))
  }
}

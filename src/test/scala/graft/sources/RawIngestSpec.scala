package graft.sources

import graft.SparkSpec

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.util.Base64

/** S14 raw-zone ingestion against a local fixture API: layout, auth,
  * verbatim bodies, per-company error isolation, and Spark read-back of
  * the landed zone with partition discovery. */
class RawIngestSpec extends SparkSpec {

  private def withServer(f: (String, () => Seq[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val seenAuth = scala.collection.mutable.ArrayBuffer.empty[String]
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seenAuth += Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
        val path = ex.getRequestURI.getPath
        val parts = path.stripPrefix("/company/").split('/')
        val (code, body) = parts.toList match {
          case "FAIL99" :: _ => (500, """{"error":"boom"}""")
          case n :: Nil => (200, s"""{"company_number":"$n","company_name":"Co $n","status":"active"}""")
          case n :: ds :: Nil => (200, s"""{"company_number":"$n","dataset":"$ds","items":[{"i":1},{"i":2}]}""")
          case _ => (404, "{}")
        }
        val bytes = body.getBytes(UTF_8)
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}", () => seenAuth.toSeq)
    finally server.stop(0)
  }

  test("lands the reference layout with basic auth and verbatim bodies") {
    withServer { (base, auths) =>
      val root = Files.createTempDirectory("graft-raw")
      val ing = new RawIngest(base, "test-key", root, LocalDate.parse("2026-03-01"))
      val (ok, bad) = ing.run(Seq("02557590", "SC095000"))
      assert(ok == Seq("02557590", "SC095000") && bad.isEmpty)
      // layout: raw/companies_house/ingestion_date=.../company_number=.../<dataset>.json
      val expect = for {
        n <- Seq("02557590", "SC095000")
        ds <- Seq("overview", "filing-history", "officers")
      } yield s"raw/companies_house/ingestion_date=2026-03-01/company_number=$n/$ds.json"
      expect.foreach(rel => assert(Files.exists(root.resolve(rel)), s"missing $rel"))
      // body landed verbatim (raw zone archives the API response as-is)
      val body = Files.readString(
        root.resolve("raw/companies_house/ingestion_date=2026-03-01/company_number=02557590/overview.json"))
      assert(body == """{"company_number":"02557590","company_name":"Co 02557590","status":"active"}""")
      // key-as-username basic auth on every request
      val expected = "Basic " + Base64.getEncoder.encodeToString("test-key:".getBytes(UTF_8))
      assert(auths().nonEmpty && auths().forall(_ == expected))
    }
  }

  test("one failing company does not abort the batch") {
    withServer { (base, _) =>
      val root = Files.createTempDirectory("graft-raw-fail")
      val ing = new RawIngest(base, "k", root, LocalDate.parse("2026-03-01"))
      val (ok, bad) = ing.run(Seq("A1", "FAIL99", "B2"))
      assert(ok == Seq("A1", "B2"))
      assert(bad.map(_._1) == Seq("FAIL99") && bad.head._2.contains("HTTP 500"))
      assert(Files.exists(ing.rawPath("B2", "officers")))
      assert(!Files.exists(ing.rawPath("FAIL99", "overview")))
    }
  }

  test("landed raw zone reads back through the S1 JSON scan with partition discovery") {
    withServer { (base, _) =>
      val root = Files.createTempDirectory("graft-raw-read")
      new RawIngest(base, "k", root, LocalDate.parse("2026-03-01"))
        .run(Seq("02557590", "00041424"))
      // basePath makes the globbed files share one discovery root; type
      // inference off keeps company_number a string ("02557590" would
      // otherwise coerce to 2557590, dropping the leading zeros)
      withSQLConf("spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
        val df = spark.read
          .option("basePath", s"$root/raw/companies_house")
          .json(s"$root/raw/companies_house/ingestion_date=*/company_number=*/overview.json")
        assert(df.count() == 2)
        // partition columns materialize from the directory layout
        assert(df.columns.toSet.contains("ingestion_date") && df.columns.toSet.contains("company_number"))
        val row = df.filter(col("company_number") === "02557590").head()
        assert(row.getAs[String]("company_name") == "Co 02557590")
        assert(row.getAs[Any]("ingestion_date").toString == "2026-03-01")
      }
    }
  }
}

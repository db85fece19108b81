package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming semantics: the watermarked hourly rollup over a memory
  * stream must converge to the batch rollup over the same rows. */
class StreamingSpec extends SparkSpec {

  test("streamingHourlyRollup over a memory stream matches batch rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      ("click", "2024-01-01 00:10:00", 1.5),
      ("click", "2024-01-01 00:40:00", 2.5),
      ("view",  "2024-01-01 00:20:00", 4.0),
      ("click", "2024-01-01 01:05:00", 8.0))
      .map { case (t, ts, v) => (t, Timestamp.valueOf(ts), v) }

    val mem = MemoryStream[(String, Timestamp, Double)]
    mem.addData(rows: _*)
    val events = mem.toDF().toDF("event_type", "ts", "value")
      .withColumn("props", lit("""{"k": 1}"""))

    val q = EventStreams.streamingHourlyRollup(events)
      .writeStream.format("memory").queryName("rollup_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Append mode only emits *closed* windows (watermark passed); push a
      // late-hour row so the first two windows close, then re-check.
      mem.addData(("view", Timestamp.valueOf("2024-01-01 05:00:00"), 0.5))
      q.processAllAvailable()

      val got = spark.table("rollup_test")
        .select("event_type", "hour_epoch", "n", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap

      val epoch0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      assert(got(("click", epoch0)) == (2L, 4.0))
      assert(got(("view", epoch0)) == (1L, 4.0))
      assert(got(("click", epoch0 + 3600)) == (1L, 8.0))
    } finally q.stop()
  }

  test("streaming OHLC bars: out-of-order rows land in the right bar, once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, String, Timestamp, Double)]
    // hour 0 arrives OUT OF ORDER: the true open (00:05, id 1) comes last
    mem.addData(
      (2L, "trade", Timestamp.valueOf("2024-01-01 00:30:00"), 9.0),
      (3L, "trade", Timestamp.valueOf("2024-01-01 00:50:00"), 4.0))
    val events = mem.toDF().toDF("event_id", "event_type", "ts", "value")
    val q = EventStreams.ohlcStream(events)
      .writeStream.format("memory").queryName("ohlc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData((1L, "trade", Timestamp.valueOf("2024-01-01 00:05:00"), 7.0))
      q.processAllAvailable()
      assert(spark.table("ohlc_test").count() == 0, "no bar before watermark")
      // push the watermark far past hour 0 → the bar closes exactly once
      mem.addData((9L, "trade", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0))
      q.processAllAvailable()
      val bars = spark.table("ohlc_test")
        .select("event_type", "hour_epoch", "n", "open", "close", "high", "low", "volume")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7))).toMap
      val epoch0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      // open = late-arriving 00:05 row; close = 00:50; extremes + volume exact
      assert(bars(("trade", epoch0)) == (3L, 7.0, 4.0, 9.0, 4.0, 20.0),
        bars.toString)
      assert(bars.size == 1, s"only hour 0 is closed: $bars")
    } finally q.stop()
  }

  test("streaming drift monitor: closed windows report chi-square vs the reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // reference batch: 2 hours of history → hourly expected rates.
    // bin 0 (values < 50): 4 rows over 2 h → expected 2/h;
    // bin 1 (50–99):       2 rows over 2 h → expected 1/h.
    val ref = Seq(
      ("click", "2023-12-31 00:10:00", 10.0), ("click", "2023-12-31 00:20:00", 20.0),
      ("click", "2023-12-31 01:10:00", 30.0), ("click", "2023-12-31 01:20:00", 40.0),
      ("click", "2023-12-31 00:30:00", 60.0), ("click", "2023-12-31 01:30:00", 70.0))
      .map { case (t, ts, v) => (t, Timestamp.valueOf(ts), v) }
      .toDF("event_type", "ts", "value")
    val profile = EventStreams.hourlyReference(ref)

    val mem = MemoryStream[(String, Timestamp, Double)]
    // live hour 0: three bin-0 rows (obs 3 vs exp 2 → (3-2)²/2 = 0.5) and
    // one row in bin 2, which the reference never saw → NULL component
    mem.addData(
      ("click", Timestamp.valueOf("2024-01-01 00:05:00"), 5.0),
      ("click", Timestamp.valueOf("2024-01-01 00:15:00"), 15.0),
      ("click", Timestamp.valueOf("2024-01-01 00:25:00"), 25.0),
      ("click", Timestamp.valueOf("2024-01-01 00:35:00"), 120.0))
    val events = mem.toDF().toDF("event_type", "ts", "value")
    val q = EventStreams.driftStream(events, profile)
      .writeStream.format("memory").queryName("drift_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // close hour 0 by pushing the watermark past it
      mem.addData(("click", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("drift_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
      val epoch0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      assert(got(("click", epoch0, 0L)) == ((3L, Some(2.0), Some(0.5))), got.toString)
      assert(got(("click", epoch0, 2L)) == ((1L, None, None)), got.toString)
      assert(got.size == 2, s"only hour 0 closed: $got")
    } finally q.stop()
  }

  test("streaming sessionization (flatMapGroupsWithState) matches batch sessions") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    // user 1: two sessions (45-min gap); user 2: one session
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 00:55:00"), // > 30 min after 00:10 → new session
      (2L, "2024-01-01 00:05:00"))
      .map { case (u, ts) => (u, Timestamp.valueOf(ts)) }

    val mem = MemoryStream[(Long, Timestamp)]
    mem.addData(rows: _*)
    val events = mem.toDF().toDF("user_id", "ts").withWatermark("ts", "10 minutes")

    val q = EventStreams.sessionizeStream(events, gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // user 1 session 1 closed by the in-batch gap; user 2's lone session
      // flushed by event-time timeout once the watermark (max ts - 10 min
      // = 00:45) passed its gap deadline (00:05 + 30 min)
      val early = spark.table("sessions_test").as[EventStreams.SessionOut].collect()
      assert(early.map(o => (o.user_id, o.session_seq, o.n_events)).toSet ==
        Set((1L, 1L, 2L), (2L, 1L, 1L)))

      // push the watermark far past every open session → timeout flush
      mem.addData((9L, Timestamp.valueOf("2024-01-01 06:00:00")))
      q.processAllAvailable()
      mem.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()

      val out = spark.table("sessions_test").as[EventStreams.SessionOut].collect()
        .map(o => (o.user_id, o.session_seq, o.n_events)).toSet
      assert(out.contains((1L, 2L, 1L)) && out.contains((2L, 1L, 1L)),
        s"timeout flush missing: $out")

      // agrees with the batch twin on (user, n_sessions, events/session)
      val batch = EventStreams.sessionize(
        rows.toDF("user_id", "ts").withColumn("event_id", monotonically_increasing_id()),
        1800)
        .select("user_id", "session_seq", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.subsetOf(out), s"batch=$batch streaming=$out")
    } finally q.stop()
  }

  test("native session_window streaming merges windows and flushes on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    def epoch(s: String) = t(s).getTime / 1000

    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts").withWatermark("ts", "10 minutes")
    val q = EventStreams.sessionWindowStream(events, "30 minutes")
      .writeStream.format("memory").queryName("swin_test")
      .outputMode("append").start()
    try {
      // user 1: 00:00 and 00:10 merge into one [00:00, 00:40) session;
      // 00:55 opens a second. user 2: lone event → [00:05, 00:35).
      mem.addData((1L, t("00:00:00")), (1L, t("00:10:00")),
        (1L, t("00:55:00")), (2L, t("00:05:00")))
      q.processAllAvailable()
      def rows() = spark.table("swin_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      // watermark (00:55 - 10 min = 00:45) passed both early session ends
      assert(rows() == Set(
        (1L, epoch("00:00:00"), epoch("00:40:00"), 2L),
        (2L, epoch("00:05:00"), epoch("00:35:00"), 1L)), s"early: ${rows()}")

      // push the watermark far ahead → the open session flushes
      mem.addData((9L, t("06:00:00")))
      q.processAllAvailable()
      assert(rows().contains((1L, epoch("00:55:00"), epoch("01:25:00"), 1L)),
        s"open session not flushed: ${rows()}")
    } finally q.stop()
  }

  test("file-source streaming: readEventStream over a landing directory") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-events")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-00000.parquet"))
    val stream = EventStreams.streamingHourlyRollup(
      EventStreams.readEventStream(spark, dir.toString))
    val q = stream.writeStream.format("memory").queryName("file_rollup_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode: only watermark-closed windows emitted; just prove the
      // file-source plumbing runs and emits closed hourly windows
      val n = spark.table("file_rollup_test").count()
      assert(n > 0, "no closed windows emitted from file source")
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("event_id", "ts").withWatermark("ts", "1 hour")
    val q = EventStreams.dedupedStream(events)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 00:00:05")), // re-delivery
        (2L, Timestamp.valueOf("2024-01-01 00:01:00")))
      q.processAllAvailable()
      mem.addData((1L, Timestamp.valueOf("2024-01-01 00:10:00"))) // re-delivery, later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"expected each id once, got $ids")
    } finally q.stop()
  }

  test("mvRefreshSink maintains a summary across micro-batches (streaming IVM)") {
    import graft.plans.MaterializedViews
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft-mv-stream")
    val basePath = s"$dir/base.parquet"
    val mvPath = s"$dir/summary"
    // seed base + summary with one batch, then stream two more
    Seq(("a", 10L), ("b", 5L)).toDF("k", "v").write.parquet(basePath)
    val d = MaterializedViews.create(spark, basePath, mvPath,
      groupCols = Seq("k"), sums = Seq(col("v").cast("decimal(18,0)")))
    try {
      val mem = MemoryStream[(String, Long)]
      val q = EventStreams.mvRefreshSink(mem.toDF().toDF("k", "v"), d)
      try {
        mem.addData(("a", 1L), ("c", 7L))
        q.processAllAvailable()
        mem.addData(("c", 2L))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(mvPath)
        .select(col("k"), col("mv_sum_0").cast("long"), col("mv_cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // summary equals a from-scratch aggregate over every row ever seen
      assert(got == Set(("a", 11L, 2L), ("b", 5L, 1L), ("c", 9L, 2L)), got)
    } finally MaterializedViews.clear()
  }

  test("scd2Sink maintains dimension history across micro-batches") {
    import graft.core.{Clock, TableCatalog}
    import graft.scd.Scd2
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val catalog = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-scd2-stream").toString)
    val scd = new Scd2(Seq("k"), Seq("v"), clock = Clock.fixed("2026-03-01"))

    val mem = MemoryStream[(String, String)]
    val q = EventStreams.scd2Sink(mem.toDF().toDF("k", "v"), scd, catalog, "dim")
    try {
      mem.addData(("a", "1"), ("b", "2"))
      q.processAllAvailable()
      assert(catalog.read(spark, "dim").count() == 2)

      // batch 2: a changes, c arrives, b silent → expire a, insert a', c
      mem.addData(("a", "9"), ("c", "3"))
      q.processAllAvailable()
      val dim = catalog.read(spark, "dim")
      assert(dim.count() == 4)
      val current = dim.filter(col("is_current") === true)
        .select("k", "v").as[(String, String)].collect().toMap
      assert(current == Map("a" -> "9", "b" -> "2", "c" -> "3"))
      assert(dim.filter(col("is_current") === false).count() == 1)

      // replay of batch 2 is a no-op (idempotent re-delivery)
      mem.addData(("a", "9"), ("c", "3"))
      q.processAllAvailable()
      assert(catalog.read(spark, "dim").count() == 4)
    } finally q.stop()
  }

  test("streaming rollup restarts from checkpoint without duplicating windows") {
    import spark.implicits._
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-ckpt-src")
    val out = Files.createTempDirectory("graft-ckpt-out")
    val ckpt = Files.createTempDirectory("graft-ckpt-meta")
    def writeBatch(name: String, rows: Seq[(String, Timestamp, Double)]): Unit = {
      // the file source lists direct children — land the part file as one
      val stage = Files.createTempDirectory(s"graft-ckpt-$name")
      rows.toDF("event_type", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
        .parquet(src.toString)
        .withWatermark("ts", "2 hours")
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("window.start").as("h"), col("n"))
      val q = stream.writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    writeBatch("b1", Seq(
      ("click", Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      ("click", Timestamp.valueOf("2024-01-01 00:50:00"), 2.0)))
    runOnce() // watermark hasn't passed hour 0 yet → nothing emitted
    // restart from the same checkpoint; a later file closes hour 0
    writeBatch("b2", Seq(("click", Timestamp.valueOf("2024-01-01 06:00:00"), 3.0)))
    runOnce()
    val rows = spark.read.parquet(out.toString)
      .as[(String, Timestamp, Long)].collect().toSeq
    assert(rows == Seq(("click", Timestamp.valueOf("2024-01-01 00:00:00"), 2L)),
      s"hour-0 window must appear exactly once after restart, got $rows")
  }

  test("stream-static broadcast enrichment keeps unmatched events (left join)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF().toDF("event_id", "user_id")
    val q = EventStreams.enrichedStream(events, dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData((10L, 1L), (11L, 3L))
      q.processAllAvailable()
      mem.addData((12L, 2L))
      q.processAllAvailable()
      val out = spark.table("enrich_test").select("event_id", "user_id", "tier")
        .as[(Long, Long, Option[String])].collect().sortBy(_._2).toSeq
      assert(out == Seq((10L, 1L, Some("gold")), (12L, 2L, Some("basic")),
        (11L, 3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the lookback") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val pMem = MemoryStream[(Long, Timestamp, Long)]
    val cMem = MemoryStream[(Long, Timestamp, Long)]
    val purchases = pMem.toDF().toDF("user_id", "ts", "event_id")
    val clicks = cMem.toDF().toDF("user_id", "ts", "event_id")

    val q = EventStreams.clickAttribution(purchases, clicks, lookbackSeconds = 3600)
      .writeStream.format("memory").queryName("attrib_test")
      .outputMode("append").start()
    try {
      cMem.addData(
        (1L, Timestamp.valueOf("2024-01-01 09:30:00"), 101L), // in window
        (1L, Timestamp.valueOf("2024-01-01 08:00:00"), 102L), // too old
        (2L, Timestamp.valueOf("2024-01-01 09:45:00"), 103L), // other user
        (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 104L)) // after purchase
      pMem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 900L))
      q.processAllAvailable()

      val got = spark.table("attrib_test")
        .select("user_id", "purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 900L, 101L)), s"got $got")

      // batch twin over identical rows agrees
      val batch = EventStreams.clickAttribution(
          Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 900L))
            .toDF("user_id", "ts", "event_id"),
          Seq((1L, Timestamp.valueOf("2024-01-01 09:30:00"), 101L),
            (1L, Timestamp.valueOf("2024-01-01 08:00:00"), 102L),
            (2L, Timestamp.valueOf("2024-01-01 09:45:00"), 103L),
            (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 104L))
            .toDF("user_id", "ts", "event_id"), 3600)
        .select("user_id", "purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == got, s"batch=$batch streaming=$got")
    } finally q.stop()
  }

  test("outer interval join emits unattributed purchases after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val pMem = MemoryStream[(Long, Timestamp, Long)]
    val cMem = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.clickAttributionOuter(
        pMem.toDF().toDF("user_id", "ts", "event_id"),
        cMem.toDF().toDF("user_id", "ts", "event_id"), lookbackSeconds = 3600)
      .writeStream.format("memory").queryName("attrib_outer_test")
      .outputMode("append").start()
    try {
      cMem.addData((1L, Timestamp.valueOf("2024-01-01 09:30:00"), 101L))
      pMem.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 900L), // attributed
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 901L)) // no click
      q.processAllAvailable()
      // matched row emits immediately; the unmatched one must WAIT until
      // the engine can prove no click will arrive
      def rows() = spark.table("attrib_outer_test")
        .select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(rows() == Set((900L, Some(101L))), s"early: ${rows()}")

      // advance both watermarks far past the lookback window
      cMem.addData((9L, Timestamp.valueOf("2024-01-02 00:00:00"), 999L))
      pMem.addData((9L, Timestamp.valueOf("2024-01-02 00:00:00"), 998L))
      q.processAllAvailable()
      cMem.addData((9L, Timestamp.valueOf("2024-01-03 00:00:00"), 997L))
      pMem.addData((9L, Timestamp.valueOf("2024-01-03 00:00:00"), 996L))
      q.processAllAvailable()
      assert(rows().contains((901L, None)),
        s"unattributed purchase never emitted: ${rows()}")
    } finally q.stop()
  }

  test("batch hourlyRollup groups by hour and sums exactly") {
    import spark.implicits._
    val events = Seq(
      ("a", Timestamp.valueOf("2024-03-05 10:59:59"), 0.1, """{"k": 2}"""),
      ("a", Timestamp.valueOf("2024-03-05 10:00:00"), 0.2, """{"k": 3}"""),
      ("a", Timestamp.valueOf("2024-03-05 11:00:00"), 0.3, """{"k": 4}"""))
      .toDF("event_type", "ts", "value", "props")
    val out = EventStreams.hourlyRollup(events)
      .sort("hour_epoch").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 2 && out(0).getAs[Double]("sum_value") == 0.3
      && out(0).getAs[Long]("sum_k") == 5)
    assert(out(1).getAs[Long]("n") == 1 && out(1).getAs[Long]("sum_k") == 4)
  }

  test("streaming appendSink keeps a curve-laid-out table clustered batch over batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.core.TableCatalog(
      java.nio.file.Files.createTempDirectory("graft_stream_ow").toString)
    val t = "main.silver.stream_ow"
    val grid = spark.range(0, 1 << 13).select(
      (col("id") % 128).as("x"), (col("id") / 128).as("y"))
    cat.overwrite(grid, t)
    cat.optimize(spark, t, Seq("x", "y"), curve = "hilbert", bits = 7,
      partitions = Some(4))
    cat.analyze(spark, t, Seq("x", "y"))
    cat.setProperty(t, "optimize.write", "true")
    val mem = MemoryStream[(Long, Long)]
    val q = EventStreams.appendSink(mem.toDF().toDF("x", "y"), cat, t)
    try {
      mem.addData((1L, 999L), (2L, 998L))
      q.processAllAvailable()
      mem.addData((3L, 997L))
      q.processAllAvailable()
    } finally q.stop()
    // both micro-batches entered the layout at write time: nothing left
    // for maintenance, and the row set is complete
    assert(cat.optimizeIncremental(spark, t) == 0,
      "streamed batches should be clustered at write time")
    assert(cat.read(spark, t).count() == (1L << 13) + 3L)
    assert(cat.read(spark, t).filter(col("y") >= 997L).count() == 3L)
  }

  test("streaming sink composes governance: generated column + EXPECT_DROP + exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.core.TableCatalog(
      java.nio.file.Files.createTempDirectory("graft_stream_gov").toString)
    val t = "main.silver.stream_gov"
    // governance declared BEFORE any data: the first micro-batch
    // bootstraps the table already conforming
    cat.setGeneratedColumn(spark, t, "age_band", "age div 10")
    cat.overwrite(Seq((0L, 1L)).toDF("id", "age"), t)
    cat.addExpectDrop(spark, t, "age_pos", "age > 0")
    val mem = MemoryStream[(Long, Long)]
    val q = EventStreams.appendSink(mem.toDF().toDF("id", "age"), cat, t,
      appId = Some("gov-app"))
    try {
      mem.addData((1L, 34L), (2L, -5L)) // -5 violates the expectation
      q.processAllAvailable()
      mem.addData((3L, 41L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = cat.read(spark, t).orderBy("id").collect()
    // violating row dropped and ledgered; generated column computed on
    // every micro-batch (the stream never supplied age_band)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 3L))
    assert(rows.map(_.getAs[Long]("age_band")).toSeq == Seq(0L, 3L, 4L))
    assert(cat.audit(t).toMap.get("age_pos").contains(0L)) // last batch clean
    // exactly-once ledger advanced to the last micro-batch id
    assert(cat.txns(t).toMap.get("gov-app").exists(_ >= 1L))
  }

  test("state-v2 timer sessionization matches the GroupState form exactly") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same scenario as the flatMapGroupsWithState test: user 1 closes a
      // session in-batch (45-min gap), user 2's lone session must be
      // flushed by a TIMER once the watermark crosses its gap deadline
      val rows = Seq(
        (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
        (1L, "2024-01-01 00:55:00"),
        (2L, "2024-01-01 00:05:00"))
        .map { case (u, ts) => (u, Timestamp.valueOf(ts)) }
      val mem = MemoryStream[(Long, Timestamp)]
      mem.addData(rows: _*)
      val events = mem.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "10 minutes")
      val q = StateV2.sessionizeTimers(events, gapSeconds = 1800)
        .writeStream.format("memory").queryName("twstimer_test")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val early = spark.table("twstimer_test").as[StateV2.SessionRow].collect()
        assert(early.map(o => (o.user_id, o.session_seq, o.n_events)).toSet ==
          Set((1L, 1L, 2L), (2L, 1L, 1L)),
          s"in-batch close + timer flush expected, got ${early.toSeq}")
        // a LATER event for user 1 extends session 2, then far-future
        // events advance the watermark past every deadline → timer flush
        mem.addData((1L, Timestamp.valueOf("2024-01-01 01:05:00")))
        q.processAllAvailable()
        mem.addData((9L, Timestamp.valueOf("2024-01-01 06:00:00")))
        q.processAllAvailable()
        mem.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00")))
        q.processAllAvailable()
        val out = spark.table("twstimer_test").as[StateV2.SessionRow].collect()
          .map(o => (o.user_id, o.session_seq, o.n_events,
            o.start_epoch, o.end_epoch)).toSet
        // user 1 session 2: 00:55 extended by 01:05 (10-min gap) — the
        // superseded 00:55+gap timer must NOT have flushed it early
        assert(out.contains((1L, 2L, 2L, 1704070500L, 1704071100L)),
          s"extended session wrong: $out")
        assert(out.exists(r => r._1 == 2L && r._3 == 1L))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("state-v2 initial state bootstraps the profile from a batch backfill") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val hist = Seq((1L, "click", 1.25), (1L, "view", 2.0), (2L, "click", 3.5))
      val live = Seq((1L, "click", 0.75), (3L, "view", 9.99))
      val mem = MemoryStream[(Long, String, Double)]
      val q = StateV2.userStatsStreamFrom(
          mem.toDF().toDF("user_id", "event_type", "value"),
          hist.toDF("user_id", "event_type", "value"))
        .writeStream.format("memory").queryName("user_state_init")
        .outputMode("update").start()
      try {
        mem.addData(live: _*)
        q.processAllAvailable()
        val latest = spark.table("user_state_init").as[StateV2.UserStat]
          .collect().groupBy(_.user_id).map { case (u, rows) =>
            u -> rows.maxBy(_.n_events) }
        // the stream only saw `live`, but profiles continue FROM the
        // backfill: user 1 = 2 historical + 1 live event, types carried
        assert(latest(1L) == StateV2.UserStat(1L, 3L, 400L, 2L),
          s"got ${latest.get(1L)}")
        // user 3 never had history — starts fresh
        assert(latest(3L) == StateV2.UserStat(3L, 1L, 999L, 1L))
        // user 2 had history but no live events: untouched state emits
        // nothing in update mode — bootstrap must not fabricate output
        assert(!latest.contains(2L))
        // equivalence: profiles match the batch aggregate over hist+live
        val batch = StateV2.userStatsBatch((hist ++ live)
            .toDF("user_id", "event_type", "value"))
          .collect().map(r => r.getLong(0) -> StateV2.UserStat(r.getLong(0),
            r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        assert(latest(1L) == batch(1L) && latest(3L) == batch(3L))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState user profile converges to the batch twin across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    // state-v2 requires the RocksDB store; scope it to this test and
    // restore the session default (other suites use the HDFS-backed one)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Double)]
      val events = mem.toDF().toDF("user_id", "event_type", "value")
      val q = StateV2.userStatsStream(events)
        .writeStream.format("memory").queryName("user_state_test")
        .outputMode("update").start()
      try {
        val b1 = Seq((1L, "click", 1.25), (1L, "view", 2.0), (2L, "click", 3.5))
        val b2 = Seq((1L, "click", 0.75), (2L, "buy", 1.0), (3L, "view", 9.99))
        mem.addData(b1: _*)
        q.processAllAvailable()
        // intermediate state visible after batch 1
        val mid = spark.table("user_state_test").as[StateV2.UserStat]
          .collect().map(s => s.user_id -> s).toMap
        assert(mid(1L) == StateV2.UserStat(1L, 2L, 325L, 2L))
        mem.addData(b2: _*)
        q.processAllAvailable()
        // latest emission per user (max n_events) = the running profile
        val latest = spark.table("user_state_test").as[StateV2.UserStat]
          .collect().groupBy(_.user_id).map { case (u, rows) =>
            u -> rows.maxBy(_.n_events) }
        val batch = StateV2.userStatsBatch((b1 ++ b2)
            .toDF("user_id", "event_type", "value"))
          .collect().map(r => r.getLong(0) ->
            StateV2.UserStat(r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3))).toMap
        assert(latest == batch, s"stream=$latest batch=$batch")
        // MapState distinct-type tally: user 2 saw click then buy
        assert(latest(2L).n_types == 2L && latest(2L).sum_cents == 450L)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("state-v2 TTL evicts idle profiles; a returning user starts fresh") {
    // TimeMode.ProcessingTime makes the query SELF-TRIGGER empty
    // micro-batches to advance the state clock — noNewData never
    // latches, so BOTH processAllAvailable() and Trigger.AvailableNow
    // spin forever (observed: >600 state versions in one run). An
    // always-on TTL query is awaited the way its deployment would be:
    // poll the sink for the expected profile, then stop the query.
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[StateV2.UserStat]
    def awaitProfile(what: String)(p: StateV2.UserStat => Boolean)
        : Seq[StateV2.UserStat] = {
      val deadline = System.currentTimeMillis() + 120000
      while (System.currentTimeMillis() < deadline &&
          !got.toArray(Array.empty[StateV2.UserStat]).exists(p))
        Thread.sleep(200)
      val rows = got.toArray(Array.empty[StateV2.UserStat]).toSeq
      assert(rows.exists(p), s"$what: never appeared in ${rows}")
      rows
    }
    try {
      val mem = MemoryStream[(Long, String, Double)]
      // TTL must dwarf the two-batch accumulation window: with a tight
      // TTL (6 s) the pair of "quick" batches straddled it on a loaded
      // host and the within-TTL assertion flaked (round-7 verdict #4).
      // 30 s is ~2 orders above per-batch latency; eviction is then
      // asserted only after a DELIBERATE 33 s idle.
      val ttl = java.time.Duration.ofSeconds(30)
      val q = StateV2.userStatsStreamTtl(
          mem.toDF().toDF("user_id", "event_type", "value"), ttl)
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StateV2.UserStat],
            _: Long) => ds.collect().foreach(got.add) }
        .outputMode("update").start()
      try {
        // two quick batches well inside the TTL: state accumulates
        mem.addData((1L, "click", 1.00))
        awaitProfile("first event")(r => r.n_events == 1L &&
          r.sum_cents == 100L)
        mem.addData((1L, "view", 2.00))
        awaitProfile("within-TTL accumulation")(r =>
          r.n_events == 2L && r.sum_cents == 300L)
        // idle past the TTL: the profile is evicted from the store and
        // the returning user starts a FRESH profile (absent state, not
        // a stale continuation) — the bounded-state contract
        Thread.sleep(ttl.toMillis + 3000)
        got.clear()
        mem.addData((1L, "click", 4.00))
        val after = awaitProfile("fresh post-TTL profile")(r =>
          r.n_events == 1L && r.sum_cents == 400L && r.n_types == 1L)
        assert(!after.exists(_.sum_cents == 700L),
          s"state survived past its TTL: $after")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("state-v2 profile survives checkpoint restart across a shuffle-partition change") {
    import spark.implicits._
    import java.nio.file.Files
    implicit val s = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(key)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = Files.createTempDirectory("graft-resc-src")
    val ckpt = Files.createTempDirectory("graft-resc-ckpt")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[StateV2.UserStat]
    def writeBatch(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val stage = Files.createTempDirectory(s"graft-resc-$name")
      rows.toDF("user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, src.resolve(s"$name.parquet"))
    }
    // the operator pins its state partitioning in the checkpoint at
    // FIRST start; a restart under a different session
    // spark.sql.shuffle.partitions must keep reading/writing the
    // checkpointed layout (not re-shard and orphan RocksDB state) —
    // the recovery semantics a re-tuned cluster depends on
    def runOnce(parts: String): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val stream = spark.readStream
        .schema("user_id LONG, event_type STRING, value DOUBLE")
        .parquet(src.toString)
      val q = StateV2.userStatsStream(stream)
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StateV2.UserStat],
            _: Long) => ds.collect().foreach(got.add) }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      writeBatch("b1", Seq((1L, "click", 1.25), (1L, "view", 2.00),
        (2L, "click", 3.50)))
      runOnce(parts = "3")
      writeBatch("b2", Seq((1L, "click", 0.75), (2L, "buy", 1.00)))
      runOnce(parts = "7") // restart, different session partitioning
      import scala.jdk.CollectionConverters._
      val latest = got.asScala.toSeq.groupBy(_.user_id)
        .map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      // profiles CONTINUE across the restart: counts/cents/types carry
      assert(latest(1L) == StateV2.UserStat(1L, 3L, 400L, 2L),
        s"user 1 state lost across rescale restart: $latest")
      assert(latest(2L) == StateV2.UserStat(2L, 2L, 450L, 2L),
        s"user 2 state lost across rescale restart: $latest")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }
}

package graft

import graft.core.TableCatalog

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Commit-protocol concurrency: simultaneous writers must each publish a
  * complete version with no lost batches, and crashed-writer debris
  * (stale locks, orphaned staging dirs) must not wedge the table. */
class CatalogConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(tag: String): TableCatalog =
    new TableCatalog(
      Files.createTempDirectory(s"graft_occ_$tag").toString)

  test("concurrent appends all commit — every batch present exactly once") {
    val cat = freshCatalog("append")
    val t = "main.silver.occ_events"
    cat.overwrite(Seq((0L, "seed")).toDF("id", "batch"), t)
    val nThreads = 6
    val pool = Executors.newFixedThreadPool(nThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to nThreads).map { b =>
        Future {
          cat.append(
            (1 to 10).map(i => (b * 100L + i, s"b$b")).toDF("id", "batch"), t)
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    val rows = cat.read(spark, t)
    // no lost updates: the seed plus all 6 batches of 10, each id once
    assert(rows.count() == 61L)
    assert(rows.select("id").distinct().count() == 61L)
    val perBatch = rows.groupBy("batch").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to nThreads).foreach(b => assert(perBatch(s"b$b") == 10L, s"batch $b"))
    // commit debris cleaned: no lock, no staging dirs
    val dir = Paths.get(cat.root, "main", "silver", "occ_events")
    assert(!Files.exists(dir.resolve("_COMMIT_LOCK")))
    val stages = Option(dir.toFile.list()).get.filter(_.startsWith(".stage-"))
    assert(stages.isEmpty, s"orphan staging dirs: ${stages.toSeq}")
  }

  test("a crashed writer's stale lock is stolen, not waited out") {
    val cat = freshCatalog("steal")
    val t = "main.silver.occ_steal"
    cat.overwrite(Seq((1L, "a")).toDF("id", "v"), t)
    val dir = Paths.get(cat.root, "main", "silver", "occ_steal")
    val lock = dir.resolve("_COMMIT_LOCK")
    Files.createDirectory(lock)
    // age the lock past the steal threshold (10 min)
    Files.setLastModifiedTime(lock,
      FileTime.fromMillis(System.currentTimeMillis() - 11 * 60 * 1000L))
    cat.append(Seq((2L, "b")).toDF("id", "v"), t) // must not block 15 min
    assert(cat.read(spark, t).count() == 2L)
    assert(!Files.exists(lock))
  }

  test("appendTxn drops replayed batches exactly-once, across plain appends") {
    val cat = freshCatalog("txn")
    val t = "main.silver.occ_txn"
    assert(cat.appendTxn(Seq((1L, "b0")).toDF("id", "batch"), t, "streamA", 0L))
    assert(cat.read(spark, t).count() == 1L)
    // replay of batch 0 → dropped, no data change
    assert(!cat.appendTxn(Seq((1L, "b0")).toDF("id", "batch"), t, "streamA", 0L))
    assert(cat.read(spark, t).count() == 1L)
    // next batch applies
    assert(cat.appendTxn(Seq((2L, "b1")).toDF("id", "batch"), t, "streamA", 1L))
    assert(cat.read(spark, t).count() == 2L)
    // a PLAIN append between transactional ones must carry the ledger…
    cat.append(Seq((3L, "manual")).toDF("id", "batch"), t)
    // …so a late replay of batch 1 is still recognized as a duplicate
    assert(!cat.appendTxn(Seq((2L, "b1")).toDF("id", "batch"), t, "streamA", 1L))
    // and an independent app's versions don't collide with streamA's
    assert(cat.appendTxn(Seq((4L, "other")).toDF("id", "batch"), t, "streamB", 0L))
    assert(cat.read(spark, t).count() == 4L)
    // the ledger surfaces through the ops API (and GRAFT TXNS)
    assert(cat.txns(t) == Seq("streamA" -> 1L, "streamB" -> 0L))
  }

  test("racing duplicate transactional appends apply exactly once") {
    // two workers replay the SAME transaction sequence concurrently (the
    // crash-recovery scenario: both a restarted stream and its zombie
    // predecessor deliver batches 0..4) — every version must land
    // exactly once, whichever worker wins each race
    val cat = freshCatalog("txnrace")
    val t = "main.silver.occ_txnrace"
    cat.overwrite(Seq((0L, -1L)).toDF("id", "txn"), t)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val workers = (1 to 2).map { _ =>
        Future {
          (0 to 4).foreach { v =>
            cat.appendTxn(
              (1 to 5).map(i => (v * 100L + i, v.toLong)).toDF("id", "txn"),
              t, "stream", v.toLong)
          }
        }
      }
      Await.result(Future.sequence(workers), 180.seconds)
    } finally pool.shutdown()
    val rows = cat.read(spark, t)
    // seed + 5 versions x 5 rows, each exactly once despite the replays
    assert(rows.count() == 26L, s"got ${rows.count()} rows")
    assert(rows.select("id").distinct().count() == 26L)
    val perTxn = rows.groupBy("txn").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 4L).foreach(v => assert(perTxn(v) == 5L, s"txn $v applied ${perTxn.get(v)}"))
    assert(cat.txns(t) == Seq("stream" -> 4L))
  }

  test("concurrent overwrites each publish a complete version (last wins)") {
    val cat = freshCatalog("ow")
    val t = "main.silver.occ_ow"
    cat.overwrite(Seq((0L, 0L)).toDF("k", "v"), t)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 4).map { w =>
        Future { cat.overwrite((1 to 5).map(i => (i.toLong, w.toLong)).toDF("k", "v"), t) }
      }
      Await.result(Future.sequence(fs), 120.seconds)
    } finally pool.shutdown()
    // whichever writer won, the table is ONE complete 5-row batch
    val rows = cat.read(spark, t).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 5)
    assert(rows.map(_._2).distinct.length == 1, s"torn version: ${rows.toSeq}")
    assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("publishAtomic: a snapshot reader never sees new silver with stale gold") {
    val cat = freshCatalog("atomic")
    val (sT, gT) = ("main.silver.pairs", "main.gold.pairs")
    cat.publishAtomic(Seq(
      sT -> Seq((1L, 0L)).toDF("id", "run"),
      gT -> Seq((1L, 0L)).toDF("id", "run")))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    try {
      // the racing pipeline: 8 sequential runs, silver+gold per run,
      // published through ONE commit each
      val writer = Future {
        (1 to 8).foreach { run =>
          cat.publishAtomic(Seq(
            sT -> (1 to 5).map(i => (i.toLong, run.toLong)).toDF("id", "run"),
            gT -> (1 to 3).map(i => (i.toLong, run.toLong)).toDF("id", "run")))
        }
        stop.set(true)
      }
      // the reader: resolve BOTH tables through one snapshot, every time;
      // run stamps must always agree — the sequential-publish bug this
      // closes is exactly silver at run N with gold still at run N−1
      val reader = Future {
        while (!stop.get() && torn.get() == null) {
          val snap = cat.snapshot()
          val sRun = snap.read(spark, sT).select("run").head().getLong(0)
          val gRun = snap.read(spark, gT).select("run").head().getLong(0)
          if (sRun != gRun) torn.set(s"silver run=$sRun, gold run=$gRun")
        }
      }
      Await.result(Future.sequence(Seq(writer, reader)), 300.seconds)
    } finally pool.shutdown()
    assert(torn.get() == null, s"torn multi-table read: ${torn.get()}")
    // final state: both tables at run 8, via snapshot AND plain reads
    assert(cat.read(spark, sT).select("run").distinct().head().getLong(0) == 8L)
    assert(cat.read(spark, gT).select("run").distinct().head().getLong(0) == 8L)
    // debris-free: no catalog-root lock left behind
    assert(!Files.exists(Paths.get(cat.root, "_COMMIT_LOCK")))
  }

  test("publishAtomic interoperates with single-table writes and rollback") {
    val cat = freshCatalog("mix")
    val (sT, gT) = ("main.silver.mix", "main.gold.mix")
    cat.publishAtomic(Seq(
      sT -> Seq((1L, 1L)).toDF("id", "run"),
      gT -> Seq((1L, 1L)).toDF("id", "run")))
    // a single-table append AFTER the atomic publish must base on the
    // committed version (currentPath max rule), not lose its rows
    cat.append(Seq((2L, 1L)).toDF("id", "run"), sT)
    assert(cat.read(spark, sT).count() == 2L)
    // the single-table append supersedes silver's multi-commit pin
    assert(cat.snapshot().version(sT).isEmpty)
    // roll silver back to the original atomic version
    val v1 = cat.versions(sT).head
    cat.rollback(sT, v1)
    // rollback must STICK: the multi entry may not resurrect the newer
    // version through the max rule
    assert(cat.read(spark, sT).count() == 1L)
    assert(cat.snapshot().version(sT).forall(_ == v1))
    // and a later atomic publish picks up from the rolled-back base
    cat.publishAtomic(Seq(
      sT -> Seq((9L, 2L)).toDF("id", "run"),
      gT -> Seq((9L, 2L)).toDF("id", "run")))
    assert(cat.read(spark, sT).select("run").head().getLong(0) == 2L)
    assert(cat.snapshot().read(spark, gT).select("run").head().getLong(0) == 2L)
  }

  private def stageDirs(cat: TableCatalog): Seq[String] = {
    val walk = Files.walk(Paths.get(cat.root))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".stage-")).toSeq
    finally walk.close()
  }

  private def runOf(cat: TableCatalog, t: String): Long =
    cat.read(spark, t).select("run").head().getLong(0)

  test("publishAtomicChained: a failing middle batch publishes nothing and leaves no staging") {
    val cat = freshCatalog("chainfail")
    val ts = Seq("main.silver.cf_a", "main.silver.cf_b", "main.gold.cf_c")
    cat.publishAtomic(ts.map(_ -> Seq((1L, 1L)).toDF("id", "run")))
    def pointers: Seq[String] = ts.map(t => Files.readString(
      Paths.get(cat.root, t.split('.'): _*).resolve("_CURRENT")))
    val multi = Files.readString(Paths.get(cat.root, "_MULTI_CURRENT"))
    val before = pointers
    val boom = intercept[IllegalStateException] {
      cat.publishAtomicChained(spark, Seq(
        TableCatalog.ChainedBatch(ts(0), _ => Seq((1L, 2L)).toDF("id", "run")),
        TableCatalog.ChainedBatch(ts(1), read => {
          read(ts(0)).count() // waits until batch 0 has staged
          throw new IllegalStateException("middle batch failed")
        }),
        TableCatalog.ChainedBatch(ts(2), _ => Seq((1L, 2L)).toDF("id", "run"))))
    }
    assert(boom.getMessage == "middle batch failed")
    assert(Files.readString(Paths.get(cat.root, "_MULTI_CURRENT")) == multi)
    assert(pointers == before)
    ts.foreach(t => assert(runOf(cat, t) == 1L, t))
    assert(stageDirs(cat).isEmpty, s"staging left behind: ${stageDirs(cat)}")
    assert(liveLanes.isEmpty, s"lane threads alive: $liveLanes")
  }

  test("publishAtomicChained: earlier names resolve to staged bytes, later names to the live version") {
    val cat = freshCatalog("chainread")
    val (a, b, c) = ("main.silver.cr_a", "main.gold.cr_b", "main.silver.cr_c")
    cat.publishAtomic(Seq(a, b, c).map(_ -> Seq((1L, 1L)).toDF("id", "run")))
    cat.publishAtomicChained(spark, Seq(
      TableCatalog.ChainedBatch(a, _ => Seq((1L, 2L)).toDF("id", "run")),
      TableCatalog.ChainedBatch(b, read =>
        read(a).select($"id", $"run".as("from_a"))
          .join(read(c).select($"id", $"run".as("from_c")), "id")
          .withColumn("run", $"from_a")),
      TableCatalog.ChainedBatch(c, _ => Seq((1L, 2L)).toDF("id", "run"))))
    val row = cat.read(spark, b).select("from_a", "from_c").head()
    assert((row.getLong(0), row.getLong(1)) == ((2L, 1L)))
    assert(runOf(cat, a) == 2L && runOf(cat, c) == 2L)
  }

  test("publishAtomicChained: version slots are claimed in batch order, not staging order") {
    val cat = freshCatalog("chainorder")
    val ts = (0 until 4).map(i => s"main.gold.co_$i")
    cat.publishAtomicChained(spark, ts.zipWithIndex.map { case (t, i) =>
      TableCatalog.ChainedBatch(t, _ => {
        // batch 0 finishes staging last
        if (i == 0) Thread.sleep(1500)
        Seq((i.toLong, 1L)).toDF("id", "run")
      })
    })
    val claimedAt = ts.map { t =>
      val dir = Paths.get(cat.root, t.split('.'): _*)
      Files.readString(dir.resolve(Files.readString(dir.resolve("_CURRENT")).trim)
        .resolve("_commit_ts")).trim.toLong
    }
    assert(claimedAt == claimedAt.sorted, s"claim times by batch: $claimedAt")
  }
}

package graft

import graft.core.TableCatalog

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The catalog's parquet I/O: writes set permissions in-process (no
  * forked `chmod`), record a `_schema` sidecar, and reads with that
  * schema instead of a footer-reading inference job — with the schema,
  * rows and permissions inference and a plain write give. */
class CatalogIoSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(tag: String): TableCatalog =
    new TableCatalog(Files.createTempDirectory(s"graft_io_$tag").toString)

  /** `chmod` processes the JVM starts while `body` runs (JFR). */
  private def chmodForks(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-io", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .count(e => e.getEventType.getName == "jdk.ProcessStart" &&
          String.valueOf(e.getString("command")).contains("chmod"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Bridge.drainListenerBus(spark)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def sample: DataFrame = Seq(
    (1L, "a", "01", 3, java.sql.Date.valueOf("2026-01-05")),
    (2L, "b", "02", 3, java.sql.Date.valueOf("2026-01-06")),
    (3L, null, "01", 4, java.sql.Date.valueOf("2026-01-05"))
  ).toDF("id", "name", "code", "n", "d")

  private def stageDirs(cat: TableCatalog, t: String): Seq[String] =
    Option(Path.of(cat.root, t.split('.'): _*).toFile.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith(".stage-")).toSeq

  test("no chmod forks: a partitioned overwrite and a chained publish start no chmod") {
    val cat = freshCatalog("fork")
    val forks = chmodForks {
      cat.overwrite(sample, "io.s.part", partitionBy = Seq("code", "n"))
      cat.publishAtomicChained(spark, Seq(
        TableCatalog.ChainedBatch("io.s.chain_a", _ => sample, partitionBy = Seq("d")),
        TableCatalog.ChainedBatch("io.s.chain_b", read => read("io.s.chain_a"))))
    }
    assert(forks == 0, s"$forks chmod process(es) forked by catalog writes")
    assert(cat.read(spark, "io.s.chain_b").count() == 3)
    // The recording does see forks: without the native Hadoop library a
    // plain parquet write sets every permission through a chmod child.
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val out = Files.createTempDirectory("graft_io_plain").resolve("t")
      assert(chmodForks(sample.write.parquet(out.toString)) > 0)
    }
  }

  test("in-process permissions equal a plain parquet write's, file by file kind") {
    val cat = freshCatalog("perm")
    cat.overwrite(sample, "io.s.perm", partitionBy = Seq("code"))
    val plain = Files.createTempDirectory("graft_io_perm").resolve("t")
    sample.write.partitionBy("code").parquet(plain.toString)
    def kinds(root: Path): Map[String, Set[Set[PosixFilePermission]]] = {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(_ != root).toSeq.flatMap { p =>
        val n = p.getFileName.toString
        val kind =
          if (Files.isDirectory(p)) Some("partition dir")
          else if (n.endsWith(".parquet")) Some("data")
          else if (n.startsWith(".") && n.endsWith(".crc")) Some("crc")
          else if (n == "_SUCCESS") Some("marker")
          else None
        kind.map(_ -> Files.getPosixFilePermissions(p).asScala.toSet)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      finally w.close()
    }
    val ours = kinds(Path.of(cat.currentPath("io.s.perm")))
    assert(ours.keySet == Set("partition dir", "data", "crc", "marker"), ours)
    assert(ours == kinds(plain))
  }

  test("sidecar read equals the inferred read: schema, order, nullability, rows") {
    val cat = freshCatalog("eq")
    val nested = spark.range(4).select(col("id"),
      struct(col("id").as("x"), array(col("id"), lit(null).cast("long")).as("xs")).as("s"),
      map(lit("k"), col("id").cast("string")).as("m"))
    val typed = spark.range(3).select(col("id"),
      (col("id") * 1.25).cast("decimal(12,4)").as("dec"),
      expr("make_timestamp_ntz(2026, 1, 5, 10, 0, id)").as("ntz"),
      current_timestamp().as("ts"))
    val cases: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("flat", sample, Nil),
      ("part_string", sample, Seq("code")),
      ("part_int", sample, Seq("n")),
      ("part_date", sample, Seq("d")),
      ("part_multi", sample, Seq("code", "n")),
      ("nested", nested, Nil),
      ("typed", typed, Nil),
      ("empty", sample.limit(0), Nil))
    cases.foreach { case (t, df, parts) =>
      val name = s"io.eq.$t"
      cat.overwrite(df, name, parts)
      val dir = cat.currentPath(name)
      assert(Files.isRegularFile(Path.of(dir, "_schema")), s"$t: no _schema sidecar")
      val (viaSidecar, jobs) = jobsDuring { val r = cat.read(spark, name); r.schema; r }
      assert(jobs == 0, s"$t: a sidecar read started $jobs Spark job(s)")
      val inferred = spark.read.parquet(dir)
      assert(viaSidecar.schema == inferred.schema,
        s"$t:\n${viaSidecar.schema.treeString}\nvs\n${inferred.schema.treeString}")
      def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rows(viaSidecar) == rows(inferred), t)
      assert(rows(viaSidecar).size == df.count(), t)
    }
  }

  test("schema-evolving append reads its new column; a version without _schema infers") {
    val cat = freshCatalog("evo")
    val t = "io.s.evo"
    cat.overwrite(Seq((1L, "a")).toDF("id", "v"), t)
    cat.append(Seq((2L, "b", 7)).toDF("id", "v", "extra"), t)
    val evolved = cat.read(spark, t)
    assert(evolved.columns.toSeq == Seq("id", "v", "extra"))
    assert(evolved.orderBy("id").as[(Long, String, Option[Int])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(7))))
    // a hardlink append keeps the batch's sidecar in the new version
    cat.append(Seq((3L, "c", 8)).toDF("id", "v", "extra"), t)
    val cur = Path.of(cat.currentPath(t))
    assert(Files.isRegularFile(cur.resolve("_schema")))
    val before = cat.read(spark, t)
    // legacy: a version written without the sidecar reads through inference
    Files.delete(cur.resolve("_schema"))
    val (legacy, jobs) = jobsDuring { val r = cat.read(spark, t); r.schema; r }
    assert(jobs >= 1, "a version without _schema must infer its schema")
    assert(legacy.schema == before.schema)
    assert(legacy.orderBy("id").collect().toSeq == before.orderBy("id").collect().toSeq)
  }

  test("a write that fails at run time leaves the table unchanged and no stage dir") {
    val cat = freshCatalog("fail")
    val t = "io.s.fail"
    cat.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    val version = cat.currentPath(t)
    // two tasks: id 3 writes its file, id 4 fails mid-job (a range, not a
    // local relation, so the optimizer cannot fold the error into planning)
    val bad = spark.range(3, 5, 1, 2)
      .select(col("id"), expr("if(id = 4, raise_error('boom'), cast(id as string))").as("v"))
    for ((what, write) <- Seq[(String, () => Unit)](
        "overwrite" -> (() => cat.overwrite(bad, t)),
        "append" -> (() => cat.append(bad, t)),
        "partitioned overwrite" -> (() => cat.overwrite(bad, t, Seq("v"))))) {
      val e = intercept[Exception](write())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), s"$what: $e")
      assert(cat.currentPath(t) == version, s"$what published a version")
      assert(stageDirs(cat, t).isEmpty, s"$what left ${stageDirs(cat, t)}")
    }
    assert(cat.read(spark, t).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("overwritePartitions rewrites touched partitions and hardlinks the rest") {
    val cat = freshCatalog("scoped")
    val t = "io.s.scoped"
    val initial = (1 to 40).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "p")
    cat.overwrite(initial, t, Seq("p"))
    def fileKeys(version: String): Map[String, Object] = {
      val dir = Path.of(version)
      val walk = Files.walk(dir)
      try walk.iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .map(f => dir.relativize(f).toString -> Files.getAttribute(f, "unix:fileKey"))
        .toMap
      finally walk.close()
    }
    val v1 = cat.currentPath(t)
    val before = fileKeys(v1)
    // partitions 1 and 3 are replaced wholesale: 1 by new content, 3 by
    // nothing (an empty touched partition drops its rows)
    val rewritten = Seq((101L, "new", 1), (102L, "new", 1)).toDF("id", "v", "p")
    cat.overwritePartitions(rewritten, t, "p", Seq(1, 3))
    val v2 = cat.currentPath(t)
    assert(v2 != v1)
    val after = fileKeys(v2)
    def in(keys: Map[String, Object], part: Int) =
      keys.filter(_._1.startsWith(s"p=$part/"))
    for (p <- Seq(0, 2)) {
      assert(in(before, p).nonEmpty, s"fixture has no files in p=$p")
      assert(in(after, p) == in(before, p), s"p=$p was rewritten, not hardlinked")
    }
    assert(in(after, 1).nonEmpty, "touched partition p=1 lost its new rows")
    assert(in(after, 1).values.toSet.intersect(in(before, 1).values.toSet).isEmpty,
      "touched partition p=1 kept an old file")
    assert(in(after, 3).isEmpty, "touched partition p=3 kept an old file")
    val expected = initial.filter(col("p").isin(0, 2)).union(rewritten)
    // the cast: partition type inference is a session conf other suites set
    def rows(df: DataFrame) = df.select(col("id"), col("v"), col("p").cast("int"))
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(rows(cat.read(spark, t)) == rows(expected))
  }
}

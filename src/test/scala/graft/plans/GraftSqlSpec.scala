package graft.plans

import graft.core.TableCatalog

import org.apache.spark.sql.classic.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface [[graft.functions.GraftExtensions]] injects: the GRAFT
  * command parser ([[GraftSqlParser]], `injectParser`) and the `graft_*`
  * function list. Builds its own session: a parser can only be injected
  * at session-build time via `spark.sql.extensions`, unlike the
  * functions, optimizer rules and strategies which the other suites
  * attach post-hoc to `SparkSpec`'s shared session. Suites run
  * sequentially in the forked test JVM, so temporarily swapping the
  * default session is safe; the previous default is restored in
  * afterAll. */
class GraftSqlSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var shared: SparkSession = _
  private var sess: SparkSession = _

  override def beforeAll(): Unit = {
    // Force the suite-shared plain session to exist FIRST: its lazy val
    // must never initialize while our extensions session is the default
    // (getOrCreate would capture it, silently giving every later suite
    // an injected MvRewriteRule that extraOptimizations can't strip).
    shared = graft.SparkSpec.session.asInstanceOf[SparkSession]
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    sess = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sql-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // withExtensions, NOT .config("spark.sql.extensions", ...): the
      // conf is STATIC — silently ignored when another suite already
      // created the SparkContext — while withExtensions binds to this
      // session whatever the context's age.
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    // Hand the shared plain session back as default AND active so later
    // suites see exactly the pre-suite state whatever the run order.
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
  }

  test("both registration routes register exactly the one function list") {
    import graft.functions.GraftExtensions
    def graftNames(names: Seq[org.apache.spark.sql.catalyst.FunctionIdentifier]) =
      names.map(_.funcName).filter(_.startsWith("graft_")).sorted
    def listed(s: SparkSession) = (
      graftNames(s.sessionState.functionRegistry.listFunction()),
      graftNames(s.sessionState.tableFunctionRegistry.listFunction()))
    val expected = (
      GraftExtensions.functions.map(_._1.funcName).sorted,
      GraftExtensions.tableFunctions.map(_._1.funcName).sorted)
    assert(expected._1.nonEmpty && expected._2.nonEmpty)
    assert(listed(sess) == expected, "injected route (GraftExtensions.apply)")
    GraftExtensions.register(shared)
    assert(listed(shared) == expected, "post-hoc route (GraftExtensions.register)")
  }

  private def cat(): TableCatalog = {
    val c = new TableCatalog(
      java.nio.file.Files.createTempDirectory("graft-sql").toString)
    GraftSql.use(c)
    c
  }

  test("GRAFT VERSIONS / ROLLBACK / VACUUM / COMPACT round-trip the catalog") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c.s.t")
    c.overwrite(Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("k", "v"), "c.s.t")
    assert(sess.sql("GRAFT VERSIONS c.s.t").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
      == Seq(("v000001", false), ("v000002", true)))
    sess.sql("graft rollback c.s.t to v000001") // keywords case-insensitive
    assert(c.read(sess, "c.s.t").count() == 2)
    sess.sql("GRAFT ROLLBACK c.s.t TO v000002")
    assert(sess.sql("GRAFT VACUUM c.s.t KEEP 1").collect()
      .map(_.getString(0)).toSeq == Seq("v000001"))
    assert(c.versions("c.s.t") == Seq("v000002"))
    sess.sql("GRAFT COMPACT c.s.t")
    assert(c.versions("c.s.t") == Seq("v000002", "v000003"))
    assert(c.read(sess, "c.s.t").count() == 3)
  }

  test("GRAFT EXPORT returns a manifest the catalog can read back") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c.s.ex")
    val mf = sess.sql("GRAFT EXPORT c.s.ex").collect().map(_.getString(0))
    assert(mf.length == 1 && mf(0).endsWith("_manifest_v000001.json"), mf.toSeq)
    assert(c.readManifest(sess, java.nio.file.Paths.get(mf(0))).count() == 2)
  }

  test("GRAFT PURGE erases long and quoted-string keys across versions") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v"), "c.s.p")
    c.append(Seq((4L, "w")).toDF("k", "v"), "c.s.p")
    sess.sql("GRAFT PURGE c.s.p KEY k IN (2, 3)")
    c.versions("c.s.p").foreach { v =>
      val ks = c.readVersion(sess, "c.s.p", v).select("k").as[Long].collect()
      assert(!ks.contains(2L) && !ks.contains(3L), s"purged keys survive in $v")
    }
    // deferred physical pass: bytes erased, raw read (no DV filter) clean
    sess.sql("GRAFT PURGE REWRITE c.s.p")
    val raw = sess.read.parquet(c.currentPath("c.s.p")).select("k").as[Long].collect()
    assert(!raw.contains(2L) && !raw.contains(3L), "bytes survive rewrite")
    c.overwrite(Seq(("ann", 1L), ("bob", 2L), ("o'ha", 3L)).toDF("who", "n"),
      "c.s.q")
    sess.sql("GRAFT PURGE c.s.q KEY who IN ('bob', 'o''ha')")
    assert(c.read(sess, "c.s.q").select("who").as[String].collect().toSeq
      == Seq("ann"))
  }

  test("GRAFT ANALYZE builds min/max and bloom sidecars the scans consume") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(
      sess.range(0, 400).select(
        org.apache.spark.sql.functions.col("id").as("k"),
        (org.apache.spark.sql.functions.col("id") % 100).as("m"))
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
        .sortWithinPartitions("k"),
      "c.s.a")
    sess.sql("GRAFT ANALYZE c.s.a COLUMNS (k, m)")
    assert(c.prunedFiles(sess, "c.s.a", "k", 0L, 50L).size == 1)
    sess.sql("graft analyze bloom c.s.a column k")
    assert(c.bloomPrunedFiles(sess, "c.s.a", "k", Seq(150L)).size == 1)
    assert(c.scanPoints(sess, "c.s.a", "k", Seq(150L)).count() == 1L)
  }

  test("GRAFT ANALYZE NDV / GRAFT NDV answer distinct counts from metadata") {
    val c = cat()
    c.overwrite(
      sess.range(0, 3000).select(
        org.apache.spark.sql.functions.col("id").as("k"),
        (org.apache.spark.sql.functions.col("id") % 40).as("m"))
        .repartition(3),
      "c.s.ndv")
    sess.sql("GRAFT ANALYZE NDV c.s.ndv COLUMNS (k, m)")
    val got = sess.sql("GRAFT NDV c.s.ndv COLUMNS (k, m)")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("k") - 3000.0) / 3000.0 <= 0.15, s"k -> ${got("k")}")
    assert(math.abs(got("m") - 40.0) / 40.0 <= 0.15, s"m -> ${got("m")}")
    // un-analyzed column is omitted, not guessed
    assert(sess.sql("GRAFT NDV c.s.ndv COLUMNS (nope)").count() === 0)
  }

  test("GRAFT CLONE hardlinks the current version into a new table") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c.s.src")
    c.overwrite(Seq((1L, "a2"), (2L, "b2"), (3L, "c3")).toDF("k", "v"), "c.s.src")
    sess.sql("GRAFT CLONE c.s.src TO c.s.dst")
    assert(c.read(sess, "c.s.dst").count() == 3)
    // clone is zero-copy-now, independent-later: rolling the source back
    // must not change the clone's contents
    sess.sql("GRAFT ROLLBACK c.s.src TO v000001")
    assert(c.read(sess, "c.s.dst").count() == 3)
    val e = intercept[Exception](sess.sql("GRAFT CLONE c.s.src TO c.s.dst"))
    assert(e.getMessage.contains("already exists"))
  }

  test("GRAFT TABLES lists every table under the catalog root") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a")).toDF("k", "v"), "c.s.t1")
    c.overwrite(Seq((2L, "b")).toDF("k", "v"), "c.s.t2")
    c.overwrite(Seq((3L, "c")).toDF("k", "v"), "other.schema.t3")
    val names = sess.sql("GRAFT TABLES").collect().map(_.getString(0)).toSeq
    assert(names == Seq("c.s.t1", "c.s.t2", "other.schema.t3"), names.toString)
  }

  test("GRAFT DESCRIBE reports per-version files, bytes, and sidecars") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(2), "c.s.d")
    c.overwrite(Seq((1L, "a2")).toDF("k", "v").coalesce(1), "c.s.d")
    sess.sql("GRAFT ANALYZE c.s.d COLUMNS (k)")
    val rows = sess.sql("GRAFT DESCRIBE c.s.d").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(rows.map(_._1).toSeq == Seq("v000001", "v000002"))
    assert(rows.map(_._2).toSeq == Seq(false, true))
    val (v1, v2) = (rows(0), rows(1))
    assert(v1._3 == 2 && v2._3 == 1, rows.mkString("; "))
    assert(rows.forall(_._4 > 0), "bytes must be positive")
    assert(v2._5.contains("_stats") && !v1._5.contains("_stats"),
      "sidecar must be listed for the analyzed current version only")
  }

  test("GRAFT OPTIMIZE: full curve form records layout, bare form folds appends in") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(
      sess.range(0, 4096).select(
        (org.apache.spark.sql.functions.col("id") % 64).as("x"),
        (org.apache.spark.sql.functions.col("id") / 64).as("y")),
      "c.s.o")
    sess.sql("GRAFT OPTIMIZE c.s.o HILBERT BY (x, y)")
    // never-appended layout: incremental is a no-op
    assert(sess.sql("GRAFT OPTIMIZE c.s.o").collect().head.getLong(0) == 0L)
    // match the table's schema exactly (x long, y double — `/` divides
    // to double): a drifted batch would take the union-rewrite path and
    // defeat the incremental story under test
    c.append(Seq((10L, 20.0), (30L, 40.0)).toDF("x", "y"), "c.s.o")
    assert(sess.sql("GRAFT OPTIMIZE c.s.o").collect().head.getLong(0) >= 1L)
    // content preserved through append + incremental recluster
    assert(c.read(sess, "c.s.o").count() == 4098L)
    assert(sess.sql("GRAFT OPTIMIZE c.s.o").collect().head.getLong(0) == 0L)
  }

  test("CHECK constraints reject a violating write before the pointer swap") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), "c.s.chk")
    sess.sql("GRAFT ALTER TABLE c.s.chk ADD CHECK pos_price (price > 0)")
    assert(sess.sql("GRAFT CONSTRAINTS c.s.chk").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("pos_price", "CHECK")))
    // a conforming append passes and is enforced at zero extra scans
    c.append(Seq((3L, 30.0)).toDF("k", "price"), "c.s.chk")
    assert(c.read(sess, "c.s.chk").count() == 3)
    val before = c.versions("c.s.chk")
    // violating batch: rejected whole, staged dir cleaned, table untouched
    val e = intercept[IllegalStateException](
      c.append(Seq((4L, -1.0)).toDF("k", "price"), "c.s.chk"))
    assert(e.getMessage.contains("pos_price"))
    assert(c.versions("c.s.chk") == before)
    assert(c.read(sess, "c.s.chk").count() == 3)
    // NULL passes CHECK (SQL three-valued semantics)
    c.append(Seq((5L, Option.empty[Double])).toDF("k", "price"), "c.s.chk")
    assert(c.read(sess, "c.s.chk").count() == 4)
    // adding a CHECK that existing data violates is refused
    val e2 = intercept[IllegalArgumentException](
      sess.sql("GRAFT ALTER TABLE c.s.chk ADD CHECK small (k < 3)"))
    assert(e2.getMessage.contains("existing rows violate"))
  }

  test("EXPECT ... OR DROP quarantines violating rows and ledgers the counts") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "ok")).toDF("k", "v"), "c.s.exp")
    sess.sql("GRAFT ALTER TABLE c.s.exp ADD EXPECT nonempty (length(v) > 0) OR DROP")
    c.append(Seq((2L, "fine"), (3L, ""), (4L, "")).toDF("k", "v"), "c.s.exp")
    assert(c.read(sess, "c.s.exp").select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(sess.sql("GRAFT AUDIT c.s.exp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("nonempty", 2L)))
    // dropping the constraint restores pass-through writes
    sess.sql("GRAFT ALTER TABLE c.s.exp DROP CONSTRAINT nonempty")
    c.append(Seq((5L, "")).toDF("k", "v"), "c.s.exp")
    assert(c.read(sess, "c.s.exp").count() == 3)
    assert(sess.sql("GRAFT AUDIT c.s.exp").collect().isEmpty)
  }

  test("schema.mode=strict rejects drifted appends; evolve restores union path") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a")).toDF("k", "v"), "c.s.sm")
    sess.sql("GRAFT ALTER TABLE c.s.sm SET ('schema.mode' = 'strict')")
    assert(sess.sql("GRAFT PROPERTIES c.s.sm").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("schema.mode", "strict")))
    // same shape: the O(batch) hardlink append still works under strict
    c.append(Seq((2L, "b")).toDF("k", "v"), "c.s.sm")
    val e = intercept[IllegalStateException](
      c.append(Seq((3L, "c", 9L)).toDF("k", "v", "extra"), "c.s.sm"))
    assert(e.getMessage.contains("schema.mode=strict"))
    assert(c.read(sess, "c.s.sm").columns.toSeq == Seq("k", "v"))
    sess.sql("GRAFT ALTER TABLE c.s.sm SET ('schema.mode' = 'evolve')")
    c.append(Seq((3L, "c", 9L)).toDF("k", "v", "extra"), "c.s.sm")
    assert(c.read(sess, "c.s.sm").columns.toSet == Set("k", "v", "extra"))
    assert(c.read(sess, "c.s.sm").count() == 3)
  }

  test("GRAFT MAINTAIN runs incr-OPTIMIZE, conditional compact, and vacuum") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(
      sess.range(0, 4096).select(
        (org.apache.spark.sql.functions.col("id") % 64).as("x"),
        (org.apache.spark.sql.functions.col("id") % 97).as("y")),
      "c.s.m")
    sess.sql("GRAFT OPTIMIZE c.s.m HILBERT BY (x, y)")
    // drift the layout with appends (many tiny files)
    (1 to 3).foreach(i => c.append(Seq((i.toLong, i.toLong)).toDF("x", "y"), "c.s.m"))
    val acts = sess.sql("GRAFT MAINTAIN c.s.m").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(acts("optimize").startsWith("reclustered_files="))
    // 5 data files (1 clustered + 3 appends reclustered to 1 + carry) —
    // under the 32-file trigger, so compaction correctly declines
    assert(acts("compact").startsWith("skipped"))
    assert(acts.contains("vacuum"))
    assert(c.read(sess, "c.s.m").count() == 4099L)
    // second pass: layout tight, nothing to do
    val acts2 = sess.sql("GRAFT MAINTAIN c.s.m").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(acts2("optimize").startsWith("skipped"))
  }

  test("non-GRAFT SQL delegates untouched; malformed GRAFT fails loudly") {
    assert(sess.sql("SELECT 1 + 1 AS x").collect().head.getInt(0) == 2)
    // injected native functions still resolve through the wrapped parser
    assert(sess.sql("SELECT graft_polyhash('abc') AS h").collect()
      .head.getLong(0) >= 0)
    val e = intercept[IllegalArgumentException](sess.sql("GRAFT FROBNICATE t"))
    assert(e.getMessage.contains("Supported:"))
  }

  test("GRAFT DRIFT reports per-column profile deltas between versions") {
    val sp = sess; import sp.implicits._
    val c = cat()
    c.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "c.s.dr")
    c.overwrite(Seq((1L, "a"), (2L, "b"), (9L, null: String))
      .toDF("k", "v"), "c.s.dr")
    val rows = sess.sql("GRAFT DRIFT c.s.dr v000001 v000002").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("k", "v"))
    val k = rows("k")
    assert(k.getLong(1) == 2L && k.getLong(4) == 3L) // rows_from -> rows_to
    assert(k.getDouble(8) == 2.0 && k.getDouble(10) == 9.0) // max_num moved
    val v = rows("v")
    assert(v.getLong(2) == 0L && v.getLong(5) == 1L) // a null appeared
  }

  test("GRAFT ADD GENERATED declares a computed column applied at write") {
    val sp = sess; import sp.implicits._
    val c = cat()
    sess.sql("GRAFT ALTER TABLE c.s.g ADD GENERATED age_band AS (age div 10)")
    c.overwrite(Seq((1L, 34L), (2L, 41L)).toDF("id", "age"), "c.s.g")
    val r = c.read(sess, "c.s.g").orderBy("id").collect()
    assert(r.map(_.getAs[Long]("age_band")).toSeq == Seq(3L, 4L))
    assert(c.generatedColumns("c.s.g") == Seq("age_band" -> "age div 10"))
  }
}

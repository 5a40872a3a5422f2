package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftSparkCatalog
import graft.table.GraftSql

/** The SQL shell resolves table names through the catalog plugin it
  * registers in the (shared) session: it must leave the session as it found
  * it, keep shells on different warehouses apart, and serve exactly the
  * tables `spark.sql` over a catalog and the library serve. */
class ShellCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def warehouse(tag: String): String =
    Files.createTempDirectory(s"graft_shellcat_${tag}_").toString

  /** Register a catalog plugin over `wh` under `name`. */
  private def catalogOn(name: String, wh: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  test("a shell statement restores the session's current catalog and database, " +
      "also when it throws") {
    val sh = new GraftSql(spark, warehouse("hyg"))
    // a non-default starting point: another graft catalog and namespace
    val other = new graft.table.GraftCatalog(spark, warehouse("hyg_other"))
    other.createDatabase("ns1")
    val cat = catalogOn("shellcat_hyg_other", other.warehouse)
    try {
      spark.catalog.setCurrentCatalog(cat)
      spark.catalog.setCurrentDatabase("ns1")
      val before = (spark.catalog.currentCatalog(), spark.catalog.currentDatabase)
      def same(): Unit = assert(
        (spark.catalog.currentCatalog(), spark.catalog.currentDatabase) == before)
      sh.sql("CREATE TABLE hy (id BIGINT) WITH ('bucket' = '1')"); same()
      sh.sql("INSERT INTO hy SELECT 1"); same()
      assert(sh.sql("SELECT id FROM hy").collect().map(_.getLong(0)).toSeq == Seq(1L))
      same()
      sh.sql("ALTER TABLE hy ADD COLUMN v STRING"); same()
      intercept[AnalysisException](sh.sql("SELECT * FROM no_such_table")); same()
      intercept[Exception](sh.sql("SELECT * FROM hy VERSION AS OF 99")); same()
      intercept[Exception](sh.sql("INSERT INTO hy SELECT * FROM no_such_table")); same()
      intercept[IllegalArgumentException](sh.sql("ALTER TABLE hy DROP COLUMN nope")); same()
    } finally {
      spark.catalog.setCurrentCatalog("spark_catalog")
      spark.catalog.setCurrentDatabase("default")
    }
  }

  test("two shells on different warehouses each see only their own tables") {
    val a = new GraftSql(spark, warehouse("a"))
    val b = new GraftSql(spark, warehouse("b"))
    a.sql("CREATE TABLE only_a (id BIGINT) WITH ('bucket' = '1')")
    b.sql("CREATE TABLE only_b (id BIGINT) WITH ('bucket' = '1')")
    a.sql("CREATE TABLE same_name (v STRING) WITH ('bucket' = '1')")
    b.sql("CREATE TABLE same_name (v STRING) WITH ('bucket' = '1')")
    a.sql("INSERT INTO same_name SELECT 'from a'")
    b.sql("INSERT INTO same_name SELECT 'from b'")
    def v(sh: GraftSql): Seq[String] =
      sh.sql("SELECT v FROM same_name").collect().map(_.getString(0)).toSeq
    assert(v(a) == Seq("from a") && v(b) == Seq("from b"))
    intercept[AnalysisException](a.sql("SELECT * FROM only_b"))
    intercept[AnalysisException](b.sql("SELECT * FROM only_a"))
    // a second catalog in one shell is its own warehouse too
    a.sql(s"CREATE CATALOG c2 WITH ('warehouse' = '${warehouse("c2")}')")
    a.sql("USE CATALOG c2")
    intercept[AnalysisException](a.sql("SELECT * FROM same_name"))
    a.sql("USE CATALOG default_catalog")
    assert(v(a) == Seq("from a"))
  }

  test("session temp views still resolve inside shell INSERT and SELECT bodies") {
    import spark.implicits._
    val sh = new GraftSql(spark, warehouse("tv"))
    sh.sql("CREATE TABLE tv_t (id BIGINT, v STRING) WITH ('bucket' = '1')")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("shellcat_src")
    sh.sql("INSERT INTO tv_t SELECT id, v FROM shellcat_src WHERE id < 3")
    assert(sh.sql("SELECT count(*) FROM shellcat_src").collect().head.getLong(0) == 3L)
    val joined = sh.sql("SELECT s.id FROM shellcat_src s LEFT ANTI JOIN tv_t t " +
      "ON s.id = t.id").collect().map(_.getLong(0)).toSeq
    assert(joined == Seq(3L))
  }

  test("aggregation folds outside the per-bucket readers (listagg, DECIMAL sum, " +
      "last_non_null_value): shell, catalog and library agree, types included") {
    val wh = warehouse("agg")
    val sh = new GraftSql(spark, wh)
    sh.sql("""CREATE TABLE agg_lib (
             |  k BIGINT, tags STRING, amt DECIMAL(5, 1), last_v STRING, seq BIGINT,
             |  PRIMARY KEY (k) NOT ENFORCED
             |) WITH ('bucket' = '2', 'sequence.field' = 'seq',
             |  'changelog-producer' = 'input',
             |  'fields.tags.aggregate-function' = 'listagg',
             |  'fields.amt.aggregate-function' = 'sum',
             |  'fields.last_v.aggregate-function' = 'last_non_null_value')""".stripMargin)
    sh.sql("INSERT INTO agg_lib SELECT * FROM VALUES (1, 'a', 1.5, 'x', 1), " +
      "(2, 'b', 2.0, NULL, 1), (1, 'c', 0.5, NULL, 2) AS v(k, tags, amt, last_v, seq)")
    sh.sql("INSERT INTO agg_lib SELECT * FROM VALUES (1, 'd', 99.9, 'y', 0), " +
      "(2, 'e', 1.1, 'z', 3) AS v(k, tags, amt, last_v, seq)")
    val cat = catalogOn("shellcat_agg", wh)
    val t = sh.catalog.getTable("default", "agg_lib")
    val cols = Seq("k", "tags", "amt", "last_v")
    def rows(df: DataFrame) =
      df.selectExpr(cols: _*).orderBy("k").collect().map(_.toSeq).toSeq
    def types(df: DataFrame) = df.selectExpr(cols: _*).schema.map(_.dataType)
    def doors(travel: String) = Seq(sh.sql(s"SELECT * FROM agg_lib $travel"),
      spark.sql(s"SELECT * FROM $cat.default.agg_lib $travel"))
    def agree(lib: DataFrame, travel: String, withTypes: Boolean): Unit =
      doors(travel).foreach { d =>
        assert(rows(d) == rows(lib), s"rows: ${rows(d)} vs library ${rows(lib)}")
        if (withTypes) assert(types(d) == types(lib))
      }
    val widened = types(t.read)
    assert(widened(2) == org.apache.spark.sql.types.DecimalType(15, 1))
    assert(rows(t.read).map(_.take(2)) == Seq(Seq(1L, "d,a,c"), Seq(2L, "b,e")))
    agree(t.read, "", withTypes = true)
    agree(t.readAt(0), "VERSION AS OF 0", withTypes = true)
    // rows and types agree at every snapshot after each compaction: the
    // DECIMAL(5, 1) sum is DECIMAL(15, 1) through every door, widened once
    // however many compactions re-sum the partial sums
    def everySnapshot(): Unit = {
      agree(t.read, "", withTypes = true)
      assert(types(t.read) == widened)
      doors("").foreach(d => assert(types(d) == widened))
      for (v <- 0L to t.latestSnapshot.get.id) {
        agree(t.readAt(v), s"VERSION AS OF $v", withTypes = true)
        assert(types(t.readAt(v)) == widened, s"VERSION AS OF $v")
      }
    }
    sh.sql("CALL sys.compact('agg_lib', 1)")
    everySnapshot()
    sh.sql("INSERT INTO agg_lib SELECT * FROM VALUES (3, 'f', 0.1, 'w', 5), " +
      "(1, NULL, 0.4, 'q', 4) AS v(k, tags, amt, last_v, seq)")
    everySnapshot()
    val beforeSecond = rows(t.read)
    sh.sql("CALL sys.compact('agg_lib', 1)")
    everySnapshot()
    assert(rows(t.read) == beforeSecond)
    // a filter stays exact
    assert(sh.sql("SELECT k FROM agg_lib WHERE last_v = 'q'").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(sh.sql("SELECT tags FROM agg_lib WHERE k = 2").collect()
      .map(_.getString(0)).toSeq == Seq("b,e"))
    // the audit log and change history agree with the library's
    def opRows(df: DataFrame) = df.selectExpr((cols :+ "rowkind"): _*).collect()
      .map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    import org.apache.spark.sql.functions.lit
    for ((sys, lib) <- Seq("audit_log" -> t.read.withColumn("rowkind", lit("+I")),
        "changelog" -> t.changeHistoryView)) {
      assert(opRows(lib).nonEmpty)
      for (d <- Seq(sh.sql(s"SELECT * FROM agg_lib$$$sys"),
          spark.sql(s"SELECT * FROM $cat.default.`agg_lib$$$sys`")))
        assert(opRows(d) == opRows(lib), s"$sys: ${opRows(d)} vs ${opRows(lib)}")
    }
  }

  test("VARCHAR columns read as STRING; DESCRIBE keeps an added column's " +
      "Flink type spelling") {
    val wh = warehouse("spell")
    val sh = new GraftSql(spark, wh)
    sh.sql("CREATE TABLE sp (id BIGINT, name VARCHAR(10)) WITH ('bucket' = '1')")
    sh.sql("CREATE TABLE sp_pk (id BIGINT, name VARCHAR(10), " +
      "PRIMARY KEY (id) NOT ENFORCED) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO sp SELECT 1, 'a'")
    sh.sql("INSERT INTO sp_pk SELECT 1, 'a'")
    assert(sh.sql("SELECT name FROM sp_pk").collect().map(_.getString(0)).toSeq == Seq("a"))
    sh.sql("ALTER TABLE sp ADD COLUMN note VARCHAR(20)")
    sh.sql("ALTER TABLE sp ADD COLUMNS (at TIMESTAMP(3))")
    sh.sql("ALTER TABLE sp RENAME COLUMN name TO label")
    val described = sh.sql("DESCRIBE sp").collect().map(r => (r.getString(0), r.getString(1)))
    assert(described.toSeq == Seq("id" -> "BIGINT", "label" -> "VARCHAR(10)",
      "note" -> "VARCHAR(20)", "at" -> "TIMESTAMP(3)"))
    sh.sql("INSERT INTO sp SELECT 2, 'b', 'n', TIMESTAMP '2024-01-01 00:00:00'")
    val want = Seq((1L, "a", None), (2L, "b", Some("n")))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(rows(sh.sql("SELECT id, label, note FROM sp ORDER BY id")) == want)
    val cat = catalogOn("shellcat_spell", wh)
    assert(rows(spark.sql(s"SELECT id, label, note FROM $cat.default.sp ORDER BY id")) == want)
  }

  test("shell UPDATE and MERGE after RENAME COLUMN keep the renamed column's " +
      "values on a primary-key table") {
    import spark.implicits._
    val wh = warehouse("dmlren")
    val sh = new GraftSql(spark, wh)
    sh.sql("CREATE TABLE rn (id BIGINT, v STRING, n BIGINT, " +
      "PRIMARY KEY (id) NOT ENFORCED) WITH ('bucket' = '1')")
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "n")
      .createOrReplaceTempView("shellcat_rn_seed")
    sh.sql("INSERT INTO rn SELECT * FROM shellcat_rn_seed")
    sh.sql("ALTER TABLE rn RENAME COLUMN v TO label")
    // re-adding the renamed-away name mints it a storage name: the
    // write-back maps `label` to the file's `v` and the new `v` to its
    // minted name in one step
    sh.sql("ALTER TABLE rn ADD COLUMN v STRING")
    assert(sh.sql("UPDATE rn SET n = n + 1 WHERE label = 'a'").collect()(0)
      .getString(0) == "updated 1 rows in rn")
    Seq((2L, 7L), (4L, 40L)).toDF("id", "n").createOrReplaceTempView("shellcat_rn_cdc")
    assert(sh.sql(
      """MERGE INTO rn AS t USING shellcat_rn_cdc AS c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET n = c.n, v = 'm'
        |WHEN NOT MATCHED THEN INSERT (id, label, n) VALUES (c.id, 'd', c.n)
        |""".stripMargin).collect()(0).getString(0) ==
      "merged into rn: 1 updated, 0 deleted, 1 inserted")
    val want = Seq((1L, "a", 11L, None), (2L, "b", 7L, Some("m")),
      (3L, "c", 30L, None), (4L, "d", 40L, None))
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), Option(r.getString(3)))).toSeq
    assert(rows(sh.sql("SELECT id, label, n, v FROM rn ORDER BY id")) == want)
    val cat = catalogOn("shellcat_dmlren", wh)
    assert(rows(spark.sql(s"SELECT id, label, n, v FROM $cat.default.rn ORDER BY id")) == want)
    val lib = sh.catalog.getTable("default", "rn")
    assert(rows(lib.read.select("id", "label", "n", "v").orderBy("id")) == want)
    // the library's change surfaces keep the files' names, empty answers too
    val head = lib.latestSnapshot.get.id
    assert(lib.changesBetween(head, head).columns.toSet ==
      lib.changesBetween(head - 1, head).columns.toSet)
    lib.compact(targetFileCount = 1)
    assert(rows(sh.sql("SELECT id, label, n, v FROM rn ORDER BY id")) == want)
  }

  test("a read in a database with no directory writes nothing to the warehouse") {
    val wh = warehouse("nodb")
    val sh = new GraftSql(spark, wh)
    sh.sql("CREATE TABLE here (id BIGINT) WITH ('bucket' = '1')")
    sh.sql("USE nosuch")
    intercept[AnalysisException](sh.sql("SELECT * FROM here"))
    assert(sh.sql("SELECT 1").collect().head.getInt(0) == 1)
    assert(!Files.exists(java.nio.file.Paths.get(wh, "nosuch.db")))
    assert(!sh.catalog.listDatabases().contains("nosuch"))
  }
}

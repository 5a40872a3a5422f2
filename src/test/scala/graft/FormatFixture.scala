package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.Assertions._

import graft.table.{GraftCatalog, GraftSql, StreamTable}

/** Tables in an older on-disk format ([[StreamTable.FormatVersion]]) for
  * the refusal-and-upgrade tests. */
object FormatFixture {
  private def spark = SparkFixture.spark

  /** Rewrite every snapshot JSON of `root` as format version 0: drop the
    * `formatVersion` field (absent reads 0), then apply `edit`. */
  def toVersion0(root: String, edit: String => String = identity): Unit =
    StreamTable.listDir(Paths.get(root, "_snapshots"))
      .filter(_.getFileName.toString.matches("snap-\\d+\\.json")).foreach { p =>
        val json = new String(Files.readAllBytes(p))
        Files.write(p, edit(json.replaceAll(",?\"formatVersion\":\\d+", "")).getBytes)
      }

  /** Apply `edit` to every delta-manifest JSON of `root`. */
  def editManifests(root: String)(edit: String => String): Unit =
    StreamTable.listDir(Paths.get(root, "_manifests"))
      .filter(_.getFileName.toString.endsWith(".json")).foreach { p =>
        Files.write(p, edit(new String(Files.readAllBytes(p))).getBytes)
      }

  def messages(e: Throwable): Seq[String] =
    if (e == null) Nil else String.valueOf(e.getMessage) +: messages(e.getCause)

  /** `body` refuses with the format check's one message. */
  def assertRefused(what: String)(body: => Any): Unit = {
    val ms = messages(intercept[Exception](body))
    assert(ms.exists(m => m.contains("on-disk format version 0") &&
      m.contains("CALL sys.compact")), s"$what: ${ms.mkString(" / ")}")
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.mkString("|")).sorted

  /** The head has one full manifest and is stamped version 1. */
  def assertUpgraded(t: StreamTable): Unit = {
    val head = t.latestSnapshot.get
    assert(head.formatVersion == StreamTable.FormatVersion, head)
    assert(head.manifestList.size == 1, s"one full manifest: ${head.manifestList}")
  }

  /** A warehouse table `db.<name>` with the three read doors over it: the
    * library handle, `format("graft")` on its root, and the shell. */
  final class Doors(name: String, options: Map[String, String]) {
    val wh: String = Files.createTempDirectory("graft_fmt_wh_").toString
    val catalog = new GraftCatalog(spark, wh)
    val table: StreamTable = catalog.createTable("db", name, options)
    val shell = new GraftSql(spark, wh)
    shell.sql("USE db")
    /** A fresh handle, as a restarted reader opens the table. */
    def reopen(): StreamTable = catalog.getTable("db", name)
    def library: DataFrame = reopen().read
    def connector: DataFrame = spark.read.format("graft").load(table.root)
    def sql: DataFrame = shell.sql(s"SELECT * FROM $name")
    /** Each door's rows, library first. */
    def answers(cols: Seq[String]): Seq[Seq[String]] =
      Seq(library, connector, sql).map(d => rows(d.select(cols.head, cols.tail: _*)))
    def assertAllRefused(): Unit = {
      assertRefused("library read")(library.collect())
      assertRefused("format(graft)")(connector.collect())
      assertRefused("shell")(sql.collect())
    }
    /** The upgrade through the shell's CALL. */
    def upgrade(): Unit = shell.sql(s"CALL sys.compact('$name')").collect()
  }
}

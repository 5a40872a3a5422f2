package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.v2.{GraftPkInputPartition, GraftPkScan}
import graft.table.{GraftSql, StreamTable}

/** One committed row of a primary-key table; a delete carries only its
  * sequence value in `cells`. */
final case class Put(key: Int, delete: Boolean, cells: Seq[Any])

/** The model of one primary-key table: its state at every snapshot and the
  * rows of every commit. `agg` tables sum their value cells per key (the
  * aggregation engine with `sum`); the others keep the last row per key
  * (the deduplicate engine, rows arrive in sequence order). */
final class PkModel(val agg: Boolean) {
  val states = mutable.LinkedHashMap[Long, Map[Int, Seq[Any]]]()
  val commits = mutable.ArrayBuffer[(Long, Seq[Put])]()
  def headSnap: Long = states.last._1
  def head: Map[Int, Seq[Any]] = states.lastOption.map(_._2).getOrElse(Map.empty)

  def commit(snap: Long, puts: Seq[Put]): Unit = {
    states(snap) = puts.foldLeft(head) { (m, p) =>
      if (p.delete) m - p.key
      else if (agg) m.updated(p.key, m.get(p.key).fold(p.cells)(old =>
        old.zip(p.cells).map { case (a: Long, b: Long) => a + b; case (_, b) => b }))
      else m.updated(p.key, p.cells)
    }
    commits += snap -> puts
  }

  def rows(snap: Long, keep: Int => Boolean = _ => true): Check.Rows =
    states(snap).toSeq.collect { case (k, v) if keep(k) => (k +: v).map(Check.cell) }

  /** `changesBetween(a, b)`: one row per row committed in (a, b], with `-D`
    * for a delete, `+I` when no row of the key is in snapshot a's files, else
    * `+U`. */
  def changes(a: Long, b: Long): Check.Rows = {
    val seenAtA = commits.takeWhile(_._1 <= a).flatMap(_._2.map(_.key)).toSet
    commits.filter(c => c._1 > a && c._1 <= b).flatMap(_._2).map { p =>
      val op = if (p.delete) "-D" else if (seenAtA(p.key)) "+U" else "+I"
      ((p.key +: p.cells) :+ op).map(Check.cell)
    }.toSeq
  }
}

final case class PkTable(name: String, table: StreamTable, cols: Seq[String], model: PkModel)

/** Reads of primary-key tables through the three doors: the library
  * (`StreamTable`), the connector (`format("graft")`, and the catalog plugin
  * for time travel) and the SQL shell (`GraftSql`). Each read is one of a
  * head read, time travel to any committed snapshot, a key-range read or
  * (library door only) `changesBetween`; it is fully collected and compared
  * with the model at that snapshot. */
final class Doors(spark: SparkSession, tr: Trace, warehouse: String, db: String,
    tables: Seq[PkTable], keySpace: Int) {
  spark.conf.set("spark.sql.catalog.lbcat", classOf[graft.sources.v2.GraftSparkCatalog].getName)
  spark.conf.set("spark.sql.catalog.lbcat.warehouse", warehouse)
  private val shell = new GraftSql(spark, warehouse)
  shell.sql(s"USE $db")

  val readMs = mutable.ArrayBuffer[Double]()
  /** Read latencies per `door/table/kind`: which combinations a run covered. */
  val byRead = mutable.TreeMap[String, mutable.ArrayBuffer[Double]]()
  def note(what: String, ms: Double): Unit = {
    readMs += ms
    byRead.getOrElseUpdate(what, mutable.ArrayBuffer()) += ms
  }
  val filesPerRead = mutable.ArrayBuffer[Double]()
  /** What `GraftPkScan` planned and produced, summed over the reads whose
    * executed plan holds one: files in its input partitions, their manifest
    * row counts (the rows its merge readers read) and the scan node's
    * `numOutputRows`. */
  var pkScans, pkFilesPlanned, pkRowsScanned, pkRowsOut = 0L

  /** SQL door minus library door, per round where both read the same
    * table, kind and snapshot. */
  val sqlOverMs = mutable.ArrayBuffer[Double]()

  /** One read through each door. The library and the SQL shell read the
    * same table with the same kind and arguments (the shell has no
    * `changesBetween` and reads the head instead); the connector reads the
    * other table. Table and kind are picked independently: the table from
    * `r % 2`, the kind from `(r / 2) % kinds`, so eight consecutive rounds
    * read every table with each of the library's four kinds and six with
    * each of the connector's three. `r` starts at a seeded offset. */
  def readRound(round: Int, offset: Int, rnd: SplittableRandom, rec: Record): Unit = {
    val r = round + offset
    val n = tables.size
    val t = tables(r % n)
    val kind = Seq("head", "travel", "range", "changes")((r / n) % 4)
    val a = args(t, rnd)
    val lib = readOne(t, "library", kind, a, rec)
    val sql = readOne(t, "sql", if (kind == "changes") "head" else kind, a, rec)
    if (kind != "changes" && !(sql - lib).isNaN) sqlOverMs += sql - lib
    val v = tables((r + 1) % n)
    readOne(v, "v2", Seq("head", "travel", "range")((r / n) % 3), args(v, rnd), rec)
  }

  /** A read's arguments: the snapshot a time-travel read goes to, the
    * start of a `changesBetween` interval and the low key of a range. */
  private final case class Args(travel: Long, from: Long, lo: Int)
  private def args(p: PkTable, rnd: SplittableRandom): Args = {
    val snaps = p.model.states.keys.toIndexedSeq
    Args(snaps(rnd.nextInt(snaps.size)), snaps(math.max(0, snaps.size - 2 - rnd.nextInt(4))),
      1 + rnd.nextInt(keySpace - 99))
  }

  /** One read, fully collected and checked; returns its latency in ms (NaN
    * when the read threw). */
  private def readOne(p: PkTable, door: String, kind0: String, a: Args, rec: Record): Double = {
    // changesBetween needs an interval with at least one commit in it
    val kind = if (kind0 == "changes" && p.model.states.size < 2) "head" else kind0
    val snap = if (kind == "travel") a.travel else p.model.headSnap
    val (from, lo, hi) = (a.from, a.lo, a.lo + 99)
    val k = p.cols.head
    val c = p.cols.mkString(", ")
    val sel = p.cols.map(col)
    val expected = kind match {
      case "changes" => p.model.changes(from, snap)
      case "range" => p.model.rows(snap, x => x >= lo && x <= hi)
      case _ => p.model.rows(snap)
    }
    if (door == "library") filesPerRead += p.table.snapshotAt(snap).map(_.files.size).getOrElse(0).toDouble
    val what = s"${p.name} $door $kind @$snap"
    val s = System.nanoTime()
    // a read the program cannot run is a failed operation, not the end of the run
    val res = try Right(tr("door", door) {
      val df: DataFrame = (door, kind) match {
        case ("library", "head") => p.table.read.select(sel: _*)
        case ("library", "travel") => p.table.readAt(snap).select(sel: _*)
        case ("library", "range") => p.table.read.filter(col(k).between(lo, hi)).select(sel: _*)
        case ("library", "changes") => p.table.changesBetween(from, snap).select(sel :+ col("op"): _*)
        case ("v2", "head") => spark.read.format("graft").load(p.table.root).select(sel: _*)
        case ("v2", "travel") => spark.sql(s"SELECT $c FROM lbcat.$db.${p.name} VERSION AS OF $snap")
        case ("v2", "range") =>
          spark.read.format("graft").load(p.table.root).filter(col(k).between(lo, hi)).select(sel: _*)
        case ("sql", "head") => shell.sql(s"SELECT $c FROM ${p.name}")
        case ("sql", "travel") => shell.sql(s"SELECT $c FROM ${p.name} VERSION AS OF $snap")
        case ("sql", "range") => shell.sql(s"SELECT $c FROM ${p.name} WHERE $k BETWEEN $lo AND $hi")
      }
      if (door == "v2") tr("v2", "plan")(df.queryExecution.executedPlan)
      (df, df.collect().toSeq)
    }) catch { case e: Exception => Left(e) }
    res match {
      case Left(e) =>
        rec.op(ok = false, s"$what threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}")
        Double.NaN
      case Right((df, got)) =>
        val ms = Stats.ms(s)
        note(s"$door/${p.name}/$kind", ms)
        notePkScans(p, snap, df)
        rec.verify(what, expected)(Check.rows(got))
        ms
    }
  }

  private def notePkScans(p: PkTable, snap: Long, df: DataFrame): Unit = {
    lazy val rowsOf = p.table.snapshotAt(snap).map(_.files.map(f => f.path -> f.rowCount).toMap)
      .getOrElse(Map.empty[String, Long])
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftPkScan] => b
    }.foreach { b =>
      val files = b.inputPartitions.collect { case x: GraftPkInputPartition => x.files.map(_._1) }.flatten
      pkScans += 1
      pkFilesPlanned += files.size
      pkRowsScanned += files.map(rowsOf.getOrElse(_, 0L)).sum
      pkRowsOut += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }
}

private object PlanWalk extends AdaptiveSparkPlanHelper

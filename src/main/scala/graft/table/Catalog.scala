package graft.table

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A minimal persistent catalog over [[StreamTable]]s — the Spark-native
  * translation of the reference's Paimon catalog + table DDL surface:
  *
  *  - `CREATE CATALOG … WITH ('warehouse'='…')` + `USE CATALOG`
  *    (tutorial/guide.md:11-17) → one [[GraftCatalog]] per warehouse dir.
  *  - `CREATE TABLE … WITH (options)` (guide.md:23-31, :59-74, :103-115) →
  *    [[createTable]] with the same option keys (`bucket`, `bucket-key`,
  *    `primary-key`, `sequence.field`, `changelog-producer`, …).
  *  - `ALTER TABLE … SET (…)` (guide.md:180-184, :265-271) → [[alterTable]].
  *  - `SHOW DATABASES / TABLES` (Readme.md:57-78) → [[listDatabases]] /
  *    [[listTables]].
  *  - retention + auto-compaction policies (`snapshot.time-retained`,
  *    `snapshot.num-retained.min/max`, `full-compaction.delta-commits`,
  *    `compaction.max.file-num`) → [[applyRetention]] / [[maybeCompact]],
  *    driven from the stored option map exactly like Paimon's maintenance.
  *
  * Layout: `warehouse/<db>.db/<table>/` holds the StreamTable; options live
  * in `_table_options.json` beside it (atomic-rename updates).
  */
class GraftCatalog(spark: SparkSession, val warehouse: String) {
  import GraftCatalog._

  private def dbPath(db: String) = s"$warehouse/$db.db"
  private def tablePath(db: String, t: String) = s"${dbPath(db)}/$t"
  private def optsFile(db: String, t: String) =
    Paths.get(tablePath(db, t), "_table_options.json")

  def createDatabase(db: String): Unit =
    Files.createDirectories(Paths.get(dbPath(db)))

  def listDatabases(): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Seq.empty
    else StreamTable.listDir(Paths.get(warehouse)).iterator
      .map(_.getFileName.toString).filter(_.endsWith(".db"))
      .map(_.stripSuffix(".db")).toSeq.sorted

  def listTables(db: String): Seq[String] =
    if (!Files.exists(Paths.get(dbPath(db)))) Seq.empty
    else StreamTable.listDir(Paths.get(dbPath(db))).iterator
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted

  /** CREATE TABLE with a Paimon-style option map. Recognized keys:
    * `primary-key` (comma-separated), `sequence.field`, `bucket` (int),
    * `bucket-key`; everything else is carried opaquely (file.format,
    * changelog-producer, retention/compaction knobs…). */
  def createTable(db: String, name: String, options: Map[String, String]): StreamTable = {
    createDatabase(db)
    val p = tablePath(db, name)
    require(!Files.exists(optsFile(db, name)), s"table $db.$name already exists")
    Files.createDirectories(Paths.get(p))
    writeOptions(optsFile(db, name), options)
    getTable(db, name)
  }

  /** ALTER TABLE … SET (…): merge new options atomically. */
  def alterTable(db: String, name: String, set: Map[String, String]): Unit = {
    val merged = tableOptions(db, name) ++ set
    writeOptions(optsFile(db, name), merged)
  }

  /** OFFLINE bucket rescale (Paimon's rescale action): `bucket` is immutable
    * through ALTER TABLE because a mixed-generation layout would split a
    * key's versions across bucket ids and break the per-bucket merge — so
    * rescaling rewrites every live row into the new count FIRST (one atomic
    * compaction commit under the patched count), then persists the option so
    * subsequent writes stamp the new ids. Stop concurrent writers before
    * calling (the single-maintenance-job contract): a write landing between
    * the two steps would stamp old-count ids. Like rollback, rescale is
    * snapshot SURGERY for CDC purposes: restart changelog readers rather
    * than letting an interval span it — the per-bucket diff groups by
    * recorded bucket id, and a key's old/new versions straddle generations
    * across the rescale boundary. */
  def rescale(db: String, name: String, buckets: Int): Snapshot = {
    require(buckets > 0, s"rescale needs buckets > 0, got $buckets")
    val opts = tableOptions(db, name)
    require(opts.contains("primary-key") || opts.contains("bucket-key"),
      s"rescale targets a bucketed table (primary-key or bucket-key): $db.$name")
    val patched = GraftCatalog.tableFromOptions(spark, tablePath(db, name),
      opts + ("bucket" -> buckets.toString))
    val snap = patched.compact(buckets)
    alterTable(db, name, Map("bucket" -> buckets.toString))
    snap
  }

  /** Replace the option map wholesale (property REMOVAL — [[alterTable]]
    * only merges). */
  def replaceTableOptions(db: String, name: String, options: Map[String, String]): Unit = {
    require(Files.exists(optsFile(db, name)), s"no such table $db.$name")
    writeOptions(optsFile(db, name), options)
  }

  def tableOptions(db: String, name: String): Map[String, String] = {
    val f = optsFile(db, name)
    require(Files.exists(f), s"no such table $db.$name")
    mapper.readValue(Files.readAllBytes(f), classOf[Map[String, String]])
  }

  def getTable(db: String, name: String): StreamTable =
    GraftCatalog.tableFromOptions(spark, tablePath(db, name), tableOptions(db, name))

  /** Register every table of a database as a temp view (`<db>_<table>`), so
    * the whole catalog is queryable through `spark.sql` — the analog of
    * `USE CATALOG` + SQL over Paimon tables (tutorial/guide.md:17, :88). */
  def registerViews(db: String): Seq[String] =
    listTables(db).map { t =>
      val view = s"${db}_$t"
      getTable(db, t).read.createOrReplaceTempView(view)
      view
    }

  def dropTable(db: String, name: String): Unit = {
    val p = Paths.get(tablePath(db, name))
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  /** Enforce the table's retention options (ALTER TABLE … snapshot.*,
    * guide.md:180-184): returns number of snapshots expired. */
  def applyRetention(db: String, name: String): Int = {
    val o = tableOptions(db, name)
    // partition expiry runs FIRST (a drop commit), so the snapshot expiry
    // below can already start aging the pre-drop versions toward reclaim —
    // expiry retires partitions from the current view, retention reclaims
    // the bytes (StreamTable.expirePartitions).
    applyPartitionExpiry(db, name)
    getTable(db, name).expireSnapshots(
      numRetainedMin = o.getOrElse("snapshot.num-retained.min", "1").toInt,
      numRetainedMax = o.getOrElse("snapshot.num-retained.max", "5").toInt,
      timeRetainedMs = parseDurationMs(o.getOrElse("snapshot.time-retained", "1 h")))
  }

  /** Enforce the table's `partition.expiration-*` options, when declared:
    * age out whole partitions as one metadata-only commit
    * ([[StreamTable.expirePartitions]]). An UNPROVABLE partition (a file
    * not single-valued in a key — compact to fix) must not take the
    * caller's maintenance pass down with it: log the remedy, keep going.
    * Returns partitions dropped (0 when the option is absent). */
  def applyPartitionExpiry(db: String, name: String): Int = {
    val o = tableOptions(db, name)
    o.get("partition.expiration-time").map { horizon =>
      try getTable(db, name).expirePartitions(
        parseDurationMs(horizon),
        strategy = o.getOrElse("partition.expiration-strategy", "update-time"),
        timestampFormatter =
          o.getOrElse("partition.timestamp-formatter", "yyyy-MM-dd"),
        timestampPattern = o.get("partition.timestamp-pattern"))
      catch {
        case e @ (_: IllegalStateException | _: IllegalArgumentException |
            _: UnsupportedOperationException) =>
          org.slf4j.LoggerFactory.getLogger(classOf[GraftCatalog]).warn(
            s"partition expiry of $db.$name skipped this maintenance pass: " +
              e.getMessage)
          0
      }
    }.getOrElse(0)
  }

  /** Continuous ingestion with the table's maintenance policies applied
    * in-line: after every committed micro-batch, [[maybeCompact]] runs the
    * `full-compaction.delta-commits` / `compaction.max.file-num` policy and,
    * when a compaction fired, [[applyRetention]] expires old snapshots; a
    * declared `partition.expiration-time` additionally runs at EVERY commit
    * (Paimon expires partitions at commit time — it is a metadata-only
    * probe/drop, so a continuously-ingesting date-partitioned table ages
    * out with zero manual procedure calls). The tutorial's ALTER TABLE
    * knobs (guide.md:265-271) thereby act end-to-end on a streaming writer.
    * Safe because every maintenance commit goes through the same optimistic
    * snapshot protocol the writer uses. */
  def writeStreamManaged(db: String, name: String,
      stream: org.apache.spark.sql.DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    getTable(db, name).writeStream(stream, trigger, afterCommit = _ => {
      if (maybeCompact(db, name)) applyRetention(db, name)
      else applyPartitionExpiry(db, name)
    })

  /** Auto-compaction policy (guide.md:265-271): compact when the live file
    * count exceeds `compaction.max.file-num`, or unconditionally for a
    * "full-compaction" call site every `full-compaction.delta-commits`
    * commits. With `'sort-compact.columns'='a,b'` (Paimon's sort-compact
    * `--order_by` as a table option) the rewrite z-orders the live set on
    * the two named columns instead of plain repartitioning, so stats-based
    * skipping stays selective on both — maintenance keeps the CLUSTERING,
    * not just the file count. Returns true if a compaction ran. */
  def maybeCompact(db: String, name: String): Boolean = {
    val o = tableOptions(db, name)
    val t = getTable(db, name)
    val nFiles = t.latestSnapshot.map(_.files.size).getOrElse(0)
    val maxFiles = o.getOrElse("compaction.max.file-num", "5").toInt
    val deltaCommits = o.get("full-compaction.delta-commits").map(_.toInt)
    val due = nFiles > maxFiles ||
      deltaCommits.exists(n => t.latestSnapshot.exists(s => (s.id + 1) % n == 0))
    // deletion vectors pending? materialize them surgically FIRST (cost ∝
    // dv'd bytes) — restores the vectorized scan path without waiting for
    // the file-count trigger; runs instead of a full compaction when that
    // isn't otherwise due (a manifest-metadata probe, zero I/O when clean)
    if (!due && t.latestSnapshot.exists(_.files.exists(_.dvCount.exists(_ > 0)))) {
      t.materializeDeletionVectors()
      return true
    }
    if (due) {
      val target = math.max(1, t.currentBuckets)
      o.get("sort-compact.columns").map(_.split(",").map(_.trim)) match {
        case Some(Array(a, b)) => t.sortCompact(a, b, target)
        case Some(other) => throw new IllegalArgumentException(
          s"sort-compact.columns needs exactly two columns, got '${other.mkString(",")}'")
        case None => t.compact(targetFileCount = target)
      }
      true
    } else false
  }
}

object GraftCatalog {
  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)

  /** The `ddl.schema` option: a shell-created table's declared columns with
    * the Flink type spellings `DESCRIBE` shows, as `name type|name type`
    * ("|": commas appear inside types such as DECIMAL(5, 1)). */
  def ddlColumns(opts: Map[String, String]): Seq[(String, String)] =
    opts.getOrElse("ddl.schema", "").split("\\|").filter(_.nonEmpty).toSeq
      .map { cd => val p = cd.split("\\s+", 2); (p(0), p.lift(1).getOrElse("")) }

  /** `cols` as the `ddl.schema` option value ([[ddlColumns]]' inverse). */
  def ddlSchema(cols: Seq[(String, String)]): String =
    cols.map { case (n, ty) => s"$n $ty" }.mkString("|")

  /** Construct a [[StreamTable]] from a root dir + its Paimon-style option
    * map. Recognized structural keys: `primary-key` (comma-separated),
    * `sequence.field`, `bucket` (int), `bucket-key`, `merge-engine`,
    * `fields.<f>.aggregate-function` (their presence implies
    * merge-engine=aggregation, matching Paimon's validation); everything
    * else is carried opaquely. */
  def tableFromOptions(spark: SparkSession, root: String,
      o: Map[String, String]): StreamTable = {
    val FieldAgg = "fields\\.(.+)\\.aggregate-function".r
    val aggSpec = o.collect { case (FieldAgg(f), fn) => f -> fn }.toSeq.sortBy(_._1)
    val pk = o.get("primary-key").map(_.split(",").map(_.trim).toSeq)
    new StreamTable(root, spark,
      primaryKey = pk,
      seqCol = o.get("sequence.field"),
      // Paimon's fixed-bucket default: a PK table without an explicit
      // bucket-key buckets on (the first column of) its primary key, so
      // every version of a key co-locates — the layout the V2 per-bucket
      // merge-on-read and PK point-lookup pruning stand on
      bucketKey = o.get("bucket-key").orElse(pk.map(_.head)),
      numBuckets = o.get("bucket").map(_.toInt).getOrElse(4),
      aggSpec = if (aggSpec.nonEmpty) Some(aggSpec) else None,
      mergeEngine = o.get("merge-engine")
        .filterNot(_ == "aggregation").getOrElse("deduplicate"),
      // the reference's literal option (guide.md:69-73): 'input' (their
      // setting) persists per-commit changelog files at WRITE time;
      // 'lookup'/'full-compaction' DEFER production to compaction (cheap
      // ingest, readers between compactions fall back to the state diff);
      // 'none' (Paimon's default) leaves the CDC reader on the state diff
      changelogMode = o.get("changelog-producer").filter(_ != "none"),
      // PARTITIONED BY (identity): batch writes directory-split so every
      // file is single-valued in the keys — exact pruning/overwrite
      partitionKeys = o.get("partition-keys")
        .map(_.split(",").map(_.trim).toSeq).filter(_.nonEmpty),
      // ADD COLUMN … DEFAULT (EXISTS_DEFAULT): declared-name keys map to
      // their FILE-level storage names so the read substitution matches
      // what files physically lack
      columnDefaults = o.collect {
        case (k, v) if k.startsWith("ddl.default.") && v.nonEmpty =>
          val n = k.stripPrefix("ddl.default.")
          o.get(s"ddl.rename.$n").filter(_.nonEmpty).getOrElse(n) -> v
      },
      // dynamic bucket mode (`bucket = -1`): Paimon's growth-target option,
      // plus the power-of-two count an empty table starts at
      dynBucketTargetRows = o.get("dynamic-bucket.target-row-num").map(_.toLong)
        .getOrElse(StreamTable.DynDefaultTargetRows),
      dynBucketInitial = o.get("dynamic-bucket.initial-buckets").map(_.toInt)
        .getOrElse(2))
  }

  /** Open a table directly from its root dir, honoring the structural
    * options persisted beside it when the root is catalog-managed
    * (`_table_options.json`) — so `format("graft").load(<warehouse table>)`
    * sees the SAME primary-key/merge-engine semantics as the catalog door.
    * A bare StreamTable root written without a catalog has no option file
    * and opens as a plain append table (its structure lives only in the
    * constructing code). */
  def openPath(spark: SparkSession, root: String): StreamTable = {
    val o = pathOptions(root)
    if (o.nonEmpty) tableFromOptions(spark, root, o)
    else new StreamTable(root, spark)
  }

  /** The option map persisted beside a catalog-managed table root
    * (`_table_options.json`); empty for a bare StreamTable directory. */
  def pathOptions(root: String): Map[String, String] = {
    val f = Paths.get(root, "_table_options.json")
    if (Files.exists(f))
      mapper.readValue(Files.readAllBytes(f), classOf[Map[String, String]])
    else Map.empty
  }

  private def writeOptions(target: java.nio.file.Path, o: Map[String, String]): Unit = {
    val tmp = target.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(o))
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Persist an option map beside an arbitrary table root — the same
    * `_table_options.json` CREATE TABLE writes, exposed for the atomic-CTAS
    * stager: the STAGED directory must be a complete catalog table before
    * the one-rename publish moves it into the warehouse. */
  def writeTableOptions(root: String, o: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(root))
    writeOptions(Paths.get(root, "_table_options.json"), o)
  }

  /** Parse Flink-style durations: "20 s", "30 min", "1 h" (guide.md:3, :181). */
  def parseDurationMs(s: String): Long = {
    val m = "(\\d+)\\s*(ms|s|sec|min|m|h|d)".r.findFirstMatchIn(s.trim.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"bad duration: $s"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n
      case "s" | "sec" => n * 1000
      case "min" | "m" => n * 60000
      case "h" => n * 3600000
      case "d" => n * 86400000
    }
  }
}

package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{DataFileMeta, StreamTable}

/** `spark.read.format("graft")` — a DataSourceV2 reader over a [[StreamTable]]
  * directory, making the engine's streaming tables first-class Spark sources:
  * snapshot-isolated scans planned from the manifest (never a directory
  * listing), column pruning and filter pushdown reaching the parquet layer,
  * and footer-stats file skipping — Paimon's Spark connector surface
  * (reference `Readme.md:57-78` exposes tables through a catalog the same
  * way), re-expressed through Spark's public connector API.
  *
  * Scan pipeline (all metadata work is driver-side and file-count-sized,
  * exactly like partition pruning):
  *   1. live files come from the latest snapshot manifest — readers never
  *      race a concurrent writer/compactor (the `snap-<n>.json` contract);
  *   2. comparison/equality filters on stats-covered columns prune whole
  *      files by MANIFEST-persisted min/max (captured once at commit time —
  *      the `$files` stats, guide.md:205-212), with conservative
  *      keep-on-unparseable semantics — skipping can never drop a matching
  *      row;
  *   3. surviving files become one [[InputPartition]] each; the executor-side
  *      reader re-applies the pushed predicate at parquet row-group level
  *      (`FilterCompat`), reads ONLY the projected columns, and Spark
  *      re-applies every filter as a residual — pushdown is a fast path,
  *      never a correctness dependency.
  *
  * PK tables resolve merge-on-read inside per-bucket readers (all four
  * merge engines; see [[GraftPkScanBuilder]]): the bucketed layout
  * co-locates every version of a key, and PK files write as key-sorted
  * runs, so the readers stream a k-way merge — the Paimon LSM read model,
  * through Spark's public connector API.
  *
  * 100 TB posture: one manifest read per scan on the driver and ZERO data
  * file I/O at plan time — per-column stats live in the manifest
  * ([[DataFileMeta.minStats]], Paimon's DataFileMeta model), so a
  * million-file plan is pure metadata work; data work is per-file parallel
  * with no shuffle introduced by the source.
  */
class GraftDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft"
  // a streaming SINK's target may not exist yet: accept the write query's
  // schema as the declared schema (committed files always win once present)
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "format(\"graft\") requires .load(<tableRoot>)")
    p
  }

  private def isChangelog(get: String => String): Boolean =
    Option(get("read-changelog")).exists(v => v == "true" || v == "1")

  /** `incremental-between = "from,to"` → the `(from, to]` snapshot interval
    * as a batch changelog read (V2Incremental.scala). Each endpoint is a
    * snapshot id or a TAG name (Paimon's incremental-between-tags: nightly
    * tags make `"2024-01-01,2024-01-02"` the day's change set). */
  private def incrementalOf(get: String => String,
      base: => GraftV2Table): Option[(Long, Long)] = {
    def split(opt: String, v: String): (String, String) =
      v.split(",").map(_.trim) match {
        case Array(a, b) => (a, b)
        case _ => throw new IllegalArgumentException(
          s"$opt expects 'from,to', got '$v'")
      }
    Option(get("incremental-between")).map { v =>
      val (a, b) = split("incremental-between", v)
      lazy val tags = base.table.tags.toMap
      def resolve(x: String): Long = x.toLongOption.getOrElse(
        tags.getOrElse(x, throw new IllegalArgumentException(
          s"incremental-between endpoint '$x' is neither a snapshot id " +
            s"nor a tag (tags: ${tags.keys.toSeq.sorted.mkString(", ")})")))
      (resolve(a), resolve(b))
    }.orElse(Option(get("incremental-between-timestamp")).map { v =>
      // wall-clock endpoints (epoch millis or ISO date/datetime): each
      // resolves to the LAST snapshot committed at or before it — the same
      // floor rule as TIMESTAMP AS OF time travel
      val (a, b) = split("incremental-between-timestamp", v)
      val snaps = base.table.snapshotHeaders
      def resolve(x: String): Long = {
        val ms = x.toLongOption.getOrElse(java.sql.Timestamp.valueOf(
          if (x.length == 10) s"$x 00:00:00" else x.replace('T', ' ')).getTime)
        snaps.takeWhile(_.committedAtMs <= ms).lastOption.map(_.id)
          .getOrElse(throw new IllegalArgumentException(
            s"no snapshot committed at or before '$x' at ${base.table.root}"))
      }
      (resolve(a), resolve(b))
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = GraftV2Table.fromPath(rootOf(options))
    if (isChangelog(options.get)) new GraftChangelogV2Table(base).schema()
    else incrementalOf(options.get, base) match {
      case Some((a, b)) => new GraftIncrementalV2Table(base, a, b).schema()
      case None => base.schema()
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // with supportsExternalMetadata Spark may skip inferSchema (its path
    // validation included) — a missing path must still fail loudly here,
    // never silently create a table rooted at the literal "null"
    val p = properties.get("path")
    require(p != null && p.nonEmpty, "format(\"graft\") requires .load(<tableRoot>)")
    if (isChangelog(k => properties.get(k)))
      return new GraftChangelogV2Table(GraftV2Table.fromPath(p))
    incrementalOf(k => properties.get(k), GraftV2Table.fromPath(p))
      .foreach { case (a, b) =>
        return new GraftIncrementalV2Table(GraftV2Table.fromPath(p), a, b)
      }
    val t = GraftV2Table.fromPath(p, Option(schema))
    // a COMMITTED table's schema comes from its files (or its persisted
    // evolved declaration); a user-specified read schema that differs is an
    // unsupported projection, not a silent no-op (the declared schema only
    // resolves not-yet-committed sinks). Compare against the table's
    // INTRINSIC schema — the user-supplied one must not mask the check.
    if (schema != null && t.table.latestSnapshot.isDefined) {
      val intrinsic = GraftV2Table.fromPath(p).schema()
      // nullability-insensitive: the intrinsic schema marks PK columns NOT
      // NULL while a writer's dataframe schema is typically nullable — a
      // names+types match is the same table, not a projection
      if (!org.apache.spark.sql.types.DataType
          .equalsIgnoreNullability(schema, intrinsic))
        throw new IllegalArgumentException(
          s"graft does not support a user-specified read schema on a " +
            s"committed table (got ${schema.catalogString}, " +
            s"table is ${intrinsic.catalogString})")
    }
    t
  }
}

object GraftV2Table {
  /** Metadata (system) column names. */
  val FileCol = "_graft_file"
  val SeqMetaCol = "_graft_seq"
  /** Raw row position within [[FileCol]] — the deletion-vector coordinate.
    * (FileCol, PosCol) is a stable per-row id: the delta-based row-level
    * operations ([[GraftDeltaOperation]]) use it as their `rowId`, and a
    * user can SELECT it for row provenance. Positions are RAW file offsets
    * (deletion-vector-suppressed rows still advance the counter), so the
    * reader disables parquet record-level filtering whenever this column is
    * requested — the residual Filter above the scan keeps record truth. */
  val PosCol = "_graft_pos"
  val MetaCols: Set[String] = Set(FileCol, SeqMetaCol, PosCol)

  /** Paimon's streaming start modes, as the stream's initial offset:
    * `scan.snapshot-id = N` starts delivery AT snapshot N (offset N-1);
    * `scan.mode = latest` starts at the current head — NEW changes only,
    * no catch-up; the default (`latest-full`) catches up on the live state
    * then streams changes. Only consulted when no checkpoint exists —
    * recovery always resumes from the checkpointed offset. */
  private[v2] def scanStartOf(get: String => String,
      t: graft.table.StreamTable): Option[Long] =
    Option(get("scan.snapshot-id")) match {
      case Some(id) => Some(id.toLong - 1)
      case None => Option(get("scan.mode")) match {
        case Some("latest") => Some(t.latestSnapshot.map(_.id).getOrElse(-1L))
        case None | Some("latest-full") | Some("default") => None
        case Some(other) => throw new IllegalArgumentException(
          s"unsupported scan.mode '$other' (latest-full | latest, " +
            "or scan.snapshot-id=N)")
      }
    }

  /** Rename every attribute reference declared → file-level in a pushed
    * DML filter (ALL the shapes [[filterToColumn]] accepts — a renamed
    * column in a DELETE condition must resolve against the FILE-level
    * names [[StreamTable.deleteWhere]] reads). */
  private[v2] def translateFilter(f: Filter, m: Map[String, String]): Filter = {
    def t(a: String) = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => EqualTo(t(a), v)
      case EqualNullSafe(a, v) => EqualNullSafe(t(a), v)
      case GreaterThan(a, v) => GreaterThan(t(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(t(a), v)
      case LessThan(a, v) => LessThan(t(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(t(a), v)
      case In(a, vs) => In(t(a), vs)
      case IsNull(a) => IsNull(t(a))
      case IsNotNull(a) => IsNotNull(t(a))
      case StringStartsWith(a, v) => StringStartsWith(t(a), v)
      case StringEndsWith(a, v) => StringEndsWith(t(a), v)
      case StringContains(a, v) => StringContains(t(a), v)
      case And(l, r) => And(translateFilter(l, m), translateFilter(r, m))
      case Or(l, r) => Or(translateFilter(l, m), translateFilter(r, m))
      case Not(c) => Not(translateFilter(c, m))
      case other => other
    }
  }

  /** Lossless V1 `Filter` → `Column` translation for row-level DML pushdown.
    * `None` means "cannot express exactly" — the caller must then refuse the
    * whole operation (never approximate a DELETE condition). */
  private[v2] def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** The connector's table over a library [[StreamTable]], with the
    * declared schema and renames its catalog persisted at its root, if
    * any. `stored` reads in the file-level (stored) column names — what
    * the table's own rewrites write back; the other arguments are the
    * table-internal ones of the constructor. */
  private[graft] def library(t: StreamTable, at: Option[Long],
      stored: Boolean = false, pinned: Option[graft.table.Snapshot] = None,
      bookkeeping: Boolean = false): GraftV2Table = {
    val (declared, renames) = evolutionOf(graft.table.GraftCatalog.pathOptions(t.root))
    val (d, r) =
      if (!stored) (declared, renames)
      else (declared.map(st => StructType(st.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name))))), Map.empty[String, String])
    new GraftV2Table(s"graft.`${t.root}`", t, SparkSession.active, d, at, r,
      pinned, bookkeeping)
  }

  /** `df`, in the declared column names a library read of `t` shows, in
    * the file-level names its data files carry: what a table-internal
    * write of read-derived rows appends. One simultaneous rename, so a
    * chain (`v` renamed to `label`, then a new `v` minted a storage name)
    * maps each column once. */
  private[graft] def storedNames(t: StreamTable,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (_, renames) = evolutionOf(graft.table.GraftCatalog.pathOptions(t.root))
    if (!df.columns.exists(renames.contains)) df
    else df.toDF(df.columns.map(c => renames.getOrElse(c, c)).toSeq: _*)
  }

  /** A batch read of `table`: a Dataset over its [[DataSourceV2Relation]],
    * planned like `format("graft")` and SQL reads. */
  private[graft] def frame(table: Table): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.PlanFrame.ofRows(SparkSession.active,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None))

  def fromPath(root: String, declared: Option[StructType] = None): GraftV2Table = {
    val spark = SparkSession.active
    // honor catalog-persisted structural options (primary key, merge
    // engine, bucketing, declared/evolved schema) when present — a PK
    // warehouse table loaded by bare path must resolve merge-on-read, not
    // leak raw versions, and an evolved table must show its evolved schema
    val table = graft.table.GraftCatalog.openPath(spark, root)
    val (evolved, renames) = evolutionOf(graft.table.GraftCatalog.pathOptions(root))
    new GraftV2Table(s"graft.`$root`", table, spark,
      evolved.orElse(declared), renameMap = renames)
  }

  /** The table's EVOLVED declared schema + rename mappings (declared name →
    * file-level name) from its option map. Two stores, one meaning: the V2
    * catalog's `graft.declared-schema` (Spark DDL) and the SQL shell's
    * `ddl.schema` (`name type|…`, Flink-ish types) + `ddl.rename.<declared>`
    * records — whichever is present, both front doors see the same evolved
    * table. An unparseable store yields None (file-derived schema, the
    * pre-evolution behavior), never a crash. */
  private[v2] def evolutionOf(opts: Map[String, String])
      : (Option[StructType], Map[String, String]) = {
    val renames = opts.collect {
      case (k, v) if k.startsWith("ddl.rename.") && v.nonEmpty &&
          k.stripPrefix("ddl.rename.") != v =>
        k.stripPrefix("ddl.rename.") -> v
    }
    val declared = opts.get(GraftSparkCatalog.SchemaOption)
      .flatMap(s => scala.util.Try(StructType.fromDDL(s)).toOption)
      .orElse {
        val cols = graft.table.GraftCatalog.ddlColumns(opts).map { case (n, ty) =>
          (n, graft.table.GraftSql.sparkType(ty)) }
        if (cols.isEmpty || cols.exists(_._2.isEmpty)) None
        else Some(StructType(cols.map { case (n, t) => StructField(n, t.get) }))
      }
    // `ddl.default.<declared>` (ADD COLUMN … DEFAULT, frozen at ADD time as
    // a canonical literal) rides the schema as Spark's own default-column
    // metadata: EXISTS_DEFAULT makes the vectorized parquet reader fill
    // MISSING columns with the constant (per file, zero plan changes) and
    // CURRENT_DEFAULT makes INSERTs that omit the column materialize it.
    val defaults = opts.collect {
      case (k, v) if k.startsWith("ddl.default.") && v.nonEmpty =>
        k.stripPrefix("ddl.default.") -> v
    }
    val withDefaults =
      if (defaults.isEmpty) declared
      else declared.map(st => StructType(st.map { f =>
        defaults.get(f.name).fold(f) { sql =>
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
            .build())
        }
      }))
    (withDefaults, renames)
  }
}

class GraftV2Table(tableName: String, val table: StreamTable,
    private[v2] val spark: SparkSession,
    declaredSchema: Option[StructType] = None,
    private[v2] val atSnapshot: Option[Long] = None,
    /** Declared column name → FILE-level column name for columns renamed by
      * metadata-only schema evolution (`ALTER TABLE … RENAME COLUMN`): data
      * files keep serving the old name; the scan translates at plan time. */
    renameMap: Map[String, String] = Map.empty,
    /** Table-internal reads only (compaction): read this snapshot as given
      * (its files may be sorted copies, and it may be the version-0 head
      * the compaction upgrades) instead of loading one. */
    pinned: Option[graft.table.Snapshot] = None,
    /** Table-internal reads only (compaction): a primary-key read also
      * emits the commit sequence and the per-field provenance columns the
      * merge engine persists, so the rewritten rows keep merging with later
      * writes. */
    bookkeeping: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Native UPDATE / MERGE INTO / non-pushable DELETE. Two physical
    * strategies, picked by the `rowlevel.mode` table option:
    *
    *  - `cow` (default): group-based copy-on-write at file granularity
    *    ([[GraftRowLevelOperation]]) — cost ∝ bytes of files containing
    *    matches; zero read amplification afterwards.
    *  - `dv` (merge-on-read): delta-based ([[GraftDeltaOperation]],
    *    SupportsDelta) — matched rows become deletion-vector positions and
    *    changed/inserted rows append as new files, cost ∝ MATCHES; readers
    *    pay the suppression until auto-maintenance materializes the
    *    vectors. The 100 TB compliance-delete / trickle-update posture.
    *
    * Built unconditionally — Spark's OptimizeMetadataOnlyDeleteFromTable
    * converts pushable DELETEs back to [[deleteWhere]] BEFORE any scan is
    * created, so PK tombstone deletes keep their fast path; both operations
    * refuse PK tables at scan build (PK DML is merge-on-read already). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(atSnapshot.isEmpty, s"$tableName is a time-travel read; " +
      s"${info.command()} targets the current table version")
    // PK tables ALWAYS go merge-on-read in their own alphabet (upsert
    // images + tombstones through one appendBatch — GraftPkDeltaOperation);
    // rowlevel.mode only arbitrates the append-table COW-vs-DV trade
    if (table.primaryKey.isDefined)
      return () => new GraftPkDeltaOperation(this, info.command())
    val mode = graft.table.GraftCatalog.pathOptions(table.root)
      .getOrElse("rowlevel.mode", "cow")
    require(mode == "cow" || mode == "dv",
      s"$tableName: unknown rowlevel.mode '$mode' (supported: cow, dv)")
    if (mode == "dv") { () => new GraftDeltaOperation(this, info.command()) }
    else { () => new GraftRowLevelOperation(this, info.command()) }
  }

  /** Rename mappings, exposed for the changelog wrapper. */
  private[v2] def renames: Map[String, String] = renameMap

  /** Native `DELETE FROM <table> WHERE <cond>` (Paimon's batch delete, the
    * second thing a user types at a real table) — routed to
    * [[StreamTable.deleteWhere]], which picks the physical strategy:
    * merge-on-read tombstones for PK tables (cost ∝ matching keys), touched-
    * file-pruned copy-on-write for append tables (non-overlapping files are
    * neither read nor rewritten, and survive in the new snapshot verbatim).
    * Either way one atomic manifest commit; the pre-delete snapshot stays
    * time-travelable until retention. Spark only offers the push when EVERY
    * predicate converted losslessly ([[canDeleteWhere]]) — a partial
    * condition could silently delete a superset. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    atSnapshot.isEmpty && filters.forall(GraftV2Table.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(atSnapshot.isEmpty,
      s"$tableName is a time-travel read; DELETE targets the current version")
    if (dropPartitions(filters)) return
    // declared → file-level attribute translation FIRST: StreamTable's
    // deleteWhere/cowRewrite resolve against the stored column names, so a
    // DELETE on a renamed column must arrive pre-translated
    val cond = filters.toSeq
      .map(f => GraftV2Table.filterToColumn(
          GraftV2Table.translateFilter(f, renameMap)).getOrElse(
        throw new UnsupportedOperationException(s"cannot push DELETE filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.deleteWhere(cond)
  }

  /** Partition-aligned DELETE is METADATA-ONLY (Paimon's drop-partition):
    * `DELETE FROM t WHERE p = v [AND q = w]` on a partitioned append table
    * removes exactly the named partition's files from the manifest — zero
    * data bytes read or written, at any table size. Possible because every
    * partition-clustered file is SINGLE-VALUED in each key: a file either
    * provably matches entirely (stats equality + single-valued proof) or
    * provably misses. Any unprovable file — or any condition that is not a
    * pure conjunction of non-null partition-key equalities — falls back to
    * the ordinary row-level delete, which stays exact. PK tables never take
    * this path (their delete is tombstones; file drop would resurrect
    * older versions). Returns true when the drop committed. */
  private def dropPartitions(filters: Array[Filter]): Boolean = {
    val pks = table.partitionKeys.getOrElse(return false)
    if (table.primaryKey.isDefined || filters.isEmpty) return false
    val conds: Seq[(String, Any)] = filters.toSeq.map {
      case EqualTo(a, v) if v != null => renameMap.getOrElse(a, a) -> v
      case org.apache.spark.sql.sources.EqualNullSafe(a, v) if v != null =>
        renameMap.getOrElse(a, a) -> v
      case _ => return false
    }
    if (!conds.forall(c => pks.contains(c._1))) return false
    val live = table.latestSnapshot.map(_.files).getOrElse(return false)
    // every file must be provably entirely-in or entirely-out — one
    // ambiguous file and the whole drop falls back to the exact row path
    val decided = live.map { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      def nullCount(c: String) = f.nullStats.flatMap(_.get(c))
        .flatMap(_.toLongOption)
      def allNull(c: String) = nullCount(c).contains(f.rowCount)
      val verdicts = conds.map { case (c, v) =>
        if (allNull(c)) Some(false)
        else if (!FileSkip.keep(EqualTo(c, v), mins, maxs, Some(f))) Some(false)
        // entirely-in needs min==max==v AND a PROVEN zero null count:
        // parquet min/max stats ignore nulls, so a row-level-DML output
        // file mixing p=v rows with p=NULL rows still shows min==max==v —
        // dropping it would silently delete the NULL partition's rows
        else if (mins.get(c).exists(maxs.get(c).contains) &&
          nullCount(c).contains(0L)) Some(true)
        else None // unprovable: not single-valued / nulls present / no stats
      }
      if (verdicts.contains(None)) None
      else Some(f -> verdicts.forall(_.contains(true)))
    }
    if (decided.contains(None)) return false
    val removed = decided.flatten.collect { case (f, true) => f.path }.toSet
    table.dropFiles(removed)
    true
  }

  /** System columns (Paimon's `__paimon_file_path` / sequence surface,
    * Spark's `_metadata` idiom): provenance per row without any data-file
    * rewrite — the reader fills them from the manifest entry it is already
    * holding, so they cost nothing. `SELECT _graft_file, _graft_seq FROM t`
    * works in plain SQL through the catalog. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    // a data column that uses a metadata name shadows it (stored data wins)
    val dataNames =
      try schema().fieldNames.toSet catch { case _: Exception => Set.empty[String] }
    all.filterNot(m => dataNames.contains(m.name()))
  }

  private def all: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftV2Table.FileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file this row was read from"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftV2Table.SeqMetaCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "commit sequence (batch id) of the row's file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftV2Table.PosCol
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "raw row position within _graft_file (deletion-vector coordinate)"
      })

  /** Snapshot-pinned copy (`VERSION AS OF` / `TIMESTAMP AS OF`). */
  private[v2] def at(snapshotId: Long): GraftV2Table = {
    require(table.hasSnapshot(snapshotId),
      s"$tableName has no snapshot $snapshotId")
    new GraftV2Table(s"$tableName@$snapshotId", table, spark,
      declaredSchema, Some(snapshotId), renameMap)
  }

  private[v2] def liveSnapshot: Option[graft.table.Snapshot] =
    pinned.orElse(atSnapshot match {
      case Some(id) => table.snapshotAt(id)
      case None => table.latestSnapshot
    })

  private[v2] def liveFiles: Seq[DataFileMeta] =
    liveSnapshot.map(_.files).getOrElse(Seq.empty)

  /** The bucket count `files` (captured from ONE snapshot read) were
    * labeled under — the count bucket-prune hashing must use. Callers
    * capture files and count from the SAME [[liveSnapshot]] value: a
    * dynamic table's inline split can commit between two separate disk
    * reads, and hashing a key under the new count against old-generation
    * labels prunes the wrong bucket. None on an unbucketed or empty
    * table. */
  private[v2] def bucketCountOf(snap: Option[graft.table.Snapshot]): Option[Int] =
    if (!table.isDynamicBucket) Some(table.numBuckets).filter(_ > 0)
    else snap.flatMap(_.bucketCount)

  override def name(): String = tableName

  /** The declared schema, else the live files' merged one. A declared
    * schema is the CREATE TABLE contract and carries metadata-only
    * evolution (ADD: files lack it, readers null-fill; DROP: files keep it,
    * hidden; RENAME: files keep the old name). */
  private def storedSchema: StructType = declaredSchema match {
    case Some(d) => d
    case None =>
      val files = liveFiles
      if (files.isEmpty)
        throw new IllegalStateException(s"$tableName has no committed snapshot")
      // bookkeeping columns never surface; the merged file schema unions
      // layouts across evolution (old files null-fill)
      StructType(StreamTable.fileSchema(spark, files)
        .filterNot(f => StreamTable.isBookkeepingCol(f.name)))
  }

  /** [[storedSchema]] in file-level names. */
  private[v2] def storedFileSchema: StructType =
    StructType(storedSchema.map(f => f.copy(name = renameMap.getOrElse(f.name, f.name))))

  override def schema(): StructType = {
    val base = storedSchema
    // an aggregation table's READ view is exactly (primary key, aggregated
    // fields): the merge groups by pk and aggregates the declared fields,
    // so any other stored column has no merged value. Additive fields
    // WIDEN like Spark's own sum (integral → BIGINT, FLOAT → DOUBLE,
    // DECIMAL(p,s) → DECIMAL(min(p + 10, 38), s)): the schema carries the
    // widened type and the fold accumulates in it. Compaction writes sums
    // in that type, so the widening applies to the input type: the
    // declared one, or for a table without one, that of its fresh
    // (level-0) files — a table holding only compacted files is already
    // widened.
    val view = (table.primaryKey, table.aggSpec) match {
      case (Some(pk), Some(spec)) =>
        val fns = spec.toMap
        lazy val freshFiles = liveFiles.filter(_.level == 0)
        lazy val fresh = StreamTable.fileSchema(spark, freshFiles)
        def input(f: StructField): Option[DataType] = f.dataType match {
          case _: DecimalType if declaredSchema.isEmpty =>
            if (freshFiles.isEmpty) None
            else fresh.find(_.name == f.name).map(_.dataType)
          case dt => Some(dt)
        }
        val order = pk ++ spec.map(_._1)
        StructType(order.flatMap(n => base.find(_.name == n).map { f =>
          (fns.get(n), f.dataType) match {
            case (Some("sum" | "count"), ByteType | ShortType | IntegerType) =>
              f.copy(dataType = LongType)
            case (Some("sum" | "count"), FloatType) => f.copy(dataType = DoubleType)
            case (Some("sum" | "count"), _: DecimalType) => input(f) match {
              case Some(d: DecimalType) => f.copy(dataType =
                DecimalType(math.min(d.precision + 10, DecimalType.MAX_PRECISION), d.scale))
              case _ => f
            }
            case _ => f
          }
        }).map(pkNotNull))
      case _ => StructType(base.map(pkNotNull))
    }
    table.primaryKey match {
      case None => view
      case Some(pk) =>
        // the list folds refuse a field of the wrong type on every read
        val prov = PkMerge.provenance(table, view.map(f =>
          f.copy(name = renameMap.getOrElse(f.name, f.name)))
          .filterNot(f => pk.contains(f.name)), renameMap)
        if (!bookkeeping) view
        else StructType(view.fields ++
          (StructField(StreamTable.SeqColName, LongType) +: prov))
    }
  }

  /** Primary-key columns surface NOT NULL (the Paimon contract — a PK row
    * must carry its key; the bucket router and the merge readers key on
    * it), which is also what lets them serve as the delta row id
    * ([[GraftPkDeltaOperation.rowId]] — Spark refuses nullable row IDs). */
  private def pkNotNull(f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.StructField =
    if (table.primaryKey.exists(_.contains(renameMap.getOrElse(f.name, f.name))))
      f.copy(nullable = false)
    else f

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)

  /** `PARTITIONED BY` surfaces as identity transforms (declared names) —
    * what lets `INSERT OVERWRITE … PARTITION (p = v)` resolve. Bucketing is
    * deliberately NOT reported here: it rides the scan's
    * KeyGroupedPartitioning (SPJ), not the write path. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    table.partitionKeys match {
      case Some(pks) =>
        val declaredOf = renameMap.map(_.swap)
        pks.map(c => org.apache.spark.sql.connector.expressions.Expressions
          .identity(declaredOf.getOrElse(c, c))).toArray
      case None => Array.empty
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.primaryKey match {
      case Some(pk) =>
        // PK merge-on-read: per-bucket resolution inside the readers (see
        // V2PkRead.scala) — last-writer-wins for deduplicate, first wins
        // for first-row, per-key ACCUMULATION for the aggregation engine,
        // and per-FIELD last-non-null for partial-update (the reader reads
        // the persisted `__graft_fseq_*` provenance structs and applies the
        // library's exact per-field rule — all four engines' merges are
        // bucket-local because key co-location is the layout's contract).
        new GraftPkScanBuilder(this, schema(), pk, renameMap)
      case None =>
        new GraftScanBuilder(this, schema(),
          consumerId = Option(options.get("consumer-id")), nameMap = renameMap,
          scanStart = GraftV2Table.scanStartOf(options.get, table))
    }

  /** Batch append (`INSERT INTO` / `df.writeTo(...).append()` /
    * `format("graft").mode("append")`): the [[org.apache.spark.sql.connector.write.V1Write]]
    * bridge hands over the LOGICAL DataFrame, and [[StreamTable.appendBatch]]
    * runs the same distributed staging-write + atomic-rename manifest commit
    * the streaming writer uses — one committing write protocol for every
    * front door (writes stay executor-parallel; nothing materializes on the
    * driver). Works on PK tables too (an append IS an upsert there); only
    * the V2 read is PK-restricted. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(atSnapshot.isEmpty, s"$tableName is a time-travel read; " +
      "writes go to the current table version")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // INSERT OVERWRITE: Spark asks for truncate-then-append; we commit
      // both as ONE atomic manifest swap (overwriteBatch) — readers never
      // see an empty or half-written table
      private var replace = false
      // static PARTITION overwrite: (file-level key, value) equalities
      private var partitionConds: Option[Seq[(String, Any)]] = None
      // DYNAMIC partition overwrite: the staged rows define the replaced set
      private var dynamic = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replace = true; this
      }
      /** `INSERT OVERWRITE` under partitionOverwriteMode=dynamic /
        * `df.writeTo(t).overwritePartitions()` (Paimon's default overwrite
        * semantics): replace EXACTLY the partitions the staged rows land in,
        * leaving every untouched partition byte-identical. On an
        * unpartitioned table the staged rows are "the whole table" — plain
        * atomic truncate-overwrite, Paimon's posture (dynTruncate: Spark's
        * OverwritePartitionsDynamicExec has no V1 fallback, so this case
        * must ALSO build a real BatchWrite — toBatch serves it a
        * truncate-overwrite instead of the partition-proof machinery). */
      private var dynTruncate = false
      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (table.partitionKeys.isEmpty) dynTruncate = true else dynamic = true
        this
      }
      /** `INSERT OVERWRITE … PARTITION (p = v, …)` (partitionOverwriteMode
        * STATIC, the default): replace EXACTLY the named partition's files.
        * Exactness is provable because partitioned writes leave every file
        * SINGLE-VALUED in every partition key — a file either entirely
        * matches or entirely misses; anything unprovable refuses loudly. */
      override def overwrite(filters: Array[Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          return truncate()
        val pks = table.partitionKeys.getOrElse(throw new UnsupportedOperationException(
          s"$tableName: a filtered INSERT OVERWRITE needs a PARTITIONED BY " +
            "table (file-level replacement has no exact meaning otherwise)"))
        val conds = filters.toSeq.map {
          case EqualTo(a, v) if v != null => renameMap.getOrElse(a, a) -> v
          case org.apache.spark.sql.sources.EqualNullSafe(a, v) if v != null =>
            renameMap.getOrElse(a, a) -> v
          case f => throw new UnsupportedOperationException(
            s"$tableName: PARTITION overwrite supports only non-null " +
              s"equality on partition keys, got $f")
        }
        conds.foreach { case (c, _) => require(pks.contains(c),
          s"'$c' is not a partition key of $tableName (${pks.mkString(", ")})") }
        partitionConds = Some(conds)
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // best-effort clustering by the partition keys + bucket key
          // (micro-batches shuffle into one task per (partition, bucket) →
          // one sink file each per epoch); NOT strictly required — the
          // sink's per-row (partition, bucket) split keeps labels correct
          // whatever shape the plan takes, and the batch path's appendBatch
          // clusters for itself
          override def requiredDistribution
              : org.apache.spark.sql.connector.distributions.Distribution = {
            val declaredOf = renameMap.map(_.swap)
            val cluster =
              (table.partitionKeys.getOrElse(Seq.empty) ++ table.bucketKey)
                .map(c => declaredOf.getOrElse(c, c))
                .filter(info.schema().fieldNames.contains)
            if (cluster.nonEmpty)
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(cluster.map(c =>
                  org.apache.spark.sql.connector.expressions.Expressions.column(c)
                    : org.apache.spark.sql.connector.expressions.Expression).toArray)
            else
              org.apache.spark.sql.connector.distributions.Distributions
                .unspecified()
          }
          override def requiredNumPartitions: Int =
            if (table.partitionKeys.isEmpty &&
                table.bucketKey.exists(info.schema().fieldNames.contains))
              table.currentBuckets // dynamic mode: the head's count (advisory)
            else 0 // partitioned: |partitions| is data-dependent, Spark picks
          // PK targets also require per-task ordering by the primary key:
          // Spark plans ONE spillable SortExec before the writers, so sink
          // epochs and dynamic overwrites come out as key-sorted runs, the
          // layout every PK data file must have (the executor writer checks
          // it and fails the task on a key inversion; the batch door's
          // appendBatch sorts for itself). Unlike the distribution, this
          // request is mandatory.
          override def requiredOrdering
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            table.primaryKey match {
              case Some(pk) if pk.forall(info.schema().fieldNames.contains) =>
                pk.map(c => org.apache.spark.sql.connector.expressions
                  .Expressions.sort(
                    org.apache.spark.sql.connector.expressions.Expressions.column(c),
                    org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
                  : org.apache.spark.sql.connector.expressions.SortOrder).toArray
              case _ => Array.empty
            }
          override def distributionStrictlyRequired(): Boolean = false
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              // renamed columns persist under their FILE-level name so every
              // data file (pre- and post-rename) carries one uniform column;
              // the scan maps it back to the declared name (the shell's
              // INSERT does the same — Paimon's stable-field-id model)
              val stored = renameMap.foldLeft(data) { case (df, (decl, file)) =>
                if (df.columns.contains(decl)) df.withColumnRenamed(decl, file)
                else df
              }
              val next = math.max(
                table.latestSnapshot.map(_.batchId + 1).getOrElse(0L), 0L)
              partitionConds match {
                case Some(conds) =>
                  // a file is ENTIRELY in the partition iff its stats can't
                  // rule the equality out AND prove single-valuedness; a
                  // ruled-out file is entirely outside; anything else
                  // (a multi-valued row-level DML output) refuses
                  def entirely(f: DataFileMeta): Boolean = {
                    val (mins, maxs) = StreamTable.skipStats(f)
                    def nullCount(c: String): Option[Long] =
                      f.nullStats.flatMap(_.get(c)).flatMap(_.toLongOption)
                    conds.forall { case (c, v) =>
                      // an all-null partition column can never equal v: the
                      // file is entirely OUTSIDE (the null partition), not
                      // unprovable
                      if (nullCount(c).contains(f.rowCount)) false
                      else if (!FileSkip.keep(EqualTo(c, v), mins, maxs, Some(f)))
                        false
                      else {
                        // min==max alone is NOT an entirely-in proof: parquet
                        // stats ignore nulls, so a file mixing p=v with
                        // p=NULL rows (row-level-DML output is not
                        // partition-clustered) still shows min==max==v —
                        // require a proven zero null count too, else the
                        // overwrite would silently drop the NULL partition
                        require(mins.get(c).exists(maxs.get(c).contains) &&
                            nullCount(c).contains(0L),
                          s"$tableName: ${f.path} is not provably " +
                            s"single-valued and null-free in partition key " +
                            s"'$c' — PARTITION overwrite needs " +
                            "partition-clustered files (run CALL sys.compact " +
                            "first)")
                        true
                      }
                    }
                  }
                  table.commitPartitionOverwrite(stored,
                    removedOf = _.filter(entirely),
                    validateStaged = ms => ms.foreach(m => require(entirely(m),
                      s"$tableName: INSERT OVERWRITE PARTITION received " +
                        s"rows outside the named partition (staged file " +
                        s"${m.path} violates ${conds.map(c => s"${c._1}=${c._2}").mkString(", ")})")),
                    next)
                // (dynamic overwrite never reaches here: Spark's
                // OverwritePartitionsDynamicExec has no V1 fallback — it
                // drives the real distributed BatchWrite via toBatch below)
                case None =>
                  if (replace || overwrite) table.overwriteBatch(stored, next)
                  else table.appendBatch(stored, next)
              }
            }

          // DYNAMIC partition overwrite (`overwritePartitions()` / INSERT
          // OVERWRITE under partitionOverwriteMode=dynamic): the one write
          // shape with NO V1 fallback in Spark, served by a real distributed
          // BatchWrite — executor writers split files per (partition,
          // bucket) with task-captured stats, the driver commit derives the
          // replaced partitions from the staged rows and swaps exactly those
          // partitions' live files in one atomic commit.
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite = {
            require(dynamic || dynTruncate,
              s"$tableName: only dynamic partition overwrite " +
              "builds a native BatchWrite (append/overwrite ride the V1 bridge)")
            val stored = StructType(info.schema().map(f =>
              f.copy(name = renameMap.getOrElse(f.name, f.name))))
            new GraftDynOverwriteBatchWrite(table, stored, tableName,
              truncateAll = dynTruncate)
          }

          // `df.writeStream.format("graft")` / `.toTable(...)`: the native
          // streaming sink (executor parquet writers + one snapshot per
          // epoch, exactly-once via the per-queryId writer offset)
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!replace, "streaming writes are append-only")
            // PARTITIONED BY targets stream natively: the sink's task
            // writers split files per (partition tuple, bucket) — every
            // committed file stays single-valued in every partition key, so
            // exact pruning/overwrite proofs hold on sink-fed tables
            // same file-level-name rule as the batch write above
            val stored = StructType(info.schema().map(f =>
              f.copy(name = renameMap.getOrElse(f.name, f.name))))
            new GraftStreamingWrite(table, stored, info.queryId())
          }
        }
    }
  }
}

class GraftScanBuilder(table: GraftV2Table, fullSchema: StructType,
    consumerId: Option[String] = None,
    nameMap: Map[String, String] = Map.empty,
    scanStart: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[AggPush] = None
  private var limit: Option[Int] = None

  /** A committed aggregate pushdown. [[CompleteAgg]] answers from metadata
    * alone (Spark trusts the rows verbatim); [[PartialAgg]] mixes
    * stats-served per-file partial rows with width-reduced reads of the
    * files stats can't prove — Spark's final aggregate merges both. */
  private sealed trait AggPush
  private case class CompleteAgg(schema: StructType, rows: Seq[InternalRow],
      desc: String) extends AggPush
  private case class PartialAgg(schema: StructType, rows: Seq[InternalRow],
      readFiles: Seq[DataFileMeta],
      groupFileCols: Seq[(String, DataType)],
      aggSpecs: Seq[(String, String, DataType)], // (kind, fileCol, dt)
      desc: String) extends AggPush

  /** Filters usable for stats skipping / parquet row-group pruning:
    * comparisons and equality on top-level numeric, string, date, or
    * timestamp columns — zoned AND ntz (time-range predicates are THE
    * dominant scan shape on a commit-ordered 100 TB table — temporal stats
    * render as ISO strings in the manifest and convert exactly, see
    * [[TemporalPush]]). Zoned columns prune because every graft write site
    * emits INT64 TIMESTAMP_MICROS; LEGACY INT96 files simply carry no
    * parseable stats (conservative keep) and refuse the columnar/record
    * predicates through the per-file physical proofs — residual-only, never
    * wrong. */
  private def pushable(f: Filter): Boolean =
    GraftScan.pushable(fullSchema)(f)

  /** A file that PREDATES a column added with DEFAULT serves the default,
    * not null — every metadata shortcut that equates "absent from the
    * file" with "all null" must refuse for such (column, file) pairs and
    * fall back to the real scan (whose readers substitute correctly).
    * Compaction materializes defaults, so the pushes return once
    * generations merge. */
  private lazy val defaultedDecl: Set[String] = fullSchema.fields.iterator
    .filter(_.metadata.contains(org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
    .map(_.name).toSet
  private def predatesDefaulted(f: DataFileMeta, declared: String): Boolean =
    defaultedDecl.contains(declared) && {
      val fileN = nameMap.getOrElse(declared, declared)
      f.fileCols.forall(!_.contains(fileN))
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(pushable)
    filters // every filter stays a residual: pushdown is never load-bearing
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    // preserve table column order; empty projection (count(*)) keeps one
    // narrow column so the reader still paces row counts correctly
    val kept = fullSchema.filter(f => keep.contains(f.name))
    // requested METADATA columns (_graft_file/_graft_seq) ride after the
    // data columns; the reader fills them from the manifest entry. A real
    // data column with a metadata name shadows the metadata column (it is
    // already in `kept`) — stored data always wins over manifest constants.
    val meta = requiredSchema.fields.filter(f =>
      GraftV2Table.MetaCols.contains(f.name) && !fullSchema.fieldNames.contains(f.name))
    required = if (kept.nonEmpty) StructType(kept ++ meta)
      else StructType(fullSchema.take(1) ++ meta)
  }

  /** Per-partition LIMIT pushdown: each file reader stops delivering after
    * `n` rows (post-pushed-filter), Spark applies the final global limit.
    * A bare `LIMIT n` over a 100 TB table then reads ~n rows per file
    * instead of the whole table. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  // ---- aggregate pushdown (metadata-only COUNT/MIN/MAX) ------------------
  //
  // The Paimon/Iceberg trick: a global COUNT(*) is already materialized in
  // the manifest (Σ per-file rowCount — zero data bytes read), and MIN/MAX
  // of an integral column is the typed merge of per-file footer stats (one
  // footer read per file, same driver-side cost as the stats-skipping pass).
  // Strictly scoped to stay exact:
  //  - no GROUP BY, no pushed filters (Spark only attempts the push when all
  //    filters were fully consumed; ours are always residual, so any WHERE
  //    disables the push) — and we re-check both here anyway;
  //  - COUNT(*) without DISTINCT; MIN/MAX only on INT/LONG/DATE/TIMESTAMP/
  //    TIMESTAMP_NTZ columns (all exactly long-representable) whose
  //    stats are present in every file that physically contains the column
  //    (a file that predates the column contributes only nulls and is
  //    skipped; an all-null file has hasNonNullValue=false and is skipped;
  //    stats missing while rows exist ⇒ refuse the whole push).
  // Everything else falls back to the normal distributed aggregate.
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  // Spark probes supportCompletePushDown then pushAggregation with the same
  // Aggregation — memoize so the footer pass runs once, not twice
  private var lastAnswer: Option[(Aggregation, Option[AggPush])] = None
  private def answerCached(agg: Aggregation): Option[AggPush] =
    lastAnswer match {
      case Some((a, ans)) if a eq agg => ans
      case _ =>
        val ans = answerFor(agg).map(c =>
            CompleteAgg(c._1, c._2, c._3): AggPush)
          .orElse(partialGroupedAnswer(agg))
        lastAnswer = Some((agg, ans))
        ans
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerCached(agg).exists(_.isInstanceOf[CompleteAgg])

  override def pushAggregation(agg: Aggregation): Boolean =
    answerCached(agg) match {
      case Some(ans) => pushedAgg = Some(ans); true
      case None => false
    }

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
    case _ => None
  }

  private def answerFor(agg: Aggregation)
      : Option[(StructType, Seq[InternalRow], String)] = {
    if (pushed.nonEmpty) return None
    if (agg.groupByExpressions.nonEmpty) return groupedAnswer(agg)
    val files = table.liveFiles
    // COUNT(*) stays exact under deletion vectors (live = physical - dv);
    // MIN/MAX does NOT (a deleted row may hold the extreme and the stats
    // can't know) — minMax refuses below when any file carries a vector
    lazy val anyDv = files.exists(_.dvCount.exists(_ > 0))
    lazy val totalRows = files.map(_.liveRowCount).sum
    // typed per-file [min,max] of an integral column, merged; None = refuse
    lazy val statsCache = scala.collection.mutable.Map[String, Option[Option[(Long, Long)]]]()
    def sparkType(name: String): DataType =
      fullSchema.find(_.name == name).map(_.dataType).getOrElse(LongType)
    def minMax(name: String): Option[Option[(Long, Long)]] =
      statsCache.getOrElseUpdate(name,
      if (anyDv) None // stats include deleted rows: refuse min/max
      else if (files.exists(predatesDefaulted(_, name)))
        None // a pre-ADD file reads the DEFAULT, which stats can't see
      else {
        // long-representable columns: integrals plus DATE (epoch days) and
        // both timestamp flavors (epoch micros) — the manifest's
        // ISO-rendered stats convert exactly, so "max(event_time)" (the
        // 100 TB freshness check) answers from metadata alone. Zoned stats
        // carry the "+0000" offset; an INT96 entry never parses and
        // refuses the push.
        val parse: Option[String => Option[Long]] = sparkType(name) match {
          case LongType | IntegerType => Some((s: String) => s.toLongOption)
          case DateType => Some(TemporalPush.statDays _)
          case TimestampNTZType => Some(TemporalPush.statMicros _)
          case TimestampType => Some(TemporalPush.statMicrosZoned _)
          // decimals merge as UNSCALED longs (scaled-stat parse is exact)
          case d: DecimalType if d.precision <= 18 =>
            Some((s: String) => DecimalPush.statUnscaled(s, d.scale))
          case _ => None
        }
        parse match {
          case None => None
          case Some(p) =>
            val fileName = nameMap.getOrElse(name, name) // renamed: files keep the old name
            val perFile: Seq[Option[Option[(Long, Long)]]] =
              files.map(GraftScanBuilder.metaLongMinMax(_, fileName, p))
            if (perFile.contains(None)) None // stats missing somewhere: refuse
            else {
              val present = perFile.flatten.flatten
              if (present.isEmpty) Some(None) // column is all-null table-wide
              else Some(Some((present.map(_._1).min, present.map(_._2).max)))
            }
        }
      })
    def toValue(name: String, v: Long): Any = sparkType(name) match {
      case IntegerType | DateType => v.toInt // DATE is internal epoch-day Int
      case d: DecimalType => // v is the merged unscaled long
        org.apache.spark.sql.types.Decimal(v, d.precision, d.scale)
      case _ => v
    }

    val resolved = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(("count(*)", LongType: DataType, totalRows: Any))
      case m: Min => colName(m.column).flatMap(n => minMax(n).map(mm =>
        (s"min($n)", sparkType(n), mm.map(p => toValue(n, p._1)).orNull: Any)))
      case m: Max => colName(m.column).flatMap(n => minMax(n).map(mm =>
        (s"max($n)", sparkType(n), mm.map(p => toValue(n, p._2)).orNull: Any)))
      case _ => None
    }
    if (resolved.isEmpty || resolved.contains(None)) None
    else {
      val cols = resolved.flatten
      val schema = StructType(cols.map { case (n, dt, v) =>
        StructField(n, dt, nullable = v == null) })
      val row = new GenericInternalRow(cols.map(_._3).toArray)
      Some((schema, Seq(row), cols.map(_._1).mkString(", ")))
    }
  }

  // ---- GROUPED aggregate pushdown (per-file-constant group columns) ------
  //
  // GROUP BY g, COUNT(*)/MIN/MAX answers from the manifest alone when EVERY
  // live file is provably SINGLE-VALUED in every group column: either
  // nulls = rowCount (the whole file groups under NULL — including files
  // that predate the column), or nulls = 0 ∧ min = max (the value). That is
  // exactly the layout a slice-per-commit ingest leaves behind (one tenant /
  // day / event type per batch — the commonest 100 TB partitioning), so the
  // per-partition census reads ZERO data bytes. Any file that can't prove
  // single-valuedness (mixed nulls, multi-valued, missing null counts, a
  // deletion vector) refuses the whole push — the distributed aggregate is
  // the fallback, never an approximation.
  // ---- shared grouped-pushdown helpers (complete AND partial paths) ------

  private def sparkTypeOf(name: String): Option[DataType] =
    fullSchema.find(_.name == name).map(_.dataType)

  /** Parse a rendered stat to the column's INTERNAL value. */
  private def internalStat(dt: DataType, s: String): Option[Any] = dt match {
    case LongType => s.toLongOption
    case IntegerType => s.toLongOption.map(_.toInt)
    case StringType => Some(UTF8String.fromString(s))
    case DateType => TemporalPush.statDays(s).map(_.toInt)
    case TimestampNTZType => TemporalPush.statMicros(s)
    case TimestampType => TemporalPush.statMicrosZoned(s)
    case d: DecimalType if d.precision <= 18 =>
      DecimalPush.statUnscaled(s, d.scale)
        .map(u => org.apache.spark.sql.types.Decimal(u, d.precision, d.scale))
    case _ => None
  }

  /** Rendered-stat → long parser for the long-representable alphabet. */
  private def statParser(dt: DataType): Option[String => Option[Long]] = dt match {
    case LongType | IntegerType => Some((s: String) => s.toLongOption)
    case DateType => Some(TemporalPush.statDays _)
    case TimestampNTZType => Some(TemporalPush.statMicros _)
    case TimestampType => Some(TemporalPush.statMicrosZoned _)
    case d: DecimalType if d.precision <= 18 =>
      Some((s: String) => DecimalPush.statUnscaled(s, d.scale))
    case _ => None
  }

  /** Merged unscaled long → the column's internal value. */
  private def internalOfLong(dt: DataType, v: Long): Any = dt match {
    case IntegerType | DateType => v.toInt
    case d: DecimalType => org.apache.spark.sql.types.Decimal(v, d.precision, d.scale)
    case _ => v
  }

  /** The GROUP BY columns when every one is a named, unique, typed
    * top-level column — the shape the manifest proofs can serve. */
  private def groupColsOf(agg: Aggregation): Option[Seq[(String, DataType)]] = {
    val named = agg.groupByExpressions.toSeq.map(colName)
    if (named.exists(_.isEmpty)) return None
    val names = named.flatten
    if (names.distinct.size != names.size) return None
    val typed = names.map(n => sparkTypeOf(n).map(n -> _))
    if (typed.exists(_.isEmpty)) None else Some(typed.flatten)
  }

  /** The single group value of declared column g in file f, or None =
    * unprovable. Some(null) = the file's rows all group under NULL for g
    * (including files that predate the column). */
  private def fileGroupValue(f: DataFileMeta, g: String, dt: DataType): Option[Any] = {
    val fileN = nameMap.getOrElse(g, g)
    (f.fileCols, f.nullStats) match {
      case (Some(cols), _) if !cols.contains(fileN) =>
        // file predates the column: all rows null — UNLESS a default fills
        // them, which a manifest group key cannot represent: refuse
        if (defaultedDecl.contains(g)) None else Some(null)
      case (Some(_), Some(nulls)) =>
        if (f.badStats.exists(_.contains(fileN))) None
        else nulls.get(fileN).flatMap(_.toLongOption) match {
          case Some(n) if n == f.rowCount => Some(null)
          case Some(0L) =>
            (f.minStats.flatMap(_.get(fileN)), f.maxStats.flatMap(_.get(fileN))) match {
              case (Some(mn), Some(mx)) if mn == mx => internalStat(dt, mn)
              case _ => None // multi-valued or missing: refuse
            }
          case _ => None // mixed null/non-null (two groups in one file)
        }
      case _ => None // no census: no provable layout
    }
  }

  private def groupedAnswer(agg: Aggregation)
      : Option[(StructType, Seq[InternalRow], String)] = {
    val files = table.liveFiles
    if (files.exists(_.dvCount.exists(_ > 0))) return None
    def sparkType(name: String): Option[DataType] = sparkTypeOf(name)
    val groupCols: Seq[(String, DataType)] =
      groupColsOf(agg).getOrElse(return None)
    if (groupCols.isEmpty) return None
    // group key per file (every file must prove every column)
    val keyed: Seq[Option[(Seq[Any], DataFileMeta)]] = files.map { f =>
      val key = groupCols.map { case (g, dt) => fileGroupValue(f, g, dt) }
      if (key.exists(_.isEmpty)) None else Some((key.map(_.get), f))
    }
    if (keyed.exists(_.isEmpty)) return None
    val byKey = keyed.flatten.groupBy(_._1)
    // aggregate columns over each group's files (manifest stats only)
    def minMaxIn(group: Seq[DataFileMeta], name: String)
        : Option[Option[(Long, Long)]] =
      sparkType(name).flatMap(statParser)
        .filterNot(_ => group.exists(predatesDefaulted(_, name)))
        .flatMap { p =>
        val fileN = nameMap.getOrElse(name, name)
        val perFile = group.map(GraftScanBuilder.metaLongMinMax(_, fileN, p))
        if (perFile.contains(None)) None
        else {
          val present = perFile.flatten.flatten
          if (present.isEmpty) Some(None)
          else Some(Some((present.map(_._1).min, present.map(_._2).max)))
        }
      }
    def toValue(name: String, v: Long): Any =
      sparkType(name).map(internalOfLong(_, v)).getOrElse(v)
    val aggCols: Seq[(String, DataType, Seq[DataFileMeta] => Option[Any])] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count(*)", LongType: DataType,
          (g: Seq[DataFileMeta]) => Some(g.map(_.rowCount).sum): Option[Any]))
        case m: Min => colName(m.column).flatMap(n => sparkType(n).map(dt =>
          (s"min($n)", dt,
            (g: Seq[DataFileMeta]) => minMaxIn(g, n)
              .map(_.map(p => toValue(n, p._1)).orNull))))
        case m: Max => colName(m.column).flatMap(n => sparkType(n).map(dt =>
          (s"max($n)", dt,
            (g: Seq[DataFileMeta]) => minMaxIn(g, n)
              .map(_.map(p => toValue(n, p._2)).orNull))))
        case _ => None
      } match {
        case rs if rs.contains(None) || rs.isEmpty => return None
        case rs => rs.flatten
      }
    // deterministic row order (rendered key) — the plan above is free to
    // reorder, but stable output makes the scan reproducible run to run
    val rows = byKey.toSeq.sortBy(_._1.map(v =>
      if (v == null) "" else v.toString).mkString(" ")).map { case (key, fs) =>
      val group = fs.map(_._2)
      val aggVals = aggCols.map(_._3(group))
      if (aggVals.exists(_.isEmpty)) return None // unprovable agg: refuse all
      new GenericInternalRow((key ++ aggVals.map(_.get)).toArray): InternalRow
    }
    // complete-pushdown output: GROUP columns first, then aggregates (the
    // order V2ScanRelationPushDown binds the scan output with)
    val schema = StructType(
      groupCols.map { case (g, dt) => StructField(g, dt, nullable = true) } ++
        aggCols.map { case (n, dt, _) => StructField(n, dt, nullable = true) })
    Some((schema, rows,
      s"group by ${groupCols.map(_._1).mkString(", ")}: " +
        aggCols.map(_._1).mkString(", ")))
  }

  // ---- PARTIAL grouped-aggregate pushdown (mixed layouts) ----------------
  //
  // The supportCompletePushDown=false path: GROUP BY still pushes when only
  // SOME files prove single-valuedness — each provable file contributes a
  // per-file partial row (group value, rowCount, min, max) from the manifest
  // alone, and ONLY the unprovable files (mixed layouts, deletion vectors,
  // missing agg stats) are read, width-reduced to the same
  // partial shape (count=1, min=max=value per row; Spark's own map-side
  // partial aggregate collapses them before the shuffle). Spark's final
  // aggregate merges both streams exactly. This removes the all-files cliff
  // of [[groupedAnswer]]: one mixed file costs one file's bytes, never a
  // full-table scan.
  private def partialGroupedAnswer(agg: Aggregation): Option[AggPush] = {
    if (pushed.nonEmpty || agg.groupByExpressions.isEmpty) return None
    val files = table.liveFiles
    if (files.isEmpty) return None
    val groupCols: Seq[(String, DataType)] =
      groupColsOf(agg).getOrElse(return None)
    if (groupCols.isEmpty) return None
    // aggregates: COUNT(*) plus MIN/MAX over stat-parseable columns
    val aggSpecs: Seq[(String, String, DataType)] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count", "", LongType: DataType))
        case m: Min => colName(m.column).flatMap(n =>
          sparkTypeOf(n).filter(statParser(_).isDefined).map(("min", n, _)))
        case m: Max => colName(m.column).flatMap(n =>
          sparkTypeOf(n).filter(statParser(_).isDefined).map(("max", n, _)))
        case _ => None
      } match {
        case rs if rs.contains(None) || rs.isEmpty => return None
        case rs => rs.flatten
      }
    // a referenced column with a DEFAULT and any pre-ADD file: the partial
    // scan's width-reduced readers would null-fill where the real scan
    // serves the default — refuse the whole push, the normal plan is exact
    val referenced = groupCols.map(_._1) ++ aggSpecs.collect {
      case (_, n, _) if n.nonEmpty => n }
    if (referenced.exists(c => files.exists(predatesDefaulted(_, c))))
      return None
    val proved = Seq.newBuilder[InternalRow]
    val toRead = Seq.newBuilder[DataFileMeta]
    var nProved = 0
    files.foreach { f =>
      // a deletion vector poisons both the count and min/max stats: read it
      // (the reader suppresses the deleted positions exactly)
      val key: Option[Seq[Any]] =
        if (f.dvCount.exists(_ > 0)) None
        else {
          val k = groupCols.map { case (g, dt) => fileGroupValue(f, g, dt) }
          if (k.exists(_.isEmpty)) None else Some(k.map(_.get))
        }
      val aggVals: Option[Seq[Any]] = key.flatMap { _ =>
        val vs: Seq[Option[Any]] = aggSpecs.map {
          case ("count", _, _) => Some(f.rowCount: Any)
          case (kind, n, dt) =>
            GraftScanBuilder.metaLongMinMax(f, nameMap.getOrElse(n, n),
              statParser(dt).get) match {
              case Some(Some((lo, hi))) =>
                Some(internalOfLong(dt, if (kind == "min") lo else hi))
              case Some(None) => Some(null: Any) // column all-null here
              case None => None // stats unusable: read the file instead
            }
        }
        if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
      }
      (key, aggVals) match {
        case (Some(k), Some(a)) =>
          proved += new GenericInternalRow((k ++ a).toArray); nProved += 1
        case _ => toRead += f
      }
    }
    // nothing provable → the normal distributed aggregate is the same plan
    if (nProved == 0) return None
    val schema = StructType(
      groupCols.map { case (g, dt) => StructField(g, dt, nullable = true) } ++
        aggSpecs.map {
          case ("count", _, _) => StructField("count(*)", LongType, nullable = false)
          case (k, n, dt) => StructField(s"$k($n)", dt, nullable = true)
        })
    val read = toRead.result()
    Some(PartialAgg(schema, proved.result(), read,
      groupCols.map { case (g, dt) => (nameMap.getOrElse(g, g), dt) },
      aggSpecs.map { case (k, n, dt) =>
        (k, if (n.isEmpty) "" else nameMap.getOrElse(n, n), dt) },
      s"partial group by ${groupCols.map(_._1).mkString(", ")} " +
        s"[stats-served files=$nProved, scanned files=${read.size}]"))
  }

  override def build(): Scan = pushedAgg match {
    case Some(CompleteAgg(schema, rows, desc)) =>
      new GraftAggregateScan(table.name(), schema, rows, desc)
    case Some(p: PartialAgg) =>
      new GraftPartialAggScan(table.name(), p.schema, p.rows,
        p.readFiles.map(f => (f.path, GraftScan.dvOf(f), f.minSeq)),
        p.groupFileCols, p.aggSpecs, p.desc)
    case None =>
      new GraftScan(table, required, pushed, limit, consumerId, nameMap, scanStart)
  }
}

object GraftScanBuilder {
  /** Typed long-valued [min,max] of `col` in one file, from the manifest:
    *  - `None`          → stats unusable (untrusted, or a rendering `parse`
    *                      refuses): refuse the push
    *  - `Some(None)`    → column contributes no non-null values here: skip
    *  - `Some(Some(p))` → merged min/max
    * Manifest-served stats make the metadata-only MIN/MAX answer with zero
    * file I/O. */
  private[v2] def metaLongMinMax(f: DataFileMeta, col: String,
      parse: String => Option[Long] = _.toLongOption)
      : Option[Option[(Long, Long)]] =
    (f.minStats, f.maxStats, f.fileCols) match {
      case (Some(mins), Some(maxs), Some(cols)) =>
        if (!cols.contains(col)) Some(None) // file predates the column
        else if (f.badStats.exists(_.contains(col))) None // untrustworthy: refuse
        else (mins.get(col), maxs.get(col)) match {
          case (Some(mn), Some(mx)) =>
            (parse(mn), parse(mx)) match {
              case (Some(a), Some(b)) => Some(Some((a, b)))
              case _ => None // unexpected rendering: refuse the push
            }
          case _ => Some(None) // present + trusted + no entry ⇒ all-null here
        }
      case _ => None
    }
}

/** Result of a complete aggregate pushdown: precomputed row(s) — one for a
  * global aggregate, one per group for the provably-partitioned grouped
  * push — answered from manifest + footers; the scan reads zero data
  * bytes. */
class GraftAggregateScan(tableName: String, schema: StructType,
    rows: Seq[InternalRow], pushedDesc: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftAggregateScan $tableName PushedAggregates: [$pushedDesc]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftInputPartition("<metadata-aggregate>"))
  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggregateReaderFactory(rows)
}

/** Ships ONLY the precomputed rows to the one executor task. */
case class GraftAggregateReaderFactory(rows: Seq[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean = {
        val has = it.hasNext
        if (has) cur = it.next()
        has
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

/** Result of a PARTIAL grouped-aggregate pushdown: the manifest-provable
  * files' partial rows ship precomputed (one synthetic partition, zero data
  * bytes), and EXACTLY the unprovable files are scanned width-reduced —
  * Spark's final aggregate above merges both. At 100 TB this is the
  * difference between "one mixed file re-reads the table" and "one mixed
  * file costs one file". */
class GraftPartialAggScan(tableName: String, schema: StructType,
    staticRows: Seq[InternalRow], readFiles: Seq[(String, Array[Long], Long)],
    groupFileCols: Seq[(String, DataType)],
    aggSpecs: Seq[(String, String, DataType)], pushedDesc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftPartialAggScan $tableName [$pushedDesc] files=${readFiles.size}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ((if (staticRows.nonEmpty)
        Seq(GraftInputPartition(GraftPartialAggScan.StatsPartition))
      else Seq.empty) ++
      readFiles.map { case (p, dv, seq) =>
        GraftInputPartition(p, seq, dv) }).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    GraftPartialAggReaderFactory(staticRows, schema, groupFileCols, aggSpecs)
}

object GraftPartialAggScan {
  private[v2] val StatsPartition = "<metadata-partial-aggregate>"
}

/** Readers for the partial-aggregate scan: the synthetic stats partition
  * replays the precomputed rows; each file partition wraps the plain row
  * reader and folds every data row to the finest-grain partial shape
  * (count=1, min=max=value) — Spark's map-side partial aggregate collapses
  * them before the shuffle, so the exchange stays group-sized. */
case class GraftPartialAggReaderFactory(rows: Seq[InternalRow],
    schema: StructType, groupFileCols: Seq[(String, DataType)],
    aggSpecs: Seq[(String, String, DataType)]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftInputPartition(GraftPartialAggScan.StatsPartition, _, _) =>
        new PartitionReader[InternalRow] {
          private val it = rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            val has = it.hasNext
            if (has) cur = it.next()
            has
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      case gp: GraftInputPartition =>
        val argCols = aggSpecs.collect { case (_, n, dt) if n.nonEmpty => (n, dt) }
          .distinct.filterNot { case (n, _) => groupFileCols.exists(_._1 == n) }
        val readSchema = StructType((groupFileCols ++ argCols)
          .map { case (n, dt) => StructField(n, dt, nullable = true) })
        val inner = new GraftPartitionReader(gp.path, readSchema,
          Array.empty, None, gp.minSeq, dv = gp.dv)
        val idxOf: Map[String, Int] = readSchema.fieldNames.zipWithIndex.toMap
        new PartitionReader[InternalRow] {
          override def next(): Boolean = inner.next()
          override def get(): InternalRow = {
            val r = inner.get()
            val out = new Array[Any](schema.length)
            var i = 0
            groupFileCols.foreach { case (n, dt) =>
              out(i) = if (r.isNullAt(idxOf(n))) null else r.get(idxOf(n), dt)
              i += 1
            }
            aggSpecs.foreach {
              case ("count", _, _) => out(i) = 1L; i += 1
              case (_, n, dt) =>
                out(i) = if (r.isNullAt(idxOf(n))) null else r.get(idxOf(n), dt)
                i += 1
            }
            new GenericInternalRow(out)
          }
          override def close(): Unit = inner.close()
        }
    }
}

class GraftScan(table: GraftV2Table, required: StructType,
    pushed: Array[Filter], limit: Option[Int] = None,
    consumerId: Option[String] = None,
    nameMap: Map[String, String] = Map.empty,
    scanStart: Option[Long] = None) extends Scan with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // Everything INSIDE the scan (footer stats, parquet predicates, reader
  // projections) speaks FILE-level column names; readSchema/description keep
  // the declared names Spark resolves against. Rows are positional, so the
  // translated reader output aligns with the declared readSchema verbatim.
  private val fileRequired: StructType =
    if (nameMap.isEmpty) required
    else StructType(required.map(f => f.copy(name = nameMap.getOrElse(f.name, f.name))))
  private val filePushed: Array[Filter] =
    if (nameMap.isEmpty) pushed else pushed.map(GraftScan.translate(_, nameMap))

  // ---- driver-side file skipping (eager: explain shows the real counts) --
  // ONE snapshot read: files AND (dynamic mode) the bucket count they were
  // labeled under — two separate disk reads could straddle an inline split
  private val scanSnap = table.liveSnapshot
  private val allFiles = scanSnap.map(_.files).getOrElse(Seq.empty)
  private var kept: Seq[DataFileMeta] = {
    // bucket pruning first (pure arithmetic, no footer I/O): a point lookup
    // `bucketKey = v` can only live in bucket pmod(murmur3(v), n) — on a
    // bucketed table that is a 1/numBuckets metadata-only cut BEFORE any
    // stats pass (Paimon's PK point read). Files without a recorded bucket
    // (maintenance rewrites, DML output) conservatively survive.
    val bucketPruned = bucketPointLookup match {
      case Some(b) => allFiles.filter(_.bucket.forall(_ == b))
      case None => allFiles
    }
    if (filePushed.isEmpty) bucketPruned
    else bucketPruned.filter { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      filePushed.forall(keepFile(_, mins, maxs, f))
    }
  }

  /** The target bucket id when the pushed filters pin the bucket key to a
    * single value on a bucket-keyed table. */
  private def bucketPointLookup: Option[Int] = {
    val t = table.table
    for {
      k <- t.bucketKey
      // dynamic bucket mode: hash with the SCANNED generation's count,
      // captured from the SAME snapshot read as the file list
      n <- table.bucketCountOf(scanSnap)
      dt <- table.schema().find(_.name == k).map(_.dataType)
      if dt == LongType || dt == IntegerType
      v <- pushed.collectFirst { case EqualTo(a, v: Number) if a == k => v }
    } yield {
      // the same function SPJ serves from the catalog — one definition of
      // the layout, used by write, join alignment, and pruning alike
      val in = new GenericInternalRow(Array[Any](n,
        if (dt == LongType) v.longValue() else v.intValue()))
      (if (dt == LongType) GraftBucketLong else GraftBucketInt)
        .produceResult(in).intValue()
    }
  }

  // FILE-level names of defaulted columns (EXISTS_DEFAULT metadata rides
  // the required schema): skipping must never treat a pre-ADD file's rows
  // as null for them — they read the default
  // lazy: keepFile runs inside `kept`'s initializer, which precedes this
  // declaration in initialization order
  private lazy val defaultedFileCols: Set[String] = fileRequired.fields.iterator
    .filter(_.metadata.contains(org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
    .map(_.name).toSet

  private def keepFile(f: Filter, mins: Map[String, String],
      maxs: Map[String, String], meta: DataFileMeta): Boolean =
    FileSkip.keep(f, mins, maxs, Some(meta), defaultedFileCols)

  override def readSchema(): StructType = required

  private[graft] def tableRoot: String = table.table.root

  // ---- observability: the skipping story, visible in the Spark SQL UI ----
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftScanMetrics.all

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      GraftScanMetrics.task("graftFilesRead", kept.size),
      GraftScanMetrics.task("graftFilesSkipped", allFiles.size - kept.size),
      GraftScanMetrics.task("graftBytesPlanned", kept.map(_.fileSizeInBytes).sum),
      // planning opens no footer: every version-1 entry carries its stats
      // (the metric stays for the traces that read it)
      GraftScanMetrics.task("graftFooterReads", 0L))

  override def description(): String =
    s"GraftScan ${table.name()} files=${kept.size}/${allFiles.size} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      limit.map(n => s"PushedLimit: $n, ").getOrElse("") +
      s"ReadSchema: ${required.catalogString}"

  /** Manifest-derived size/row statistics (post file-skipping), so Catalyst's
    * cost decisions — above all automatic broadcast of a small graft table —
    * work exactly as they do for file sources. Without this a V2 relation
    * defaults to "unknown = huge" and every join over it is a shuffle. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.fileSizeInBytes).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.liveRowCount).sum)
  }

  // ---- storage-partitioned join (SPJ) ------------------------------------
  //
  // A bucket-keyed table's files each hold exactly one hash bucket of the
  // key (pmod(murmur3(key), numBuckets) — recorded in the manifest at write
  // time). When the user opts into V2 bucketing
  // (spark.sql.sources.v2.bucketing.enabled), the scan reports
  // KeyGroupedPartitioning over the bucket transform and plans ONE input
  // partition per bucket: a join of two co-bucketed tables on the key then
  // needs NO exchange on either side — the 100 TB fact-fact join with zero
  // shuffle, Paimon's fixed-bucket join re-expressed through Spark's public
  // SPJ machinery ([[GraftBucketFunction]] is the catalog-served function
  // that makes the two sides' transforms provably identical — and lets
  // Spark hash-shuffle a third, unbucketed side INTO this layout).
  //
  // Grouping trades away per-file parallelism (one task per bucket), which
  // is exactly the bucketed-table bargain; it engages only under the conf,
  // only when every live file carries its bucket id (maintenance rewrites
  // and DML output fall back), and only when the scan projects the
  // key with a bucketable type.
  private val spjGroups: Option[(Int, Seq[(Int, Seq[DataFileMeta])])] = {
    val t = table.table
    val confOn = try {
      SparkSession.active.conf.get("spark.sql.sources.v2.bucketing.enabled") == "true"
    } catch { case _: Exception => false }
    t.bucketKey match {
      // deletion-vector'd files fall back from SPJ until compaction purges
      // the vectors (the bucket readers are DV-unaware by design — a DV'd
      // append table is mid-maintenance state, not a join-layout citizen)
      // fixed-bucket tables only (a dynamic table's count moves between
      // snapshots — not a stable join layout)
      case Some(k) if confOn && t.numBuckets > 0 && kept.nonEmpty &&
          kept.forall(_.bucket.isDefined) &&
          !kept.exists(_.dvCount.exists(_ > 0)) &&
          required.fieldNames.contains(k) &&
          table.schema().find(_.name == k).exists(f =>
            f.dataType == LongType || f.dataType == IntegerType) =>
        Some((t.numBuckets,
          kept.groupBy(_.bucket.get).toSeq.sortBy(_._1)))
      case _ => None
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some((n, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            n, table.table.bucketKey.get)),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          kept.size)
    }

  /** Runtime (join-driven) file pruning — Spark's DPP machinery hands the
    * build side's key set to the probe-side scan before execution; files
    * whose footer [min,max] contain none of the keys are dropped. The stats
    * answer the SAME overlap question as the static path, so this is
    * partition pruning for a table whose "partitions" are key-range files. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // must be a subset of the scan's (column-pruned) output — the DPP rule
    // resolves these against readSchema, not the table schema. Temporal
    // types included: "fact JOIN date_dim WHERE dim slice" — the classic
    // star-schema shape — hands the surviving date keys to this scan and
    // prunes the fact's time-ranged files at runtime.
    required.fields.collect {
      case f if !GraftV2Table.MetaCols.contains(f.name) &&
          Set[DataType](LongType, IntegerType, DoubleType, FloatType,
            StringType, DateType, TimestampType, TimestampNTZType)
          .contains(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    def litValue(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          // temporal literals arrive in INTERNAL form (epoch days/micros);
          // convert to the external classes TemporalPush/FileSkip compare —
          // the same values a pushed V1 filter would carry
          Some(l.dataType() match {
            case DateType =>
              java.time.LocalDate.ofEpochDay(
                l.value().asInstanceOf[Number].longValue())
            case TimestampNTZType =>
              val us = l.value().asInstanceOf[Number].longValue()
              java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                (Math.floorMod(us, 1000000L) * 1000L).toInt,
                java.time.ZoneOffset.UTC)
            case TimestampType =>
              val us = l.value().asInstanceOf[Number].longValue()
              java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
            case _ => l.value() match {
              case u: UTF8String => u.toString
              case v => v
            }
          })
        case _ => None
      }
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => Some(r.fieldNames.head)
        case _ => None
      }
    // with SPJ grouping active the reported partitioning is part of the
    // plan's contract — dropping files here could orphan a bucket group, so
    // runtime pruning stands down (SPJ already avoided the exchange)
    if (spjGroups.isDefined) return
    // manifest-served stats (zero I/O)
    def stats(f: DataFileMeta) = StreamTable.skipStats(f)
    predicates.foreach { p =>
      val perValue: Option[(String, Seq[Any])] = p.name() match {
        case "IN" =>
          // EVERY child must convert — a dropped unconvertible value would
          // over-prune files that only contain its rows
          val vals = p.children().drop(1).toSeq.map(litValue)
          for {
            n <- refName(p.children().head)
            if vals.forall(_.isDefined)
          } yield n -> vals.flatten
        case "=" if p.children().length == 2 =>
          (refName(p.children()(0)), litValue(p.children()(1))) match {
            case (Some(n), Some(v)) => Some(n -> Seq(v))
            case _ => (refName(p.children()(1)), litValue(p.children()(0))) match {
              case (Some(n), Some(v)) => Some(n -> Seq(v))
              case _ => None
            }
          }
        case _ => None
      }
      perValue.foreach { case (n, values) if values.nonEmpty =>
        val fileN = nameMap.getOrElse(n, n) // footer stats use file-level names
        kept = kept.filter { f =>
          val (mins, maxs) = stats(f)
          // keep the file if ANY key could be in it (conservative overlap)
          values.exists(v => keepFile(EqualTo(fileN, v), mins, maxs, f))
        }
      case _ => ()
      }
    }
  }

  override def toBatch: Batch = this

  /** Streaming read: snapshot-id offsets, initial catch-up + append-only
    * increments (see [[GraftMicroBatchStream]]); the pushed predicate still
    * reaches parquet row-group filtering in each delivered file. With
    * `.option("consumer-id", …)` the stream registers itself as a retention
    * root and advances it on every committed trigger (Paimon's consumer-id
    * contract) — snapshot expiry can then never outrun a slow reader. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table.table, fileRequired, filePushed, consumerId,
      scanStart)

  override def planInputPartitions(): Array[InputPartition] = spjGroups match {
    case Some((_, groups)) =>
      groups.map { case (bucketId, files) =>
        GraftBucketInputPartition(
          files.map(f => (f.path, f.minSeq)), bucketId): InputPartition
      }.toArray
    case None =>
      kept.map(f => GraftInputPartition(f.path, f.minSeq,
        GraftScan.dvOf(f)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // deletion vectors do NOT demote the scan: a dv'd partition decodes
    // through GraftDvVectorReader (batch-level suppression, clean batches
    // zero-copy), clean files through the plain vectorized reader
    GraftReaderFactory(fileRequired, filePushed, limit,
      columnar =
        GraftVector.eligible(fileRequired, filePushed, limit, kept.map(_.path)))
}

object GraftScan {
  /** The pushable-filter alphabet, SHARED by the plain scan and the
    * row-level (COW/delta) scans so they can never drift: the five
    * comparisons, bounded static IN lists, string-prefix, IS [NOT] NULL,
    * and monotone OR/AND trees — every shape [[FileSkip.keep]] can evaluate
    * conservatively from manifest stats. Pushdown is never load-bearing:
    * the plain scan keeps filters residual (row-group pruning only), the
    * row-level scans use them for FILE skipping only. */
  private[v2] def pushable(fullSchema: StructType)(f: Filter): Boolean = {
    def ok(attr: String) = fullSchema.find(_.name == attr).exists(_.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType => true
      case DateType | TimestampNTZType | TimestampType => true
      // money columns: precision ≤ 18 decimals live as INT32/INT64 unscaled
      // values with exactly-parseable scaled stats ([[DecimalPush]]); wider
      // precisions are FIXED_LEN_BYTE_ARRAY — no long-comparable stats
      case d: DecimalType => d.precision <= 18
      case _ => false
    })
    f match {
      case EqualTo(a, v) => v != null && ok(a)
      case GreaterThan(a, _) => ok(a)
      case GreaterThanOrEqual(a, _) => ok(a)
      case LessThan(a, _) => ok(a)
      case LessThanOrEqual(a, _) => ok(a)
      // a static IN list skips any file whose [min,max] overlaps NO value
      // (the point-lookup-by-keys shape; bounded so a pathological
      // million-value list never turns planning into O(files × values))
      case In(a, vs) => vs != null && vs.length > 0 && vs.length <= 64 &&
        vs.forall(_ != null) && ok(a)
      // prefix skipping on string stats (ids/paths clustered by prefix);
      // stats-only — the readers drop the conjunct (weaker AND is safe)
      case StringStartsWith(a, p) => p != null && p.nonEmpty &&
        fullSchema.find(_.name == a).exists(_.dataType == StringType)
      // null-presence predicates: the manifest's per-column null counts
      // prove "all null" / "no nulls" per file, so IS [NOT] NULL on a
      // sparse column skips whole files (and prunes row groups via
      // parquet's own null statistics)
      case IsNull(a) => ok(a)
      case IsNotNull(a) => ok(a)
      // compound shapes recurse: Spark pre-splits top-level ANDs, so these
      // arrive as OR trees (multi-tenant range unions) possibly holding
      // ANDs — monotone formulas (no NOT), so every skipping/pruning rule
      // below stays conservative under them
      case Or(l, r) => pushable(fullSchema)(l) && pushable(fullSchema)(r)
      case And(l, r) => pushable(fullSchema)(l) && pushable(fullSchema)(r)
      case _ => false
    }
  }

  /** A meta's deletion-vector positions, loaded at plan time (None → empty).
    * Cap-bounded per delete (StreamTable.dvMaxMatches) and purged by
    * compaction, so the driver-side load is a tiny read per dv'd file.
    * Backlog guard: each DELETE is capped, but NOTHING bounds how many
    * capped deletes accumulate before maintenance — once the planned scan
    * carries >1M suppressed positions the driver map (and every task's
    * serialized partition) is no longer "tiny", so warn once per breach
    * with the remedy rather than degrade silently. */
  private[v2] def dvOf(f: DataFileMeta): Array[Long] = {
    if (f.dvCount.exists(_ > 0)) {
      val positions = StreamTable.readDv(f.dvPath.get)
      val total = dvLoaded.addAndGet(positions.length.toLong)
      if (total > DvBacklogWarn && (total - positions.length) <= DvBacklogWarn)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"deletion-vector backlog: >$DvBacklogWarn suppressed positions " +
            "loaded at plan time this session — run CALL sys.materialize_deletes " +
            "(or wait for auto-maintenance) to fold the vectors back into data")
      positions
    } else Array.empty
  }
  private val DvBacklogWarn = 1000000L
  private val dvLoaded = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rename attribute references declared → file-level in a pushed filter.
    * Only the pushable shapes (five comparisons + IN) can reach the scan. */
  private[v2] def translate(f: Filter, m: Map[String, String]): Filter = f match {
    case EqualTo(a, v) => EqualTo(m.getOrElse(a, a), v)
    case GreaterThan(a, v) => GreaterThan(m.getOrElse(a, a), v)
    case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(m.getOrElse(a, a), v)
    case LessThan(a, v) => LessThan(m.getOrElse(a, a), v)
    case LessThanOrEqual(a, v) => LessThanOrEqual(m.getOrElse(a, a), v)
    case In(a, vs) => In(m.getOrElse(a, a), vs)
    case StringStartsWith(a, p) => StringStartsWith(m.getOrElse(a, a), p)
    case IsNull(a) => IsNull(m.getOrElse(a, a))
    case IsNotNull(a) => IsNotNull(m.getOrElse(a, a))
    case Or(l, r) => Or(translate(l, m), translate(r, m))
    case And(l, r) => And(translate(l, m), translate(r, m))
    case other => other
  }
}

case class GraftInputPartition(path: String, minSeq: Long = -1L,
    /** Deletion-vector positions of this file (sorted; loaded from the
      * manifest-referenced sidecar at plan time — cap-bounded, so shipping
      * them inline beats a per-task sidecar read). Non-empty routes the
      * partition to the row reader, which suppresses exactly these rows. */
    dv: Array[Long] = Array.empty)
    extends InputPartition

/** One hash bucket of a bucket-keyed table: all its live files, keyed by the
  * bucket id for Spark's key-grouped (storage-partitioned) join alignment. */
case class GraftBucketInputPartition(files: Seq[(String, Long)], bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

case class GraftReaderFactory(required: StructType, pushed: Array[Filter],
    limit: Option[Int] = None, columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: GraftInputPartition =>
        new GraftPartitionReader(p.path, required, pushed, limit, p.minSeq,
          dv = p.dv)
      case b: GraftBucketInputPartition =>
        new GraftChainedReader(b.files, required, pushed, limit)
    }

  // NOTE: Spark requires every partition of one scan to agree on columnar
  // ("Cannot mix row-based and columnar input partitions"), so the flag is
  // scan-wide — but a deletion-vectored partition still reads columnar
  // through GraftDvVectorReader (batch-level position suppression), so one
  // dv'd file never demotes the scan's clean files off the fast path.
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case p: GraftInputPartition if p.dv.nonEmpty =>
        new GraftDvVectorReader(p.path, required, p.dv, limit)
      case p: GraftInputPartition =>
        new GraftVectorReader(p.path, required, pushed, limit)
      case b: GraftBucketInputPartition =>
        new GraftChainedVectorReader(b.files.map(_._1), required, pushed, limit)
    }
}

/** Row reader over a whole bucket (several files, read back to back). */
class GraftChainedReader(files: Seq[(String, Long)], required: StructType,
    pushed: Array[Filter], limit: Option[Int])
    extends PartitionReader[InternalRow] {
  private var idx = -1
  private var cur: GraftPartitionReader = _
  private var delivered = 0L

  override def next(): Boolean = {
    if (limit.exists(delivered >= _)) return false
    while (cur == null || !cur.next()) {
      if (cur != null) cur.close()
      idx += 1
      if (idx >= files.length) { cur = null; return false }
      cur = new GraftPartitionReader(files(idx)._1, required, pushed,
        limit = None, fileSeq = files(idx)._2)
    }
    delivered += 1
    true
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Columnar reader over a whole bucket. The per-partition limit spans the
  * bucket's files, mirroring [[GraftChainedReader]]. */
class GraftChainedVectorReader(paths: Seq[String], required: StructType,
    pushed: Array[Filter] = Array.empty, limit: Option[Int] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private var idx = -1
  private var cur: GraftVectorReader = _
  private var delivered = 0L

  override def next(): Boolean = {
    if (limit.exists(delivered >= _)) { return false }
    while (cur == null || !cur.next()) {
      if (cur != null) cur.close()
      idx += 1
      if (idx >= paths.length) { cur = null; return false }
      cur = new GraftVectorReader(paths(idx), required, pushed,
        limit.map(n => (n - delivered).toInt))
    }
    delivered += cur.get().numRows()
    true
  }
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Columnar fast path: Spark's vectorized parquet decoder feeding 4k-row
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]]es straight into the
  * scan — ~10× the row-by-row Group assembly for bulk reads (the initial
  * streaming catch-up, full-table batch scans) and ~3× for the filtered
  * read, the most common 100 TB scan shape. Engaged only when
  * [[GraftVector.eligible]] proved every column every planned file CARRIES
  * physically matches the projection (so the decode can never surprise an
  * executor) — columns a file PREDATES null-fill through Spark's own
  * missing-column vectors, so evolved tables stay vectorized; metadata
  * columns still take the row-based reader, where that feature lives.
  *
  * The reader always initializes through Spark's own split-based path: the
  * requested schema rides ParquetReadSupport clipping (conf-keyed), so a
  * required column ABSENT from this file comes back as Spark's own
  * constant-null missing-column vector — schema evolution (ADD/RENAME)
  * stays vectorized. Pushed filters ride ParquetInputFormat so parquet's
  * row-group + column-index (page) pruning engages
  * (`readNextFilteredRowGroup`), consistent with `getFilteredRecordCount`;
  * record-level truth stays with the residual Filter node Spark keeps
  * above this scan (pushFilters never claims filters handled). A pushed
  * per-partition limit trims the final batch via `setNumRows` — Spark
  * applies the global limit above. */
class GraftVectorReader(path: String, required: StructType,
    pushed: Array[Filter] = Array.empty, limit: Option[Int] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private val reader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      /* useOffHeap = */ false, /* capacity = */ 4096)
  locally {
    val conf = StreamTable.hadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    conf.set(
      org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      required.json)
    // The split-based initialize builds ParquetToSparkSchemaConverter from
    // this conf and reads these five keys with no default — pinned to the
    // SQLConf defaults Spark's own ParquetFileFormat propagates. PINNED, not
    // session-copied, deliberately: eligible() refused every file whose
    // physical layout any of the flags could reinterpret (INT96,
    // non-annotated binary, NANOS units, case-twin names are all
    // layout-proof failures), so for every file that reaches this reader
    // all five values are semantically inert — while session-copying would
    // let an unrelated session mutation (Tables.events sets nanosAsLong for
    // the TESTDATA loader, a user may toggle caseSensitive) change decode
    // behavior mid-table. The row reader is equally conf-independent
    // (declared-type-driven conversions), so the two paths can never
    // diverge. Like every graft reader (the Group reader, the sink writer),
    // this conf is a copy of the one loaded base (StreamTable.hadoopConf:
    // the content of `new Configuration()`, parsed once per JVM) and assumes
    // default-filesystem access — an object-store deployment supplies
    // credentials via core-site, not session conf.
    locally {
      import org.apache.spark.sql.internal.SQLConf
      conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
      conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
      conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
      conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
      conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    }
    // row-group/page pruning only for conjuncts whose columns THIS file
    // physically carries IN THE DECLARED CANONICAL LAYOUT (an absent
    // column's values are all null — the conjunct is dropped; a WIDENED
    // file stores the narrower physical type, so a declared-typed parquet
    // predicate would be type-mismatched against its columns and throw —
    // the conjunct is dropped there too; weaker AND pruning is always
    // conservative, the residual Filter decides truth)
    val present = GraftVector.layout(path)
    def canonical(r: String): Boolean =
      present.get(r).flatten.exists(prim => required.find(_.name == r)
        .exists(f => GraftVector.canonicalMatches(f.dataType, prim)))
    GraftVector.toRowGroupPredicate(
      pushed.filter(_.references.forall(canonical)), required)
      .foreach(p => org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val len = hPath.getFileSystem(conf).getFileStatus(hPath).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(hPath, 0L, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
      new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, ctx)
  }
  reader.enableReturningBatches()
  reader.resultBatch() // force initBatch before the first nextBatch()

  private var delivered = 0L

  override def next(): Boolean = {
    if (limit.exists(delivered >= _)) return false
    val has = reader.nextBatch()
    if (has) {
      val b = reader.resultBatch()
      limit.foreach { n =>
        val remaining = n - delivered
        if (b.numRows() > remaining) b.setNumRows(remaining.toInt)
      }
      delivered += b.numRows()
    }
    has
  }
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    reader.resultBatch()
  override def close(): Unit = reader.close()
}

/** Columnar decode of a deletion-vectored file: wraps [[GraftVectorReader]]
  * and SUPPRESSES the vector's positions batch-by-batch, so one deleted row
  * no longer demotes an entire scan to the ~3× row reader — clean files in
  * the same scan stay zero-copy columnar, and a dv'd file pays only here.
  *
  *  - batches containing NO deleted position pass through zero-copy (the
  *    overwhelming case: a vector is cap-bounded while the file has
  *    millions of rows);
  *  - a batch that does contain deletions compacts its SURVIVORS into
  *    fresh on-heap vectors — one typed copy pass, still far cheaper than
  *    per-row Group assembly, and bounded by 4k rows;
  *  - the inner reader runs with NO parquet filter predicate and no pushed
  *    limit (record/row-group skipping would desynchronize the raw-offset
  *    position counter — the same rule as the row reader under a vector);
  *    the pushed LIMIT trims here, AFTER suppression, and pushed filters
  *    stay residual above the scan as always.
  *
  * Types are exactly [[GraftVector.eligible]]'s proof alphabet, so the
  * typed copy can never surprise. */
class GraftDvVectorReader(path: String, required: StructType,
    dv: Array[Long], limit: Option[Int] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private val inner = new GraftVectorReader(path, required,
    pushed = Array.empty, limit = None)
  private var rowsSeen = 0L // raw offset of the NEXT batch's first row
  private var dvIdx = 0
  private var delivered = 0L
  private var out: org.apache.spark.sql.vectorized.ColumnarBatch = _

  override def next(): Boolean = {
    if (limit.exists(delivered >= _)) return false
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val start = rowsSeen
      rowsSeen += n
      // deleted positions falling inside this batch (dv is sorted; dvIdx
      // advances monotonically — one forward pass for the whole file)
      val dvFrom = dvIdx
      while (dvIdx < dv.length && dv(dvIdx) < start + n) dvIdx += 1
      val batch =
        if (dvIdx == dvFrom) b // untouched batch: zero-copy pass-through
        else compact(b, start, dvFrom, dvIdx)
      if (batch.numRows() > 0) {
        limit.foreach { lim =>
          val remaining = lim - delivered
          if (batch.numRows() > remaining) batch.setNumRows(remaining.toInt)
        }
        delivered += batch.numRows()
        out = batch
        return true
      }
    }
    false
  }

  /** Copy the batch's surviving rows into fresh on-heap vectors. */
  private def compact(b: org.apache.spark.sql.vectorized.ColumnarBatch,
      start: Long, dvFrom: Int, dvTo: Int)
      : org.apache.spark.sql.vectorized.ColumnarBatch = {
    val n = b.numRows()
    val keep = new Array[Int](n - (dvTo - dvFrom))
    var r = 0; var k = 0; var d = dvFrom
    while (r < n) {
      if (d < dvTo && dv(d) == start + r) d += 1
      else { keep(k) = r; k += 1 }
      r += 1
    }
    val cols = org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      .allocateColumns(keep.length, required)
    var c = 0
    while (c < required.length) {
      val src = b.column(c)
      val dst = cols(c)
      val dt = required(c).dataType
      var i = 0
      while (i < keep.length) {
        val row = keep(i)
        if (src.isNullAt(row)) dst.putNull(i)
        else dt match {
          case LongType | TimestampType | TimestampNTZType =>
            dst.putLong(i, src.getLong(row))
          case IntegerType | DateType => dst.putInt(i, src.getInt(row))
          case DoubleType => dst.putDouble(i, src.getDouble(row))
          case FloatType => dst.putFloat(i, src.getFloat(row))
          case BooleanType => dst.putBoolean(i, src.getBoolean(row))
          case StringType =>
            val s = src.getUTF8String(row).getBytes
            dst.putByteArray(i, s, 0, s.length)
          case BinaryType =>
            val s = src.getBinary(row)
            dst.putByteArray(i, s, 0, s.length)
          case other => throw new IllegalStateException(
            s"unreachable: eligible() admitted unsupported type $other")
        }
        i += 1
      }
      c += 1
    }
    new org.apache.spark.sql.vectorized.ColumnarBatch(
      cols.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]],
      keep.length)
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out
  override def close(): Unit = inner.close()
}

/** Temporal filter-value/stat conversions for pushdown and stats skipping.
  * DATE footer stats render as ISO dates ("2020-01-15"), TIMESTAMP_NTZ
  * (INT64 micros, not UTC-adjusted) as ISO datetimes
  * ("2021-03-04T05:06:07.123456"), and zoned TIMESTAMP (INT64 micros,
  * UTC-adjusted — what every graft write site emits since the
  * TIMESTAMP_MICROS output switch) as offset datetimes
  * ("2021-03-04T05:06:07.123456+0000") via parquet's typed stringifier.
  * Spark pushes the matching filter values as java.sql.Date /
  * java.time.LocalDate (DATE), java.time.LocalDateTime (NTZ), and
  * java.sql.Timestamp / java.time.Instant (zoned — both carry the UTC
  * instant, matching the UTC-adjusted storage exactly, so no session-TZ
  * arithmetic enters the comparison). Both sides convert to epoch days /
  * micros for exact comparison — any parse or shape surprise yields None
  * and the caller stays conservative. LEGACY zoned files written as INT96
  * carry no usable stats (their entries never parse as offset datetimes)
  * and therefore never prune — residual-only, exactly as before. */
private[graft] object TemporalPush {
  def days(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }
  def micros(v: Any): Option[Long] = v match {
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
    case _ => None
  }
  /** Zoned-timestamp filter value → epoch micros (the UTC instant — the
    * same number the UTC-adjusted INT64 column stores). */
  def zonedMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      // getTime floors to millis; getNanos carries the full sub-second part
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }
  def statDays(s: String): Option[Long] =
    try Some(java.time.LocalDate.parse(s).toEpochDay)
    catch { case _: java.time.format.DateTimeParseException => None }
  def statMicros(s: String): Option[Long] =
    try {
      val t = java.time.LocalDateTime.parse(s)
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
    } catch { case _: java.time.format.DateTimeParseException => None }

  /** parquet's TIMESTAMP_MICROS_UTC stringifier format (empirically pinned
    * in V2ConnectorSpec): fixed 6-digit fraction + "+0000" offset. */
  private val ZonedStatFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ")
  def statMicrosZoned(s: String): Option[Long] =
    try {
      val t = java.time.OffsetDateTime.parse(s, ZonedStatFmt).toInstant
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    } catch { case _: java.time.format.DateTimeParseException => None }

  /** Filter value → epoch long, paired with the matching stat parser.
    * The value's Java class picks the parser: Spark hands LocalDateTime
    * only for NTZ columns (bare-ISO stats) and Timestamp/Instant only for
    * zoned columns (offset-suffixed stats), so value and stat format can
    * never cross. */
  def valueAndParser(v: Any): Option[(Long, String => Option[Long])] =
    days(v).map(d => (d, statDays _))
      .orElse(micros(v).map(us => (us, statMicros _)))
      .orElse(zonedMicros(v).map(us => (us, statMicrosZoned _)))
}

/** DECIMAL pushdown conversions. Parquet stores precision ≤ 18 decimals as
  * INT32/INT64 UNSCALED values (the layout every graft write site emits —
  * Spark's non-legacy writer), footer stats stringify them SCALED
  * ("45.6" for unscaled 456 at scale 1, V2ConnectorSpec-pinned), and Spark
  * hands pushed decimal filter values as java.math.BigDecimal. Every
  * conversion here is exact-or-refuse: a value that can't be represented at
  * the column's scale returns None and the conjunct drops (pushdown is never
  * load-bearing — the residual Filter keeps record truth). Precision > 18
  * (FIXED_LEN_BYTE_ARRAY layout) refuses everywhere: big-endian byte-array
  * stats don't merge as longs and the columnar proof rejects them too. */
private[graft] object DecimalPush {
  /** Pushed filter value → unscaled long at `scale` (exact or None). */
  def unscaled(v: Any, scale: Int): Option[Long] = {
    val bd = v match {
      case b: java.math.BigDecimal => b
      case b: scala.math.BigDecimal => b.bigDecimal
      case _ => return None
    }
    try Some(bd.setScale(scale).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }
  }
  /** Rendered manifest/footer stat ("45.6") → unscaled long at `scale`. */
  def statUnscaled(s: String, scale: Int): Option[Long] =
    try Some(new java.math.BigDecimal(s).setScale(scale)
      .unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None
            case _: NumberFormatException => None }
  /** Rendered stat → exact BigDecimal (FileSkip's typed comparison). */
  def stat(s: String): Option[java.math.BigDecimal] =
    try Some(new java.math.BigDecimal(s))
    catch { case _: NumberFormatException => None }
}

/** Conservative file-level stats overlap: `keep` is false ONLY when the
  * footer [min,max] prove no row of the file can match the filter. Shared
  * by the append scan and the PK merge-on-read scan (where it may only be
  * fed filters over primary-key columns — see GraftPkScanBuilder). */
private[v2] object FileSkip {
  def keep(f: Filter, mins: Map[String, String],
      maxs: Map[String, String],
      /** The file's manifest meta, when available: null counts + physical
        * column presence serve the IS [NOT] NULL decisions — without it
        * (None) the decision conservatively keeps. */
      meta: Option[DataFileMeta] = None,
      /** FILE-level names of columns added with DEFAULT: a file that
        * predates such a column serves the (non-null) default, so the
        * "absent ⇒ all null" IS NOT NULL skip must not fire for them. */
      defaulted: Set[String] = Set.empty): Boolean = {
    def nullCount(a: String): Option[Long] =
      meta.flatMap(_.nullStats).flatMap(_.get(a)).flatMap(_.toLongOption)
    def present(a: String): Option[Boolean] =
      meta.flatMap(_.fileCols).map(_.contains(a))
    def stats(a: String): Option[(String, String)] =
      for (mn <- mins.get(a); mx <- maxs.get(a)) yield (mn, mx)
    def num(s: String): Option[Double] =
      try Some(s.toDouble) catch { case _: NumberFormatException => None }
    // string stats compare only when pure ASCII: footer strings are java
    // (UTF-16) ordered, Spark compares UTF-8 bytes — the orders agree on
    // ASCII and may not beyond, so non-ASCII stats never prune
    def ascii(s: String) = s.forall(_ < 128)
    def cmp(attr: String, v: Any)(noOverlap: (Double, Double, Double) => Boolean)
        (strNoOverlap: (String, String, String) => Boolean): Boolean =
      stats(attr) match {
        case Some((mn, mx)) => v match {
          case s: String =>
            if (ascii(mn) && ascii(mx) && ascii(s)) !strNoOverlap(mn, mx, s) else true
          // decimal BEFORE the generic Number case (BigDecimal IS a Number):
          // compare exactly via compareTo signum — every comparator below
          // only relates mn/mx to x (never mn to mx), so feeding it
          // (sgn(mn cmp x), sgn(mx cmp x), 0) preserves each decision with
          // zero double-rounding (doubles can misorder near-equal decimals)
          case bd: java.math.BigDecimal =>
            (DecimalPush.stat(mn), DecimalPush.stat(mx)) match {
              case (Some(a), Some(b)) =>
                !noOverlap(a.compareTo(bd).toDouble, b.compareTo(bd).toDouble, 0.0)
              case _ => true
            }
          // integral values compare as EXACT longs (the same signum trick):
          // beyond 2^53 a double collapses adjacent longs, and a skip
          // decision at the boundary would wrongly drop a file
          case l: java.lang.Long =>
            (mn.toLongOption, mx.toLongOption) match {
              case (Some(a), Some(b)) => !noOverlap(
                java.lang.Long.compare(a, l).toDouble,
                java.lang.Long.compare(b, l).toDouble, 0.0)
              case _ => true
            }
          case i: java.lang.Integer =>
            (mn.toLongOption, mx.toLongOption) match {
              case (Some(a), Some(b)) => !noOverlap(
                java.lang.Long.compare(a, i.longValue()).toDouble,
                java.lang.Long.compare(b, i.longValue()).toDouble, 0.0)
              case _ => true
            }
          // float stats stringify shortest-roundtrip ("1.1" for the float
          // 1.100000023…), and parsing that as a DOUBLE reconstructs a
          // DIFFERENT number — near the boundary that mis-skips a file
          // whose true max satisfies the predicate. toFloat reconstructs
          // the exact stat; float→double widening is exact, so the compare
          // is exact end to end.
          case f: java.lang.Float =>
            (mn.toFloatOption, mx.toFloatOption) match {
              case (Some(a), Some(b)) =>
                !noOverlap(a.toDouble, b.toDouble, f.doubleValue())
              case _ => true
            }
          // a DOUBLE value may face stats rendered from either a DOUBLE
          // file or a (type-widened) FLOAT file, and the two renderings
          // parse differently — widen each stat to the conservative hull of
          // both readings, so the skip stays sound whichever wrote the file
          case d: java.lang.Double =>
            (num(mn), num(mx)) match {
              case (Some(a), Some(b)) =>
                val aLo = mn.toFloatOption.map(_.toDouble).fold(a)(math.min(a, _))
                val bHi = mx.toFloatOption.map(_.toDouble).fold(b)(math.max(b, _))
                !noOverlap(aLo, bHi, d.doubleValue())
              case _ => true
            }
          case n: Number =>
            (num(mn), num(mx)) match {
              case (Some(a), Some(b)) => !noOverlap(a, b, n.doubleValue())
              case _ => true
            }
          case other =>
            // date / timestamp_ntz: both sides to epoch days / micros
            // (exact longs, reused through the Double comparators — epoch
            // days/micros stay far inside Double's 2^53 exact-integer
            // range); a stat that doesn't parse keeps the file
            TemporalPush.valueAndParser(other) match {
              case Some((x, parse)) => (parse(mn), parse(mx)) match {
                case (Some(a), Some(b)) =>
                  !noOverlap(a.toDouble, b.toDouble, x.toDouble)
                case _ => true
              }
              case None => true
            }
        }
        case None => true
      }
    f match {
      case EqualTo(a, v) =>
        cmp(a, v)((mn, mx, x) => x < mn || x > mx)((mn, mx, s) => s < mn || s > mx)
      case GreaterThan(a, v) =>
        cmp(a, v)((_, mx, x) => mx <= x)((_, mx, s) => mx <= s)
      case GreaterThanOrEqual(a, v) =>
        cmp(a, v)((_, mx, x) => mx < x)((_, mx, s) => mx < s)
      case LessThan(a, v) =>
        cmp(a, v)((mn, _, x) => mn >= x)((mn, _, s) => mn >= s)
      case LessThanOrEqual(a, v) =>
        cmp(a, v)((mn, _, x) => mn > x)((mn, _, s) => mn > s)
      case In(a, vs) => // keep if ANY listed value could be in the file
        vs == null || vs.isEmpty || vs.exists(v => keep(EqualTo(a, v), mins, maxs))
      case StringStartsWith(a, p) =>
        // a p-prefixed string lies in [p, succ(p)) where succ bumps the last
        // char — skip iff the file's whole range misses that interval;
        // ASCII-guarded like every string comparison here, and a prefix
        // ending in 0x7F simply never prunes (no in-alphabet successor)
        (for (mn <- mins.get(a); mx <- maxs.get(a)) yield {
          def ascii(s: String) = s.forall(_ < 128)
          if (p == null || p.isEmpty || !ascii(mn) || !ascii(mx) || !ascii(p)) true
          else if (p.last >= 127) !(mx < p)
          else {
            val succ = p.substring(0, p.length - 1) + (p.last + 1).toChar
            !(mx < p || mn >= succ)
          }
        }).getOrElse(true)
      // IS NOT NULL: skip only when provably every row is null — the column
      // physically absent (file predates it, AND no default fills it) or
      // nulls == rowCount
      case IsNotNull(a) =>
        val allNull = (nullCount(a), meta.map(_.rowCount)) match {
          case (Some(n), Some(r)) => n == r
          case _ => false
        }
        !((present(a).contains(false) && !defaulted(a)) || allNull)
      // IS NULL: skip only when the column is present with ZERO nulls
      case IsNull(a) =>
        !(present(a).contains(true) && nullCount(a).contains(0L))
      // a file can match an OR if either branch could, an AND only if both
      case Or(l, r) =>
        keep(l, mins, maxs, meta, defaulted) || keep(r, mins, maxs, meta, defaulted)
      case And(l, r) =>
        keep(l, mins, maxs, meta, defaulted) && keep(r, mins, maxs, meta, defaulted)
      case _ => true
    }
  }
}

/** Driver-planning metrics (Spark SQL UI): how much the manifest + footer
  * stats actually skipped — at 100 TB "files skipped" IS the query plan's
  * quality signal, and it must be observable, not inferred from runtimes. */
object GraftScanMetrics {
  val all: Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new GraftFilesReadMetric, new GraftFilesSkippedMetric,
    new GraftBytesPlannedMetric, new GraftFooterReadsMetric)

  def task(n: String, v: Long): org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

// Top-level, zero-arg-constructible: the SQL UI listener re-instantiates
// metric classes REFLECTIVELY to aggregate them — an inner class with
// constructor args silently drops the metric from the UI.
class GraftFilesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesRead"
  override def description(): String = "data files planned for read"
}
class GraftFilesSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesSkipped"
  override def description(): String = "data files skipped by footer stats"
}
class GraftBytesPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftBytesPlanned"
  override def description(): String = "bytes planned for read"
}
class GraftFooterReadsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFooterReads"
  override def description(): String =
    "parquet footers opened at plan time (0 = stats fully manifest-served)"
}

/** Driver-side eligibility proof for the columnar path. File footers are
  * immutable once committed (write-once rename protocol), so the schema
  * check caches per path for the life of the JVM — re-planned scans and
  * micro-batch diffs never re-open a footer. */
object GraftVector {
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}

  private val fieldCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Option[PrimitiveType]]]()

  /** Per-file layout (name → Some(primitive) | None for group/repeated
    * fields — present but not columnar-provable), footer-cached. A name
    * ABSENT from the map is genuinely absent from the file (schema
    * evolution: the reader null-fills it). Bounded: compaction/overwrite
    * keep minting new immutable paths, so a long-lived driver would
    * otherwise accumulate entries for dead files — dropping the whole cache
    * is only a re-read, never a correctness risk. */
  private[v2] def layout(path: String): Map[String, Option[PrimitiveType]] = {
    if (fieldCache.size() > 8192) fieldCache.clear()
    fieldCache.computeIfAbsent(path, { p =>
      val r = StreamTable.openFooter(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), StreamTable.hadoopConf()))
      try {
        val s = r.getFooter.getFileMetaData.getSchema
        s.getFields.asScala.map { f =>
          if (f.isPrimitive && f.getRepetition !=
              org.apache.parquet.schema.Type.Repetition.REPEATED)
            f.getName -> Some(f.asPrimitiveType())
          else f.getName -> None
        }.toMap
      } finally r.close()
    })
  }

  /** Decode proof: the canonical layout OR a safe type-widening
    * (INT32→BIGINT, FLOAT→DOUBLE, same-scale decimal precision growth) —
    * Spark 4's vectorized updaters decode all of these natively, so evolved
    * tables stay columnar across a widening. */
  private[v2] def matches(dt: DataType, p: PrimitiveType): Boolean =
    canonicalMatches(dt, p) || widenedMatches(dt, p)

  /** A file physically storing the WIDENED form of the declared type:
    * decode is exact, but pushed parquet predicates built from the declared
    * type would be type-mismatched against this file's columns — predicate
    * construction must use [[canonicalMatches]], never this. */
  private def widenedMatches(dt: DataType, p: PrimitiveType): Boolean = {
    val ann = p.getLogicalTypeAnnotation
    def intAnn(bits: Int) = ann match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        i.getBitWidth == bits && i.isSigned
      case _ => false
    }
    (dt, p.getPrimitiveTypeName) match {
      case (LongType, PrimitiveTypeName.INT32) => intAnn(32)
      case (DoubleType, PrimitiveTypeName.FLOAT) => true
      case (d: DecimalType, PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64) =>
        ann match {
          case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            a.getScale == d.scale && a.getPrecision < d.precision &&
              a.getPrecision <= 18
          case _ => false
        }
      case _ => false
    }
  }

  /** The exact canonical layout of the declared type (no widening). */
  private[v2] def canonicalMatches(dt: DataType, p: PrimitiveType): Boolean = {
    val ann = p.getLogicalTypeAnnotation
    def intAnn(bits: Int) = ann match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        i.getBitWidth == bits && i.isSigned
      case _ => false
    }
    (dt, p.getPrimitiveTypeName) match {
      case (LongType, PrimitiveTypeName.INT64) => intAnn(64)
      case (IntegerType, PrimitiveTypeName.INT32) => intAnn(32)
      case (DoubleType, PrimitiveTypeName.DOUBLE) => true
      case (FloatType, PrimitiveTypeName.FLOAT) => true
      case (BooleanType, PrimitiveTypeName.BOOLEAN) => true
      case (StringType, PrimitiveTypeName.BINARY) =>
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case (BinaryType, PrimitiveTypeName.BINARY) => ann == null
      case (DateType, PrimitiveTypeName.INT32) =>
        ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case (TimestampNTZType, PrimitiveTypeName.INT64) => ann match {
        case t: TimestampLogicalTypeAnnotation =>
          t.getUnit == TimeUnit.MICROS && !t.isAdjustedToUTC
        case _ => false
      }
      case (TimestampType, PrimitiveTypeName.INT64) => ann match {
        case t: TimestampLogicalTypeAnnotation =>
          t.getUnit == TimeUnit.MICROS && t.isAdjustedToUTC
        case _ => false
      }
      // decimals: the canonical non-legacy layout ONLY (p ≤ 9 → INT32,
      // 10..18 → INT64) with the EXACT declared precision+scale annotation —
      // Spark's vectorized updaters decode these natively; any other shape
      // (FLBA, binary, legacy-rewritten precision) takes the row reader
      case (d: DecimalType, PrimitiveTypeName.INT32) => ann match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          d.precision <= 9 && a.getPrecision == d.precision && a.getScale == d.scale
        case _ => false
      }
      case (d: DecimalType, PrimitiveTypeName.INT64) => ann match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          d.precision >= 10 && d.precision <= 18 &&
            a.getPrecision == d.precision && a.getScale == d.scale
        case _ => false
      }
      case _ => false
    }
  }

  /** True iff the columnar path is provably safe for this (projection,
    * filters, limit, file set).
    *
    * Pushed filters are ALWAYS residual in this connector (GraftScanBuilder
    * .pushFilters returns every filter), so Spark re-applies the exact
    * predicate above the scan — the columnar reader only needs row-group /
    * page-level pruning for speed, never record-level exactness. Filter
    * columns are therefore also in `required` (the residual Filter node
    * needs them in the scan output), so the per-file layout proof below
    * already covers them. Limit stays per-partition-partial under columnar
    * (batches are trimmed with setNumRows); Spark's plan shape guarantees a
    * pushed limit never coexists with residual filters, but we refuse the
    * combination anyway rather than reason about row counts under pruning:
    * the columnar reader's page pruning is inexact, so "n decoded rows" is
    * not "n post-filter rows" — only the row reader's record-level filter
    * can count deliveries exactly.
    *
    * Schema evolution keeps the fast path: a required column ABSENT from a
    * file null-fills through Spark's own missing-column machinery (the
    * requested-schema split initialize), so an ALTER TABLE ADD/RENAME no
    * longer demotes every pre-evolution file to the ~3× row decode — at
    * 100 TB every long-lived table is evolved, so this IS the common scan.
    * A column PRESENT in a file must still prove its physical layout; a
    * present-but-group field (nested shadow) refuses. */
  def eligible(required: StructType, pushed: Array[Filter],
      limit: Option[Int], paths: Seq[String]): Boolean =
    !(pushed.nonEmpty && limit.nonEmpty) && paths.nonEmpty &&
      pushed.forall(_.references.forall(r => required.fieldNames.contains(r))) &&
      required.fields.forall(f => !GraftV2Table.MetaCols.contains(f.name)) &&
      paths.forall { p =>
        try {
          val l = layout(p)
          required.fields.forall(f => l.get(f.name) match {
            case None => true // absent from this file: reader null-fills
            case Some(Some(prim)) => matches(f.dataType, prim)
            case Some(None) => false // present as a group/repeated field
          })
        } catch { case _: Exception => false }
      }

  /** Spark-typed Filter → parquet [[FilterPredicate]] for row-group/page
    * pruning under the vectorized reader. Leaf column types come from the
    * DECLARED schema — [[eligible]] proved every planned file stores the
    * column with exactly that physical type, so one predicate serves all
    * files. Unconvertible conjuncts are dropped (weaker pruning is always
    * conservative: pages that might match are kept, the residual Filter
    * above the scan decides row-level truth). */
  def toRowGroupPredicate(pushed: Array[Filter],
      schema: StructType): Option[FilterPredicate] = {
    def leaf(attr: String, v: Any, op: String): Option[FilterPredicate] = {
      def build[C <: java.lang.Comparable[C],
          K <: org.apache.parquet.filter2.predicate.Operators.Column[C]
            with org.apache.parquet.filter2.predicate.Operators.SupportsLtGt
            with org.apache.parquet.filter2.predicate.Operators.SupportsEqNotEq](
          c: K, x: C): FilterPredicate = op match {
        case "eq" => FilterApi.eq(c, x)
        case "gt" => FilterApi.gt(c, x)
        case "ge" => FilterApi.gtEq(c, x)
        case "lt" => FilterApi.lt(c, x)
        case "le" => FilterApi.ltEq(c, x)
      }
      (schema.find(_.name == attr).map(_.dataType), v) match {
        case (Some(LongType), n: Number) =>
          Some(build(FilterApi.longColumn(attr), java.lang.Long.valueOf(n.longValue())))
        case (Some(IntegerType), n: Number) =>
          Some(build(FilterApi.intColumn(attr), java.lang.Integer.valueOf(n.intValue())))
        case (Some(DoubleType), n: Number) =>
          Some(build(FilterApi.doubleColumn(attr), java.lang.Double.valueOf(n.doubleValue())))
        case (Some(FloatType), n: Number) =>
          Some(build(FilterApi.floatColumn(attr), java.lang.Float.valueOf(n.floatValue())))
        case (Some(StringType), s: String) =>
          Some(build(FilterApi.binaryColumn(attr), Binary.fromString(s)))
        case (Some(DateType), v) if TemporalPush.days(v).isDefined =>
          Some(build(FilterApi.intColumn(attr),
            java.lang.Integer.valueOf(TemporalPush.days(v).get.toInt)))
        case (Some(TimestampNTZType), v) if TemporalPush.micros(v).isDefined =>
          Some(build(FilterApi.longColumn(attr),
            java.lang.Long.valueOf(TemporalPush.micros(v).get)))
        // zoned: eligible() proved every planned file is INT64 micros
        // UTC-adjusted, so the epoch-micros instant compares exactly
        case (Some(TimestampType), v) if TemporalPush.zonedMicros(v).isDefined =>
          Some(build(FilterApi.longColumn(attr),
            java.lang.Long.valueOf(TemporalPush.zonedMicros(v).get)))
        // decimal: eligible() proved every planned file stores the declared
        // precision+scale as INT32 (p ≤ 9) / INT64 — unscaled longs compare
        // in column order; a value not representable at the scale drops the
        // conjunct (weaker pruning, residual Filter decides truth)
        case (Some(d: DecimalType), v) if d.precision <= 18 &&
            DecimalPush.unscaled(v, d.scale).isDefined =>
          val u = DecimalPush.unscaled(v, d.scale).get
          if (d.precision <= 9)
            (if (u == u.toInt.toLong)
              Some(build(FilterApi.intColumn(attr), java.lang.Integer.valueOf(u.toInt)))
            else None) // filter value overflows the column's INT32 domain
          else Some(build(FilterApi.longColumn(attr), java.lang.Long.valueOf(u)))
        case _ => None
      }
    }
    // IS [NOT] NULL: parquet's eq(col, null)/notEq(col, null) — row groups
    // prune on the chunk null counts
    def nullLeaf(attr: String, isNull: Boolean): Option[FilterPredicate] =
      schema.find(_.name == attr).map(_.dataType).flatMap {
        case LongType | TimestampNTZType | TimestampType =>
          val c = FilterApi.longColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Long])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Long]))
        case IntegerType | DateType =>
          val c = FilterApi.intColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Integer])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Integer]))
        case DoubleType =>
          val c = FilterApi.doubleColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Double])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Double]))
        case FloatType =>
          val c = FilterApi.floatColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Float])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Float]))
        case StringType =>
          val c = FilterApi.binaryColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[Binary])
          else FilterApi.notEq(c, null.asInstanceOf[Binary]))
        case BooleanType =>
          val c = FilterApi.booleanColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Boolean])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Boolean]))
        case d: DecimalType if d.precision <= 18 =>
          // null tests never read values — only the physical column matters,
          // and eligible() proved INT32 (p ≤ 9) / INT64 per declared precision
          if (d.precision <= 9) {
            val c = FilterApi.intColumn(attr)
            Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Integer])
            else FilterApi.notEq(c, null.asInstanceOf[java.lang.Integer]))
          } else {
            val c = FilterApi.longColumn(attr)
            Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Long])
            else FilterApi.notEq(c, null.asInstanceOf[java.lang.Long]))
          }
        case _ => None
      }
    def convert(f: Filter): Option[FilterPredicate] = f match {
      case IsNull(a) => nullLeaf(a, isNull = true)
      case IsNotNull(a) => nullLeaf(a, isNull = false)
      case EqualTo(a, v) => leaf(a, v, "eq")
      case GreaterThan(a, v) => leaf(a, v, "gt")
      case GreaterThanOrEqual(a, v) => leaf(a, v, "ge")
      case LessThan(a, v) => leaf(a, v, "lt")
      case LessThanOrEqual(a, v) => leaf(a, v, "le")
      // IN = OR of equalities; EVERY value must convert — a partially
      // converted OR would be narrower than the filter and wrongly prune
      case In(a, vs) =>
        val ls = vs.toSeq.map(v => leaf(a, v, "eq"))
        if (ls.nonEmpty && ls.forall(_.isDefined))
          ls.flatten.reduceOption(FilterApi.or)
        else None
      // monotone connectives (see the row reader's convert): AND weakens to
      // a converted side, OR is whole-or-nothing
      case And(l, r) => (convert(l), convert(r)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for (a <- convert(l); b <- convert(r)) yield FilterApi.or(a, b)
      case _ => None
    }
    pushed.flatMap(convert(_)).reduceOption(FilterApi.and)
  }
}

/** Executor-side reader for ONE data file: opens the footer, projects the
  * requested columns, re-applies the pushed predicate at parquet row-group
  * level, and materializes [[InternalRow]]s from example Groups. Row-by-row
  * Group assembly is the API-pure route (the vectorized reader is Spark
  * internal); the per-file work is embarrassingly parallel either way.
  *
  * The footer open and the row reader share one configuration: this
  * reader's copy of the one loaded base ([[StreamTable.hadoopConf]]), which
  * alone carries its read schema, so concurrent readers of the same file
  * never see each other's projection and opening the file parses no XML. */
class GraftPartitionReader(path: String, required: StructType,
    pushed: Array[Filter], limit: Option[Int] = None, fileSeq: Long = -1L,
    /** Deletion-vector positions to suppress (sorted). Non-empty DISABLES
      * the parquet-level predicate below: row-group/record filtering would
      * skip rows and desynchronize the position counter — the residual
      * Filter above the scan keeps record truth either way. */
    dv: Array[Long] = Array.empty)
    extends PartitionReader[InternalRow] {

  private val conf = StreamTable.hadoopConf()
  private val file = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)

  private val fileSchema: MessageType = {
    val r = StreamTable.openFooter(file)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  private def inFile(name: String) = fileSchema.containsField(name)

  // projection: requested DATA columns present in THIS file (schema
  // evolution: columns a file predates are null-filled at assembly;
  // metadata columns are filled from the manifest entry, never the file)
  // a metadata name present in the FILE is a real (shadowing) data column,
  // so file presence alone decides projection membership
  private val present = required.fields.filter(f => inFile(f.name))
  // getType is overload-ambiguous from Scala (String vs String*); index it
  private def fieldType(name: String) =
    fileSchema.getFields.get(fileSchema.getFieldIndex(name))
  private val projection = new MessageType(fileSchema.getName,
    present.map(f => fieldType(f.name)).toList.asJava)

  private val reader: ParquetReader[Group] = {
    // the builder reads `conf` through `file`, so parquet-mr builds no
    // configuration of its own
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    val b = new ParquetReader.Builder[Group](file) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }
    // row-group + record-level re-check of the pushed filters; only when
    // every referenced column exists in this file — and never under a
    // deletion vector or a requested _graft_pos (position fidelity: skipped
    // records would desynchronize the raw-offset counter, see the class doc)
    (if (dv.nonEmpty ||
         required.fieldNames.contains(GraftV2Table.PosCol)) None
     else toPredicate(pushed.filter(filterCols(_).forall(inFile))))
      .fold(b)(p => b.withFilter(FilterCompat.get(p)))
      .build()
  }

  private def filterCols(f: Filter): Seq[String] = f.references.toSeq

  private def toPredicate(fs: Array[Filter]): Option[FilterPredicate] = {
    def leaf(attr: String, v: Any, op: String): Option[FilterPredicate] = {
      val prim = fieldType(attr).asPrimitiveType()
      (prim.getPrimitiveTypeName, v) match {
        // decimal (BigDecimal value) FIRST — BigDecimal IS a Number, and the
        // generic integral cases below would truncate the value (45.6 → 45)
        // and compare it against stored UNSCALED ints (456). THIS file's
        // DECIMAL annotation supplies the scale; conversion is exact-or-drop,
        // so the load-bearing record filter can never lose a matching row
        // (unscaled order ≡ value order at a fixed scale).
        case (PrimitiveTypeName.INT32, bd: java.math.BigDecimal) =>
          (prim.getLogicalTypeAnnotation match {
            case a: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              DecimalPush.unscaled(bd, a.getScale).filter(u => u == u.toInt.toLong)
            case _ => None
          }).map { u =>
            val c = FilterApi.intColumn(attr)
            val x = java.lang.Integer.valueOf(u.toInt)
            op match {
              case "eq" => FilterApi.eq(c, x)
              case "gt" => FilterApi.gt(c, x)
              case "ge" => FilterApi.gtEq(c, x)
              case "lt" => FilterApi.lt(c, x)
              case "le" => FilterApi.ltEq(c, x)
            }
          }
        case (PrimitiveTypeName.INT64, bd: java.math.BigDecimal) =>
          (prim.getLogicalTypeAnnotation match {
            case a: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              DecimalPush.unscaled(bd, a.getScale)
            case _ => None
          }).map { u =>
            val c = FilterApi.longColumn(attr)
            val x = java.lang.Long.valueOf(u)
            op match {
              case "eq" => FilterApi.eq(c, x)
              case "gt" => FilterApi.gt(c, x)
              case "ge" => FilterApi.gtEq(c, x)
              case "lt" => FilterApi.lt(c, x)
              case "le" => FilterApi.ltEq(c, x)
            }
          }
        case (PrimitiveTypeName.INT64, n: Number) =>
          val c = FilterApi.longColumn(attr); val x = java.lang.Long.valueOf(n.longValue())
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        // a LONG value against a type-widened INT32 file: converts only when
        // the value fits — intValue() would WRAP a beyond-range value and
        // the (load-bearing) record filter would drop matching rows
        case (PrimitiveTypeName.INT32, n: Number)
            if n.longValue() == n.intValue().toLong =>
          val c = FilterApi.intColumn(attr); val x = java.lang.Integer.valueOf(n.intValue())
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        case (PrimitiveTypeName.DOUBLE, n: Number) =>
          val c = FilterApi.doubleColumn(attr); val x = java.lang.Double.valueOf(n.doubleValue())
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        // a DOUBLE value against a type-widened FLOAT file: converts only
        // when exactly float-representable — floatValue() rounds, and a
        // rounded comparand flips strict comparisons at the boundary
        case (PrimitiveTypeName.FLOAT, n: Number)
            if n.floatValue().toDouble == n.doubleValue() =>
          val c = FilterApi.floatColumn(attr); val x = java.lang.Float.valueOf(n.floatValue())
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        case (PrimitiveTypeName.BINARY, s: String) =>
          val c = FilterApi.binaryColumn(attr); val x = Binary.fromString(s)
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        // DATE is INT32 epoch days; TIMESTAMP_NTZ is INT64 epoch micros —
        // the same numbers TemporalPush derives from the filter value.
        // THIS reader record-filters, so the file's logical annotation must
        // prove the unit: an INT64 MILLIS/NANOS (or UTC-adjusted) column
        // compared against micros would silently drop matching rows the
        // residual Filter could never resurrect. (The columnar path needs
        // no such check here — eligible() already proved its layout.)
        case (PrimitiveTypeName.INT32, v) if TemporalPush.days(v).isDefined &&
            prim.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
          val c = FilterApi.intColumn(attr)
          val x = java.lang.Integer.valueOf(TemporalPush.days(v).get.toInt)
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        case (PrimitiveTypeName.INT64, v) if TemporalPush.micros(v).isDefined &&
            (prim.getLogicalTypeAnnotation match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS &&
                  !t.isAdjustedToUTC
              case _ => false
            }) =>
          val c = FilterApi.longColumn(attr)
          val x = java.lang.Long.valueOf(TemporalPush.micros(v).get)
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        // zoned timestamp (java.sql.Timestamp / Instant value): only an
        // INT64 MICROS column ADJUSTED to UTC stores the comparable epoch
        // instant — a legacy INT96 file fails this proof and keeps reading
        // unfiltered (the residual Filter above decides truth)
        case (PrimitiveTypeName.INT64, v) if TemporalPush.zonedMicros(v).isDefined &&
            (prim.getLogicalTypeAnnotation match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS &&
                  t.isAdjustedToUTC
              case _ => false
            }) =>
          val c = FilterApi.longColumn(attr)
          val x = java.lang.Long.valueOf(TemporalPush.zonedMicros(v).get)
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "gt" => FilterApi.gt(c, x)
            case "ge" => FilterApi.gtEq(c, x)
            case "lt" => FilterApi.lt(c, x)
            case "le" => FilterApi.ltEq(c, x)
          })
        case _ => None
      }
    }
    // IS [NOT] NULL against this file's PHYSICAL column (any primitive
    // type works — the test never reads values, only definition levels)
    def nullLeaf(attr: String, isNull: Boolean): Option[FilterPredicate] = {
      val prim = fieldType(attr).asPrimitiveType()
      prim.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 =>
          val c = FilterApi.longColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Long])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Long]))
        case PrimitiveTypeName.INT32 =>
          val c = FilterApi.intColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Integer])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Integer]))
        case PrimitiveTypeName.DOUBLE =>
          val c = FilterApi.doubleColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Double])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Double]))
        case PrimitiveTypeName.FLOAT =>
          val c = FilterApi.floatColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Float])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Float]))
        case PrimitiveTypeName.BINARY =>
          val c = FilterApi.binaryColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[Binary])
          else FilterApi.notEq(c, null.asInstanceOf[Binary]))
        case PrimitiveTypeName.BOOLEAN =>
          val c = FilterApi.booleanColumn(attr)
          Some(if (isNull) FilterApi.eq(c, null.asInstanceOf[java.lang.Boolean])
          else FilterApi.notEq(c, null.asInstanceOf[java.lang.Boolean]))
        case _ => None // INT96 / FLBA: residual-only
      }
    }
    def convert(f: Filter): Option[FilterPredicate] = f match {
      case IsNull(a) => nullLeaf(a, isNull = true)
      case IsNotNull(a) => nullLeaf(a, isNull = false)
      case EqualTo(a, v) => leaf(a, v, "eq")
      case GreaterThan(a, v) => leaf(a, v, "gt")
      case GreaterThanOrEqual(a, v) => leaf(a, v, "ge")
      case LessThan(a, v) => leaf(a, v, "lt")
      case LessThanOrEqual(a, v) => leaf(a, v, "le")
      // IN = OR of equalities; EVERY value must convert — dropping one
      // would NARROW the predicate and wrongly filter its rows out
      case In(a, vs) =>
        val ls = vs.toSeq.map(v => leaf(a, v, "eq"))
        if (ls.nonEmpty && ls.forall(_.isDefined))
          ls.flatten.reduceOption(FilterApi.or)
        else None
      // monotone connectives: an AND may weaken to whichever side converts
      // (never wrong, prunes less); an OR must convert whole or not at all
      case And(l, r) => (convert(l), convert(r)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for (a <- convert(l); b <- convert(r)) yield FilterApi.or(a, b)
      case _ => None
    }
    fs.flatMap(convert(_)).reduceOption(FilterApi.and)
  }

  private var current: Group = _

  // per-output-field plan, computed once (never per row): projection index
  // (-1 = column absent from this file → null-fill; -2 = _graft_file;
  // -3 = _graft_seq) + resolved types (parquet side kept as the generic
  // Type — struct columns, e.g. the partial-update `__graft_fseq_*`
  // markers, are GroupTypes)
  private val filePathUtf8 = UTF8String.fromString(path)
  private val fieldPlan: Array[(Int, DataType, org.apache.parquet.schema.Type)] = {
    var projIdx = -1
    required.fields.map { f =>
      if (f.name == GraftV2Table.FileCol && !inFile(f.name)) (-2, f.dataType, null)
      else if (f.name == GraftV2Table.SeqMetaCol && !inFile(f.name)) (-3, f.dataType, null)
      else if (f.name == GraftV2Table.PosCol && !inFile(f.name)) (-4, f.dataType, null)
      else if (!inFile(f.name)) (-1, f.dataType, null)
      else {
        projIdx += 1
        (projIdx, f.dataType, projection.getType(projIdx))
      }
    }
  }

  // EXISTS_DEFAULT substitution for columns this file PREDATES — the row
  // reader's twin of the vectorized path's existence-default missing-column
  // vectors (Spark fills those from the same schema metadata): the folded
  // internal value per output field, null when no default is declared.
  // Genuine in-file NULLs are untouched (repetition-count branch below).
  private val existsDefault: Array[Any] = required.fields.map(f =>
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValue(f))

  private var delivered = 0L
  private var pos = -1L // raw position of `current` within the file
  private var dvIdx = 0

  override def next(): Boolean = {
    // partial LIMIT pushdown: this partition stops after `limit` rows
    // (Spark applies the final global limit across partitions)
    if (limit.exists(delivered >= _)) return false
    while (true) {
      current = reader.read()
      if (current == null) return false
      pos += 1
      // deletion-vector suppression: dv is sorted, pos strictly increases —
      // one forward pointer pass over the vector for the whole file
      if (dvIdx < dv.length && dv(dvIdx) == pos) dvIdx += 1
      else {
        delivered += 1
        return true
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var out = 0
    while (out < fieldPlan.length) {
      val (i, dt, typ) = fieldPlan(out)
      if (i == -2) row.update(out, filePathUtf8)
      else if (i == -3) row.update(out, fileSeq)
      else if (i == -4) row.update(out, pos)
      else if (i < 0) row.update(out, existsDefault(out)) // absent: default-or-null fill
      else if (current.getFieldRepetitionCount(i) == 0) row.update(out, null)
      else row.update(out, convertAny(current, i, dt, typ))
      out += 1
    }
    row
  }

  /** Field `i` of `g`: structs (inner fields resolve by
    * NAME against the file's group layout, null-filling absent ones),
    * arrays and maps in parquet's LIST/MAP layouts (the per-field
    * provenance lists and the list folds' ARRAY/MAP fields), and the
    * primitive bridge for everything else. */
  private def convertAny(g: Group, i: Int, dt: DataType,
      typ: org.apache.parquet.schema.Type): Any = dt match {
    case st: StructType =>
      val inner = g.getGroup(i, 0)
      val gt = typ.asGroupType()
      val vals = new Array[Any](st.length)
      st.fields.zipWithIndex.foreach { case (f, out) =>
        if (!gt.containsField(f.name)) vals(out) = null
        else {
          val j = gt.getFieldIndex(f.name)
          vals(out) =
            if (inner.getFieldRepetitionCount(j) == 0) null
            else convertAny(inner, j, f.dataType, gt.getType(j))
        }
      }
      new GenericInternalRow(vals)
    case at: ArrayType =>
      // the three-level LIST Spark writes: `repeated group list { element }`
      val list = g.getGroup(i, 0)
      val elem = typ.asGroupType().getType(0).asGroupType().getType(0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate[Any](list.getFieldRepetitionCount(0)) { k =>
          val e = list.getGroup(0, k)
          if (e.getFieldRepetitionCount(0) == 0) null
          else convertAny(e, 0, at.elementType, elem)
        })
    case mt: MapType =>
      val m = g.getGroup(i, 0)
      val kv = typ.asGroupType().getType(0).asGroupType()
      val n = m.getFieldRepetitionCount(0)
      val (ks, vs) = (new Array[Any](n), new Array[Any](n))
      (0 until n).foreach { k =>
        val e = m.getGroup(0, k)
        ks(k) = convertAny(e, 0, mt.keyType, kv.getType(0))
        vs(k) =
          if (e.getFieldRepetitionCount(1) == 0) null
          else convertAny(e, 1, mt.valueType, kv.getType(1))
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
    case _ => convert(g, i, dt, typ.asPrimitiveType())
  }

  private def convert(g: Group, i: Int, dt: DataType, prim: PrimitiveType): Any =
    dt match {
      // INT32→BIGINT / FLOAT→DOUBLE widen at read: the aggregation merge
      // (`PkMerge.plan`) declares additive fields in their accumulator type
      // (Spark's own sum widening) while files keep the narrow written type
      case LongType =>
        if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT32)
          g.getInteger(i, 0).toLong
        else g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case ShortType => g.getInteger(i, 0).toShort
      case ByteType => g.getInteger(i, 0).toByte
      case DoubleType =>
        if (prim.getPrimitiveTypeName == PrimitiveTypeName.FLOAT)
          g.getFloat(i, 0).toDouble
        else g.getDouble(i, 0)
      case FloatType => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case BinaryType => g.getBinary(i, 0).getBytes
      case DateType => g.getInteger(i, 0)
      case TimestampType | TimestampNTZType =>
        prim.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 =>
            val raw = g.getLong(i, 0)
            prim.getLogicalTypeAnnotation match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                  case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS => raw
                  case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
                }
              case _ => raw // untagged int64: stored micros
            }
          case PrimitiveTypeName.INT96 =>
            val bytes = g.getInt96(i, 0).getBytes // 8B nanos-of-day LE + 4B julian day LE
            val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong(0)
            val julianDay = buf.getInt(8)
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          case other => throw new UnsupportedOperationException(
            s"timestamp physical type $other")
        }
      case d: DecimalType =>
        val unscaled = prim.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT32 => BigInt(g.getInteger(i, 0))
          case PrimitiveTypeName.INT64 => BigInt(g.getLong(i, 0))
          case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
            BigInt(new java.math.BigInteger(g.getBinary(i, 0).getBytes))
          case other => throw new UnsupportedOperationException(
            s"decimal physical type $other")
        }
        org.apache.spark.sql.types.Decimal(
          scala.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"graft source: unsupported read type $other (project it away)")
    }

  override def close(): Unit = reader.close()
}

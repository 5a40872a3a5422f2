package graft.sources.v2

import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{DataFileMeta, StreamTable}

/** Native `UPDATE` / `MERGE INTO` (and non-pushable `DELETE`) on append
  * tables — Spark's group-based row-level operations
  * (SupportsRowLevelOperations) backed by copy-on-write at FILE granularity:
  *
  *  1. the operation's scan finds the affected "groups" (our groups are
  *     data files — `_graft_file` is the declared metadata attribute);
  *     Spark's runtime group filtering injects `_graft_file IN (…)` from a
  *     matching-rows subquery, so only files that CONTAIN matching rows
  *     survive the plan ([[GraftCowScan.filter]]) — a selective UPDATE over
  *     100 TB rewrites only the overlapping slice, like the library's
  *     [[StreamTable.cowRewrite]];
  *  2. Spark computes the replacement rows (non-matching rows verbatim,
  *     matching rows through the SET/WHEN clauses) — executor-parallel,
  *     never on the driver;
  *  3. the write stages replacement files via the shared executor parquet
  *     writers and [[StreamTable.commitReplace]] swaps scanned-for-staged in
  *     ONE atomic manifest commit (concurrent appends survive; concurrent
  *     maintenance on the same files fails loudly; the pre-op snapshot
  *     stays time-travelable).
  *
  * Correctness constraint the scan encodes: pushed filters prune whole
  * FILES only and are never applied row-level inside the readers — a
  * row-group predicate would silently drop the non-matching rows of a
  * rewritten file from its replacement. (The matching-rows SUBQUERY scan is
  * a second instance of the same class where row-filtering would be legal,
  * but uniform file-only pruning costs at most one re-read of matched
  * files' non-matching row groups.)
  *
  * Pushable DELETEs never get here (Spark's OptimizeMetadataOnlyDeleteFromTable
  * converts them back to [[GraftV2Table.deleteWhere]] — tombstones on PK
  * tables, touched-file COW on append tables). PK tables never get here
  * either: the op builder routes them to [[GraftPkDeltaOperation]]
  * (merge-on-read upserts/tombstones); the scan-build refusal below is a
  * defense should one arrive anyway.
  */
/** Shared between the COW and delta row-level operations: the FIRST scan
  * built is the main one — Spark plans the replace-data / write-delta read
  * before the runtime-filter subquery's matching scan, and only the first
  * instance is runtime-filtered and executed. The write consults it at
  * commit (the COW swap needs the scanned file set; the delta commit only
  * needs it for the PK refusal, which the scan build enforces). */
trait GraftRowLevelScanHolder {
  @volatile private[v2] var scanned: Option[GraftCowScan] = None
}

class GraftRowLevelOperation(table: GraftV2Table,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with GraftRowLevelScanHolder {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevelOperation[$cmd]"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftV2Table.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = table.table
    if (t.primaryKey.isDefined)
      throw new UnsupportedOperationException(
        s"${table.name()} is a primary-key table: $cmd rewrites files, but a " +
          "PK table's update/merge is merge-on-read — use " +
          "StreamTable.updateWhere / mergeInto (cost ∝ matched rows, no " +
          "rewrite); pushable DELETEs commit tombstones natively")
    new GraftCowScanBuilder(this, table)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftCowBatchWrite(GraftRowLevelOperation.this, table, info.schema())
      }
    }
}

class GraftCowScanBuilder(op: GraftRowLevelScanHolder, table: GraftV2Table)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val fullSchema = table.schema()
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  // the SAME pushable alphabet as the plain scan (GraftScan.pushable — one
  // shared definition, so the two can never drift again); the scan uses
  // these for FILE skipping only (see the class note on replacement
  // completeness), so a temporal/IN/prefix/null-presence predicate now
  // narrows an UPDATE/DELETE/MERGE's read-and-rewrite set too
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScan.pushable(fullSchema))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    val kept = fullSchema.filter(f => keep.contains(f.name))
    val meta = requiredSchema.fields.filter(f =>
      GraftV2Table.MetaCols.contains(f.name) && !fullSchema.fieldNames.contains(f.name))
    required = StructType(kept ++ meta)
  }

  override def build(): Scan = {
    val scan = new GraftCowScan(table, required, pushed)
    if (op.scanned.isEmpty) op.scanned = Some(scan)
    scan
  }
}

/** The row-level read: per-file partitions over the live set, file-level
  * pruning only (static footer stats + runtime `_graft_file`/key-set
  * filters), NO row-level predicates in the readers. */
class GraftCowScan(table: GraftV2Table, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  private val nameMap = table.renames
  private val fileRequired: StructType =
    if (nameMap.isEmpty) required
    else StructType(required.map(f => f.copy(name = nameMap.getOrElse(f.name, f.name))))
  private val filePushed: Array[Filter] =
    if (nameMap.isEmpty) pushed else pushed.map(GraftScan.translate(_, nameMap))

  private val allFiles = table.liveFiles
  @volatile private[v2] var kept: Seq[DataFileMeta] =
    if (filePushed.isEmpty) allFiles
    else {
      allFiles.filter { f =>
        val (mins, maxs) = StreamTable.skipStats(f)
        filePushed.forall(FileSkip.keep(_, mins, maxs))
      }
    }

  private[v2] def keptPaths: Seq[String] = kept.map(_.path)
  private[v2] def keptRows: Long = kept.map(_.rowCount).sum

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftCowScan ${table.name()} files=${kept.size}/${allFiles.size} " +
      s"PushedGroupFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.fileSizeInBytes).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptRows)
  }

  override def filterAttributes(): Array[NamedReference] = {
    import org.apache.spark.sql.types._
    val data = required.fields.collect {
      case f if !GraftV2Table.MetaCols.contains(f.name) &&
          Set[DataType](LongType, IntegerType, DoubleType, FloatType, StringType)
          .contains(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }
    // the group-filtering handle: matching rows' distinct _graft_file
    data :+ org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftV2Table.FileCol)
  }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    def litValue(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(l.value() match { case u: UTF8String => u.toString; case v => v })
        case _ => None
      }
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
        case _ => None
      }
    def stats(f: DataFileMeta) = StreamTable.skipStats(f)
    predicates.foreach { p =>
      val perValue: Option[(String, Seq[Any])] = p.name() match {
        case "IN" =>
          val vals = p.children().drop(1).toSeq.map(litValue)
          for (n <- refName(p.children().head) if vals.forall(_.isDefined))
            yield n -> vals.flatten
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
      perValue.foreach {
        case (n, values) if n == GraftV2Table.FileCol && values.nonEmpty =>
          // the group filter itself: keep exactly the named files
          val paths = values.collect { case s: String => s }.toSet
          kept = kept.filter(f => paths.contains(f.path))
        case (n, values) if values.nonEmpty =>
          val fileN = nameMap.getOrElse(n, n)
          kept = kept.filter { f =>
            val (mins, maxs) = stats(f)
            values.exists(v => FileSkip.keep(EqualTo(fileN, v), mins, maxs))
          }
        case _ => ()
      }
    }
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    // pending deletion vectors ride along: a dv'd row must not reach the
    // rewrite (it would resurrect in the replacement file) — the reader
    // suppresses the positions, and commitReplace's conservation check
    // counts LIVE rows on exactly that assumption
    kept.map(f => GraftInputPartition(f.path, f.minSeq,
      GraftScan.dvOf(f)): InputPartition).toArray

  // NO pushed predicates reach the readers: every row of a scanned file
  // must appear in the replacement data (see the class note)
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(fileRequired, Array.empty, limit = None, columnar = false)
}

/** Batch write of the replacement rows: executor parquet writers into the
  * table's staging area, then ONE atomic scanned→staged manifest swap. */
class GraftCowBatchWrite(op: GraftRowLevelOperation, table: GraftV2Table,
    schema0: StructType) extends BatchWrite {

  // renamed columns persist under their FILE-level names (the shared rule)
  private val schema = StructType(schema0.map(f =>
    f.copy(name = table.renames.getOrElse(f.name, f.name))))
  private val writerId = "rlo" + UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // PARTITIONED BY targets split replacement files per partition value
    // (same content-derived labeling as every staged write), so COW DML
    // output keeps the single-valued-file proofs alive
    GraftCowWriterFactory(table.table.root, schema, writerId,
      partPlan = table.table.partitionKeys.getOrElse(Seq.empty)
        .map(c => schema.fieldNames.indexOf(c)).filter(_ >= 0).toArray)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
    val (empty, data) = files.partition(_.stats.rows == 0L)
    empty.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    val scan = op.scanned.getOrElse(throw new IllegalStateException(
      "row-level write committed without a configured scan"))
    table.table.commitReplace(scan.keptPaths.toSet, data.map(_.path).toSeq,
      op.command().toString)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files.map(_.path))
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
}

case class GraftCowWriterFactory(tableRoot: String, schema: StructType,
    writerId: String, partPlan: Array[Int] = Array.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // the shared executor parquet writer (epoch 0 — batch has no epochs;
    // append-table COW output is unbucketed/unstamped maintenance data);
    // taskId disambiguates speculative twins beyond the uuid in the name.
    // captureStats off: commitReplace derives the metas itself, so a
    // writer-side footer open would be thrown away
    new GraftStreamingDataWriter(tableRoot, schema, writerId, 0L, partitionId,
      bucketPlan = None, numBuckets = 0, stamp = None, captureStats = false,
      partPlan = partPlan)
}

// ---------------------------------------------------------------------------
// Delta-based (merge-on-read) row-level operations — `rowlevel.mode = dv`
// ---------------------------------------------------------------------------

/** Native `UPDATE` / `MERGE INTO` / non-pushable `DELETE` on append tables
  * as DELTAS instead of file rewrites — Spark's delta-based row-level
  * operations (SupportsDelta) backed by deletion vectors:
  *
  *  1. the scan is the same [[GraftCowScan]] (file-level pruning only, raw
  *     positions stay exact), additionally serving the `(_graft_file,
  *     _graft_pos)` row id — a stable per-row coordinate because readers
  *     count RAW file offsets (already-deleted positions still advance the
  *     counter, parquet record skipping is disabled under the scan);
  *  2. Spark computes per-row actions: matched rows arrive as
  *     `delete(id)` / `update(id, newRow)`, new rows as `insert(row)` —
  *     executor-parallel, only MATCHING rows flow (non-matching rows of
  *     touched files are never read into the write, unlike COW);
  *  3. each writer task buffers its deleted positions per file and spills
  *     them as ONE fragment sidecar (never through the task-result RPC),
  *     inserts go through the shared executor parquet writers;
  *  4. [[StreamTable.commitDeltaDml]] merges the fragments into per-file
  *     deletion vectors and publishes vectors + insert files in ONE atomic
  *     manifest commit. Cost ∝ matches; readers pay the suppression join
  *     until auto-maintenance materializes the vectors
  *     ([[StreamTable.materializeDeletionVectors]]).
  *
  * The COW/DV trade is the user's `rowlevel.mode` declaration (Paimon's
  * `deletion-vectors.enabled`, Iceberg's `write.update.mode =
  * merge-on-read`): COW optimizes steady-state reads (no suppression),
  * DV optimizes the write (GDPR single-row deletes, trickle updates — the
  * dominant 100 TB compliance shape, where COW rewrites 1 GB files to
  * remove one row). PK tables refuse: their DML is already merge-on-read
  * through LWW tombstones/re-appends. */
class GraftDeltaOperation(table: GraftV2Table,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with GraftRowLevelScanHolder {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftDeltaOperation[$cmd]"

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftV2Table.FileCol),
    org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftV2Table.PosCol))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftV2Table.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = table.table
    if (t.primaryKey.isDefined)
      throw new UnsupportedOperationException(
        s"${table.name()} is a primary-key table: rowlevel.mode=dv records " +
          "positional deletion vectors, which the per-bucket LWW merge " +
          "readers do not consult — PK DML is already merge-on-read (use " +
          "StreamTable.updateWhere / mergeInto, or plain UPSERTs)")
    new GraftCowScanBuilder(this, table)
  }

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(GraftDeltaOperation.this, table,
              info.schema(),
              info.rowIdSchema().orElse(null))
        }
    }
}

/** Per-task commit message: staged insert files (stats captured writer-side
  * is off — the commit derives metas itself, like COW) plus the task's
  * deleted-position fragment sidecar. Positions travel by FILE, never
  * through the task-result RPC: a large delta delete ships one path. */
case class GraftDeltaCommitMessage(files: Seq[StreamTable.StagedSinkFile],
    fragment: Option[String], deleteCount: Long) extends WriterCommitMessage

/** Codec for a task's deleted-position fragment: `[nFiles][per file:
  * pathUTF, count, count longs]`. Deliberately trivial — fragments live
  * only between task commit and the driver's manifest commit. */
object GraftDeltaFragment {
  def write(path: String, deletes: Map[String, Array[Long]]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(p,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)))
    try {
      out.writeInt(deletes.size)
      deletes.toSeq.sortBy(_._1).foreach { case (file, positions) =>
        out.writeUTF(file)
        out.writeInt(positions.length)
        positions.foreach(out.writeLong)
      }
    } finally out.close()
  }

  def read(path: String): Map[String, Array[Long]] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))))
    try {
      (0 until in.readInt()).map { _ =>
        val file = in.readUTF()
        file -> Array.fill(in.readInt())(in.readLong())
      }.toMap
    } finally in.close()
  }
}

class GraftDeltaBatchWrite(op: GraftDeltaOperation, table: GraftV2Table,
    rowSchema0: StructType, rowIdSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  // renamed columns persist under their FILE-level names (the shared rule)
  private val rowSchema = StructType(rowSchema0.map(f =>
    f.copy(name = table.renames.getOrElse(f.name, f.name))))
  private val writerId = "dml" + UUID.randomUUID().toString.take(8)
  // task fragments live under ONE statement-scoped dir (GraftDeltaWriter's
  // sidecar path) so commit/abort can reclaim orphans with one deleteTree
  private val fragmentDir = s"${table.table.root}/.staging-dvfrag-$writerId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    GraftDeltaWriterFactory(table.table.root, rowSchema, rowIdSchema, writerId,
      partPlan = table.table.partitionKeys.getOrElse(Seq.empty)
        .map(c => rowSchema.fieldNames.indexOf(c)).filter(_ >= 0).toArray)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val (empty, data) = msgs.flatMap(_.files).partition(_.stats.rows == 0L)
    empty.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    val fragments = msgs.flatMap(_.fragment)
    // merge per-task fragments per file; tasks never share a row (each row
    // is delivered to exactly one committed task), so plain concatenation
    // is exact and duplicates are a loud failure inside commitDeltaDml
    val deletes: Map[String, Array[Long]] = fragments
      .flatMap(GraftDeltaFragment.read(_).toSeq)
      .groupBy(_._1)
      .map { case (file, parts) => file -> parts.flatMap(_._2).toArray }
    try table.table.commitDeltaDml(deletes, data.map(_.path).toSeq,
      op.command().toString)
    finally {
      // drop the WHOLE fragment staging dir, not just the referenced
      // fragments: a task whose commit message never reached the driver
      // (speculative duplicate, executor loss after fragment write) left a
      // file no message points at — per-path deletes would leak it forever
      StreamTable.deleteTree(java.nio.file.Paths.get(fragmentDir))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftDeltaCommitMessage => m }.foreach { m =>
      m.files.foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    }
    StreamTable.deleteTree(java.nio.file.Paths.get(fragmentDir))
  }
}

case class GraftDeltaWriterFactory(tableRoot: String, rowSchema: StructType,
    rowIdSchema: StructType, writerId: String,
    partPlan: Array[Int] = Array.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(tableRoot, rowSchema, rowIdSchema, writerId,
      partitionId, taskId, partPlan)
}

/** One task's delta writer: inserts ride the shared executor parquet
  * writer; deletes buffer per file (8 bytes per match) and spill as one
  * fragment sidecar at commit. `update` is delete-old + insert-new — the
  * positional-DV representation of an in-place change. */
class GraftDeltaWriter(tableRoot: String, rowSchema: StructType,
    rowIdSchema: StructType, writerId: String, partitionId: Int, taskId: Long,
    partPlan: Array[Int] = Array.empty)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  // row-id projection indices resolved by NAME against the id schema Spark
  // declared — never by assumed position
  private val (fileIdx, posIdx) = {
    require(rowIdSchema != null,
      "delta write without a rowId schema (Spark should always pass one)")
    (rowIdSchema.fieldIndex(GraftV2Table.FileCol),
      rowIdSchema.fieldIndex(GraftV2Table.PosCol))
  }

  private val deletes =
    scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private var inserter: GraftStreamingDataWriter = _

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    deletes.getOrElseUpdate(file, scala.collection.mutable.ArrayBuffer.empty[Long]) +=
      id.getLong(posIdx)
  }

  override def insert(row: InternalRow): Unit = {
    if (inserter == null)
      // insert images split per partition value like every staged write,
      // so delta-DML insert files keep the partition proofs alive
      inserter = new GraftStreamingDataWriter(tableRoot, rowSchema, writerId,
        0L, partitionId, bucketPlan = None, numBuckets = 0, stamp = None,
        captureStats = false, partPlan = partPlan)
    inserter.write(row)
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def reinsert(meta: InternalRow, row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    val files = if (inserter == null) Seq.empty else
      inserter.commit() match {
        case m: GraftSinkCommitMessage => m.files
        case other => throw new IllegalStateException(
          s"unexpected inserter commit message: $other")
      }
    val nDeletes = deletes.valuesIterator.map(_.length.toLong).sum
    val fragment =
      if (deletes.isEmpty) None
      else {
        val p = s"$tableRoot/.staging-dvfrag-$writerId/" +
          s"frag-p$partitionId-t$taskId.bin"
        GraftDeltaFragment.write(p,
          deletes.view.mapValues(_.toArray).toMap)
        Some(p)
      }
    GraftDeltaCommitMessage(files, fragment, nDeletes)
  }

  override def abort(): Unit = if (inserter != null) inserter.abort()

  override def close(): Unit = if (inserter != null) inserter.close()
}

// ---------------------------------------------------------------------------
// PK-table row-level operations — merge-on-read upserts/tombstones
// ---------------------------------------------------------------------------

/** Native `UPDATE` / `MERGE INTO` / non-pushable `DELETE` on PRIMARY-KEY
  * tables: Spark's delta-based row-level operations expressed in the PK
  * table's own merge-on-read alphabet — no deletion vectors, no rewrites:
  *
  *  - the scan is the table's ordinary resolved view (per-bucket LWW merge
  *    inside the readers), and the row id is the PRIMARY KEY itself
  *    (+ the sequence field when declared, so a delete carries the live
  *    row's sequence — [[StreamTable.deleteBatch]]'s delete-current rule);
  *  - matched DELETEs become tombstone rows (key + sequence +
  *    `__graft_tomb`), matched UPDATEs re-append the updated image (it
  *    keeps its sequence value; the later commit batch breaks the tie —
  *    exactly [[StreamTable.mergeInto]]'s contract), not-matched INSERTs
  *    append plain images. A key-reassigning UPDATE splits into tombstone
  *    + image, so the old key never survives;
  *  - writer tasks stage the unified (fields + tombstone marker) rows as
  *    plain parquet, and the driver commits them through ONE
  *    [[StreamTable.appendBatch]] — the same single-commit shape as
  *    `mergeInto`, so bucketing, sequence stamping, LWW resolution AND
  *    changelog production all ride the proven path. PK DML is therefore
  *    fully observable on the streaming/CDC surfaces (level-0 commits),
  *    unlike append-table DML.
  *
  * Cost ∝ matched + inserted rows, never table size. Restricted to
  * `merge-engine = deduplicate` (aggregation/partial-update/first-row
  * engines cannot express an UPDATE as a re-appended image — the same
  * refusal as the library door). A target row matched by multiple MERGE
  * source rows commits all its images into one batch and resolves by
  * (sequence, commit) like any same-batch collision — use the library
  * [[StreamTable.mergeInto]] for the strict ANSI duplicate-match error. */
class GraftPkDeltaOperation(table: GraftV2Table,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  private val t = table.table
  // stored (file-level) → declared names: rowId/metadata references resolve
  // against the relation output, which speaks DECLARED names
  private val declaredOf: Map[String, String] =
    table.renames.map(_.swap)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftPkDeltaOperation[$cmd]"

  // the PRIMARY KEY is the row id (surfaced NOT NULL by the schema — the
  // Paimon contract); the sequence field rides as a required metadata
  // attribute instead, because it is legitimately nullable and a DELETE
  // needs the live row's sequence for the delete-current tombstone rule
  override def rowId(): Array[NamedReference] =
    t.primaryKey.get.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .column(declaredOf.getOrElse(c, c))).toArray

  override def requiredMetadataAttributes(): Array[NamedReference] =
    t.seqCol.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .column(declaredOf.getOrElse(c, c))).toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(t.mergeEngine == "deduplicate" && t.aggSpec.isEmpty,
      s"merge-engine=${if (t.aggSpec.isDefined) "aggregation" else t.mergeEngine} " +
        s"cannot express $cmd as re-appended images (no retract support) — " +
        "append upserts instead")
    table.newScanBuilder(options) // the resolved merge-on-read view
  }

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftPkDeltaBatchWrite(table, info.schema(),
              info.rowIdSchema().orElse(null),
              info.metadataSchema().orElse(null))
        }
    }
}

class GraftPkDeltaBatchWrite(table: GraftV2Table, rowSchema0: StructType,
    rowIdSchema: StructType, metaSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val t = table.table
  // The staged layout: the command's data columns (empty for a pure
  // DELETE), then any rowId/metadata fields not already among them — a
  // DELETE's tombstones need key + sequence columns even though Spark's
  // write schema carries no data columns. Persisted under FILE-level names
  // (the shared rename rule) plus the tombstone marker appendBatch already
  // understands.
  private val baseFields: Seq[org.apache.spark.sql.types.StructField] = {
    val fromRow = rowSchema0.fields.toSeq
    val n1 = fromRow.map(_.name).toSet
    val fromId =
      if (rowIdSchema == null) Seq.empty
      else rowIdSchema.fields.toSeq.filterNot(f => n1(f.name))
    val n2 = n1 ++ fromId.map(_.name)
    val fromMeta =
      if (metaSchema == null) Seq.empty
      else metaSchema.fields.toSeq.filterNot(f => n2(f.name))
    fromRow ++ fromId ++ fromMeta
  }
  private val stagedSchema = StructType(
    baseFields.map(f => f.copy(name = table.renames.getOrElse(f.name, f.name),
      nullable = true)) :+
      org.apache.spark.sql.types.StructField(StreamTable.TombstoneColName,
        org.apache.spark.sql.types.BooleanType, nullable = false))
  // positions within the STAGED layout (its leading fields are exactly the
  // row schema, so image writes copy positionally)
  private def stagedPos(declared: String): Int =
    baseFields.indexWhere(_.name == declared)
  private val idPos: Array[Int] =
    if (rowIdSchema == null) Array.empty
    else rowIdSchema.fieldNames.map(stagedPos)
  // the sequence field: its slot in the staged layout and in the metadata
  // projection (a DELETE's tombstone carries the live row's sequence)
  private val declaredSeq: Option[String] = {
    val declaredOf = table.renames.map(_.swap)
    t.seqCol.map(c => declaredOf.getOrElse(c, c))
  }
  private val seqRowPos: Int = declaredSeq.map(stagedPos).getOrElse(-1)
  private val seqMetaPos: Int =
    declaredSeq.filter(_ => metaSchema != null)
      .map(metaSchema.fieldIndex).getOrElse(-1)
  private val writerId = "pkdml" + UUID.randomUUID().toString.take(8)
  private val stagingDir = s"${t.root}/.staging-pkdml-$writerId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    GraftPkDeltaWriterFactory(stagingDir, stagedSchema,
      if (rowIdSchema == null) StructType(Nil) else rowIdSchema, idPos,
      if (metaSchema == null) StructType(Nil) else metaSchema,
      seqRowPos, seqMetaPos, rowSchema0.length, writerId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
    val (empty, data) = files.partition(_.stats.rows == 0L)
    empty.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    try {
      if (data.nonEmpty) {
        val spark = table.spark // the table's own session, not the active one
        // the shared writer names files ".sink-*", which Spark's reader
        // treats as hidden — surface them before the read-back
        val visible = data.map(_.path).toSeq.map { p =>
          val src = java.nio.file.Paths.get(p)
          val dst = src.resolveSibling(src.getFileName.toString.stripPrefix("."))
          java.nio.file.Files.move(src, dst,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          dst.toString
        }
        // ONE appendBatch: upsert images + tombstones land in a single
        // level-0 commit — LWW supersedes old versions, changelog streams.
        // The (nextBatch, appendBatch) pair serializes per table root
        // WITHIN this JVM: two concurrent DML statements would otherwise
        // compute the same batch id and appendBatch's replay guard would
        // silently drop the loser. Cross-driver concurrency keeps the
        // library doors' single-logical-writer contract.
        val df = spark.read.schema(StreamTable.pathSchema(spark,
          visible.map(p => (p, java.nio.file.Files.size(java.nio.file.Paths.get(p)), 0L))))
          .parquet(visible: _*)
        GraftPkDeltaBatchWrite.dmlLock
          .computeIfAbsent(t.root, _ => new Object).synchronized {
            t.appendBatch(df,
              t.latestSnapshot.map(s => math.max(s.batchId, -1L) + 1).getOrElse(0L))
          }
      }
    } finally StreamTable.deleteTree(java.nio.file.Paths.get(stagingDir))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files.map(_.path))
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    StreamTable.deleteTree(java.nio.file.Paths.get(stagingDir))
  }
}

object GraftPkDeltaBatchWrite {
  /** Per-root commit serialization for same-JVM concurrent DML. */
  private[v2] val dmlLock =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}

case class GraftPkDeltaWriterFactory(stagingDir: String,
    stagedSchema: StructType, rowIdSchema: StructType, idPos: Array[Int],
    metaSchema: StructType, seqRowPos: Int, seqMetaPos: Int, imageLen: Int,
    writerId: String)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftPkDeltaWriter(stagingDir, stagedSchema, rowIdSchema, idPos,
      metaSchema, seqRowPos, seqMetaPos, imageLen, writerId, partitionId)
}

/** One task's PK delta writer: every action becomes a staged unified row —
  * image (tomb=false) or tombstone (key + live sequence, tomb=true) —
  * through the shared executor parquet writer pointed at the staging dir. */
class GraftPkDeltaWriter(stagingDir: String, stagedSchema: StructType,
    rowIdSchema: StructType, idPos: Array[Int], metaSchema: StructType,
    seqRowPos: Int, seqMetaPos: Int, imageLen: Int, writerId: String,
    partitionId: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val w = new GraftStreamingDataWriter(stagingDir, stagedSchema,
    writerId, 0L, partitionId, bucketPlan = None, numBuckets = 0,
    stamp = None, captureStats = false)
  private val n = stagedSchema.length
  private val tombIdx = n - 1

  private def unified(row: InternalRow, tomb: Boolean): InternalRow = {
    val vals = new Array[Any](n)
    // the staged layout's leading imageLen fields ARE the row schema
    var i = 0
    while (i < imageLen) {
      vals(i) =
        if (row.isNullAt(i)) null else row.get(i, stagedSchema(i).dataType)
      i += 1
    }
    vals(tombIdx) = tomb
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  override def insert(row: InternalRow): Unit = w.write(unified(row, tomb = false))

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val vals = new Array[Any](n) // non-key payload stays null on a tombstone
    var j = 0
    while (j < idPos.length) {
      vals(idPos(j)) =
        if (id.isNullAt(j)) null else id.get(j, rowIdSchema(j).dataType)
      j += 1
    }
    // delete-current: the tombstone carries the LIVE row's sequence (from
    // the metadata projection), so it beats the current version but loses
    // to any future row with a larger sequence — deleteBatch's rule
    if (seqRowPos >= 0 && seqMetaPos >= 0 && !meta.isNullAt(seqMetaPos))
      vals(seqRowPos) = meta.get(seqMetaPos, metaSchema(seqMetaPos).dataType)
    vals(tombIdx) = true
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // a key-reassigning UPDATE must kill the OLD key, not just append the
    // new image — compare the id's key fields to the image's
    var changed = false
    var j = 0
    while (j < idPos.length && !changed) {
      val p = idPos(j)
      val dt = rowIdSchema(j).dataType
      val a = if (id.isNullAt(j)) null else id.get(j, dt)
      val b = if (row.isNullAt(p)) null else row.get(p, dt)
      changed = if (a == null) b != null else a != b
      j += 1
    }
    if (changed) delete(meta, id)
    insert(row)
  }

  override def reinsert(meta: InternalRow, row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = w.commit()

  override def abort(): Unit = w.abort()

  override def close(): Unit = w.close()
}

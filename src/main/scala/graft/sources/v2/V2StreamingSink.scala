package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.table.StreamTable

/** Native V2 streaming sink: `df.writeStream.format("graft")` /
  * `.toTable("cat.db.t")` — the write-side dual of the snapshot-offset
  * streaming source, completing the stream–batch duality natively:
  *
  *  - executors write their partitions as parquet files into the table's
  *    staging area ([[GraftStreamingDataWriter]], through Spark's own
  *    parquet row writer). On a BUCKETED table each writer computes
  *    every row's bucket (`pmod(murmur3(key), n)`, the
  *    [[GraftBucketFunction]] layout) and writes one file per bucket it
  *    sees, so committed files carry content-derived bucket ids — the PK
  *    per-bucket merge, SPJ, and point-lookup pruning all survive a
  *    sink-fed table without waiting for compaction. The write also
  *    REQUESTS clustering by the bucket key
  *    ([[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]],
  *    best-effort): when Spark honors it each task sees one bucket and
  *    writes one file; when it cannot, the per-row split still labels
  *    correctly — correctness never depends on plan shape.
  *  - ONLY files named in committed task messages reach the driver commit
  *    (a retried task's orphan file is never referenced and is abandoned in
  *    staging), which moves them into the append dir and publishes ONE
  *    snapshot per epoch ([[StreamTable.commitExternalFiles]]);
  *  - exactly-once across restarts via PER-WRITER replay evidence in
  *    [[StreamTable.commitExternalFiles]]: each committed snapshot records
  *    (writer, writerEpoch), and a best-effort `_writers/<id>` high-water
  *    file survives even snapshot retention — a restarted checkpoint
  *    replaying an epoch finds its own evidence and skips, while a fresh
  *    checkpoint (new queryId ⇒ new writer id) can never collide with
  *    another writer's committed epochs. A global batch-id watermark could
  *    NOT serve here: any other writer advancing it would make a first-time
  *    epoch look replayed.
  *  - PRIMARY-KEY targets upsert: the writer stamps every row's
  *    `__graft_seq` with `offset + epochId`, where the offset is claimed
  *    once per writer (`_writers/<id>.offset`, max(table batch)+1 at first
  *    contact) — exactly [[StreamTable.writeStream]]'s writer-epoch offset,
  *    so LWW ordering interleaves correctly with prior DataFrame-written
  *    history and epoch replays re-stamp identically. Single logical
  *    writer at a time, the same contract every stamped write path carries.
  *  - PK sink files write as SORTED RUNS, the layout every PK reader
  *    requires: the write REQUIRES per-task ordering by the primary key
  *    (Spark plans a spillable SortExec before the writers — never task
  *    memory), and the writer CHECKS each per-bucket file's keys arrive
  *    non-decreasing under the merge's own comparator ([[PkMerge.cmpAny]],
  *    Spark's sort order for every key type the sink accepts). A key
  *    inversion fails the task — a plan that ignored the ordering must
  *    never commit an unsorted run.
  */
class GraftStreamingWrite(table: StreamTable, schema: StructType,
    queryId: String) extends StreamingWrite {

  GraftStreamingWrite.requireWritable(schema) // fail at planning, not in tasks
  table.primaryKey.foreach { pk =>
    require(pk.forall(schema.fieldNames.contains),
      s"PK sink target needs every key column in the stream schema: $pk")
  }

  /** Filesystem-safe writer identity: the streaming queryId (stable across
    * restarts of the same checkpoint, fresh for a new one). */
  private val writerId = "q" + queryId.replaceAll("[^A-Za-z0-9._-]", "")

  /** PK stamping offset (see class doc); None for append targets. */
  private val stampOffset: Option[Long] =
    if (table.primaryKey.isEmpty) None
    else Some {
      val dir = java.nio.file.Paths.get(table.root, "_writers")
      java.nio.file.Files.createDirectories(dir)
      val f = dir.resolve(s"$writerId.offset")
      if (java.nio.file.Files.exists(f))
        new String(java.nio.file.Files.readAllBytes(f)).trim.toLong
      else {
        val off = math.max(
          table.latestSnapshot.map(_.batchId + 1).getOrElse(0L), 0L)
        try java.nio.file.Files.write(f, off.toString.getBytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        new String(java.nio.file.Files.readAllBytes(f)).trim.toLong
      }
    }

  // dynamic bucket mode: the sink's executor-side writers stamp labels under
  // a count captured at PLAN time and cannot follow a split commit
  // mid-stream — the library pipe (StreamTable.writeStream → appendBatch)
  // re-reads the count every batch and owns the inline split, so it is the
  // supported streaming door for dynamic tables (the last_non_null_value
  // posture: refuse loudly, point at the door that serves the semantics)
  require(!table.isDynamicBucket,
    s"${table.root} is a dynamic-bucket table (bucket = -1): the native V2 " +
      "streaming sink cannot follow bucket splits mid-stream — write through " +
      "StreamTable.writeStream / GraftCatalog.writeStreamManaged")

  /** Per-row bucket computation when the layout supports it (bucketed table,
    * key projected, bucketable type): (key column index, key is long). */
  private val bucketPlan: Option[(Int, Boolean)] =
    table.bucketKey.flatMap { k =>
      val i = schema.fieldNames.indexOf(k)
      if (i < 0) None
      else schema(i).dataType match {
        case LongType => Some((i, true))
        case IntegerType => Some((i, false))
        case _ => None
      }
    }

  /** PARTITIONED BY: the partition keys' column indices. Each task writer
    * splits its rows into one file PER PARTITION VALUE it sees (the same
    * content-derived labeling `writeClustered` gives batch writes), so every
    * sink-fed file stays SINGLE-VALUED in every partition key — exact
    * pruning and PARTITION overwrite proofs hold on streamed tables too.
    * Mandatory (unlike the best-effort bucket split): a mixed file would
    * poison the partition proofs, so a missing key column refuses at plan
    * time. */
  private val partPlan: Array[Int] = GraftStreamingWrite.partPlanOf(table, schema)

  private val pkVerify: Option[Array[Int]] = GraftStreamingWrite.pkPlanOf(table, schema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamingWriterFactory(table.root, schema, writerId,
      bucketPlan, table.numBuckets, stampOffset, pkVerify, partPlan)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
    val (empty, data) = files.partition(_.stats.rows == 0L)
    // a no-row file never enters the manifest (a trickle stream would
    // otherwise accrue parallelism-many empty files per epoch)
    empty.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    if (data.nonEmpty)
      table.commitExternalFiles(data.toSeq,
        writerId, epochId, stampedSeq = stampOffset.map(_ + epochId))
    // at COMMIT time sweep strictly-older epochs only: a zombie/speculative
    // task of the CURRENT epoch may still be writing its (never-referenced)
    // twin, and deleting the file under it turns a harmless orphan into
    // spurious task-failure noise — the next epoch's sweep reclaims it
    sweepOrphans(epochId - 1)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
      .foreach(f => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    // the epoch is dead — every surviving task was aborted, so the current
    // epoch's files are sweepable too
    sweepOrphans(epochId)
  }

  // NOTE: the best-effort clustering request (shuffle the micro-batch by
  // the bucket key into numBuckets tasks — one file per bucket per epoch)
  // lives on the WRITE, the object Spark actually consults:
  // RequiresDistributionAndOrdering in GraftDataSource's WriteBuilder.
  // Correctness never depends on it — the per-row bucket split below keeps
  // labels right whatever shape the plan takes.

  /** Delete THIS writer's staging leftovers for epochs at or before
    * `upToEpoch`: a task that died before sending its commit message (lost
    * executor, speculation) leaves a file no commit or abort ever
    * references — without this sweep the table root leaks disk forever.
    * Committed files were MOVED out of staging, so everything still matching
    * our prefix at ≤ upToEpoch is an orphan; other writers' files (different
    * writer id in the name) are untouched. */
  private def sweepOrphans(upToEpoch: Long): Unit = {
    val Re = s"\\.sink-${java.util.regex.Pattern.quote(writerId)}-e(\\d+)-.*".r
    StreamTable.listDir(java.nio.file.Paths.get(table.root)).foreach { p =>
      p.getFileName.toString match {
        case Re(e) if e.toLong <= upToEpoch => java.nio.file.Files.deleteIfExists(p)
        case _ => ()
      }
    }
  }
}

object GraftStreamingWrite {
  /** PK column indices for the writer's sorted-run check (PK targets only;
    * every key type the sink writes has a [[PkMerge.cmpAny]] order). */
  private[v2] def pkPlanOf(table: StreamTable, schema: StructType): Option[Array[Int]] =
    table.primaryKey.map(_.map(c => schema.fieldNames.indexOf(c)).toArray)

  /** Partition-key column indices for a task-side per-partition file split.
    * Mandatory for PARTITIONED BY targets (a mixed file would poison the
    * partition proofs), so a missing key column refuses at plan time —
    * as does a BINARY partition key: its routing rendering is
    * identity-based, which would mint one file per ROW (value-rendered
    * types split per value; batch writes refuse binary partition columns
    * through Spark's own partitionBy validation). */
  private[v2] def partPlanOf(table: StreamTable, schema: StructType): Array[Int] =
    table.partitionKeys match {
      case Some(pks) =>
        require(pks.forall(schema.fieldNames.contains),
          s"PARTITIONED BY target needs every partition column in the " +
            s"written schema: $pks")
        val idxs = pks.map(c => schema.fieldNames.indexOf(c)).toArray
        idxs.foreach(i => require(schema(i).dataType != BinaryType,
          s"binary partition key '${schema(i).name}' is unsupported " +
            "(no value-based file routing)"))
        idxs
      case None => Array.empty
    }

  /** Refuse, at planning, a column type Spark's parquet writer cannot
    * write (the writer tasks would fail on it). */
  private[v2] def requireWritable(schema: StructType): Unit = {
    val format = new ParquetFileFormat()
    schema.fields.foreach { f =>
      if (!format.supportDataType(f.dataType))
        throw new UnsupportedOperationException(
          s"graft streaming sink: unsupported type ${f.dataType} for column ${f.name}")
    }
  }

  /** The schema a writer task writes: every field nullable (OPTIONAL in
    * parquet, as every graft write), plus the engine's commit-sequence
    * column when `stamp` (PK targets). */
  private[v2] def fileSchema(schema: StructType, stamp: Boolean): StructType = {
    val all = org.apache.spark.sql.graft.SchemaMerge.asNullable(schema)
    if (stamp) all.add(StreamTable.SeqColName, LongType) else all
  }
}

/** A parquet writer of [[InternalRow]]s through Spark's own
  * [[ParquetWriteSupport]] — the row layout Spark's file writer gives
  * every type it supports. */
private class InternalRowParquetBuilder(file: OutputFile)
    extends ParquetWriter.Builder[InternalRow, InternalRowParquetBuilder](file) {
  override def self(): InternalRowParquetBuilder = this
  override def getWriteSupport(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new ParquetWriteSupport()
}

/** One task's committed files: path + layout labels + the column stats the
  * task captured from the footer it just wrote ([[StreamTable.StagedSinkFile]])
  * — the driver commit builds manifest entries with zero footer opens. */
case class GraftSinkCommitMessage(files: Seq[StreamTable.StagedSinkFile])
    extends WriterCommitMessage

/** DYNAMIC partition overwrite as a native distributed [[BatchWrite]] (the
  * one V2 write shape Spark gives no V1 fallback): executor-side
  * [[GraftStreamingDataWriter]]s write the staged rows split per (partition
  * tuple, bucket) — every staged file single-valued in every partition key,
  * stats captured task-side — then ONE driver commit derives the replaced
  * partitions from the staged files' stats and atomically swaps exactly
  * those partitions' live files
  * ([[StreamTable.commitExternalPartitionOverwrite]]). Untouched partitions
  * survive byte-identical; rows stamp the fresh batch sequence like every
  * batch write (the stamped-history invariant holds).
  *
  * Tuple equality across files is EXACT: one stringifier renders every graft
  * write's stats, so "the staged rows' partitions" and "a live file's
  * partition" meet on identical rendered strings. A live file that cannot
  * prove its tuple (row-level-DML output is not partition-clustered)
  * refuses loudly — compact first; an approximate replacement set would
  * silently drop or keep foreign rows. */
class GraftDynOverwriteBatchWrite(table: StreamTable, schema: StructType,
    tableName: String, truncateAll: Boolean = false)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  private val pks: Seq[String] =
    if (truncateAll) Seq.empty
    else table.partitionKeys.getOrElse(
      throw new UnsupportedOperationException(
        s"$tableName: dynamic overwrite needs a PARTITIONED BY table"))

  private val writerId = "dynow" + UUID.randomUUID().toString.take(8)
  /** The overwrite's batch sequence, claimed at plan time (same posture as
    * the V1 bridge's `next`): rows are stamped with it so the table's
    * stamped-history invariant and `_graft_seq` provenance hold. */
  private val next: Long =
    math.max(table.latestSnapshot.map(_.batchId + 1).getOrElse(0L), 0L)

  private val partPlan: Array[Int] =
    GraftStreamingWrite.partPlanOf(table, schema)
  private val pkVerify = GraftStreamingWrite.pkPlanOf(table, schema)
  private val bucketPlan: Option[(Int, Boolean)] =
    table.bucketKey.flatMap { k =>
      val i = schema.fieldNames.indexOf(k)
      if (i < 0) None
      else schema(i).dataType match {
        case LongType => Some((i, true))
        case IntegerType => Some((i, false))
        case _ => None
      }
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    GraftDynOverwriteWriterFactory(table.root, schema, writerId,
      bucketPlan, table.numBuckets, next, partPlan, pkVerify)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
    val (empty, data) = files.partition(_.stats.rows == 0L)
    empty.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    if (truncateAll) {
      // overwritePartitions() on an UNPARTITIONED table: the staged rows
      // are "the whole table" (Paimon's posture) — one atomic
      // truncate-overwrite, no partition proofs involved
      table.commitExternalPartitionOverwrite(data.toSeq,
        removedOf = identity, validateStaged = _ => (), batchId = next,
        truncateAll = true)
      return
    }
    // a file's partition tuple, per key: Some(None) = the NULL partition,
    // Some(Some(v)) = rendered value v, None = unprovable
    def tupleOf(f: graft.table.DataFileMeta): Option[Seq[Option[String]]] = {
      val (mins, maxs) = StreamTable.skipStats(f)
      def nullCount(c: String): Option[Long] =
        f.nullStats.flatMap(_.get(c)).flatMap(_.toLongOption)
      val comps = pks.map { c =>
        if (f.fileCols.exists(!_.contains(c))) Some(None)
        else if (nullCount(c).contains(f.rowCount)) Some(None)
        else if (nullCount(c).contains(0L) &&
            !f.badStats.exists(_.contains(c)) &&
            mins.get(c).exists(maxs.get(c).contains))
          Some(Some(mins(c)))
        else None
      }
      if (comps.exists(_.isEmpty)) None else Some(comps.map(_.get))
    }
    @volatile var stagedTuples: Set[Seq[Option[String]]] = Set.empty
    table.commitExternalPartitionOverwrite(data.toSeq,
      removedOf = live => live.filter { f =>
        tupleOf(f) match {
          case Some(t) => stagedTuples.contains(t)
          case None => throw new IllegalStateException(
            s"$tableName: ${f.path} is not provably single-valued in every " +
              "partition key — dynamic overwrite needs partition-clustered " +
              "files (run CALL sys.compact first)")
        }
      },
      validateStaged = ms => stagedTuples = ms.map(m =>
        tupleOf(m).getOrElse(throw new IllegalStateException(
          s"$tableName: staged file ${m.path} is not single-valued in every " +
            "partition key — cannot define the dynamic replacement set"))).toSet,
      batchId = next)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftSinkCommitMessage => m }
      .flatMap(_.files)
      .foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
}

case class GraftDynOverwriteWriterFactory(tableRoot: String,
    schema: StructType, writerId: String, bucketPlan: Option[(Int, Boolean)],
    numBuckets: Int, stamp: Long, partPlan: Array[Int],
    pkVerify: Option[Array[Int]])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftStreamingDataWriter(tableRoot, schema, writerId, 0L,
      partitionId, bucketPlan, numBuckets, Some(stamp), pkVerify,
      partPlan = partPlan)
}

case class GraftStreamingWriterFactory(tableRoot: String, schema: StructType,
    writerId: String, bucketPlan: Option[(Int, Boolean)], numBuckets: Int,
    stampOffset: Option[Long], pkVerify: Option[Array[Int]],
    partPlan: Array[Int] = Array.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GraftStreamingDataWriter(tableRoot, schema, writerId, epochId,
      partitionId, bucketPlan, numBuckets, stampOffset.map(_ + epochId),
      pkVerify, partPlan = partPlan)
}

/** Executor-side parquet writer for one (epoch, partition) slice — one FILE
  * per bucket the slice contains (content-derived labels; normally a single
  * bucket when the requested clustering held). Files stay in staging until
  * this task's commit message reaches the driver — speculative/retried
  * twins are simply never referenced. `stamp` = the commit-sequence value
  * every row carries on PK targets. */
class GraftStreamingDataWriter(tableRoot: String, schema: StructType,
    writerId: String, epochId: Long, partitionId: Int,
    bucketPlan: Option[(Int, Boolean)], numBuckets: Int, stamp: Option[Long],
    pkVerify: Option[Array[Int]] = None,
    /** False for consumers that re-derive metas themselves (the COW
      * row-level commit goes through commitReplace's own capture) — the
      * footer is then not opened here just to be thrown away. */
    captureStats: Boolean = true,
    /** Partition-key column indices (PARTITIONED BY targets): rows split
      * into one file per (bucket, partition tuple) this task sees, keeping
      * every committed file single-valued in every partition key. */
    partPlan: Array[Int] = Array.empty)
    extends DataWriter[InternalRow] {

  // this writer's copy of the one loaded base (StreamTable.hadoopConf),
  // with every SQL key the write support reads pinned on the copy rather
  // than inherited from the session (as GraftVectorReader pins its read
  // keys): the non-legacy layout, TIMESTAMP as INT64 MICROS (the layout
  // StreamTable.withMicrosTimestamps gives appendBatch), no field ids
  private val conf = StreamTable.hadoopConf()
  ParquetWriteSupport.setSchema(
    GraftStreamingWrite.fileSchema(schema, stamp.isDefined), conf)
  conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
  conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
  conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
  conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")

  /** `__graft_seq`, appended to every row of a stamped write. */
  private val stampRow: Option[JoinedRow] =
    stamp.map(s => new JoinedRow(null, new GenericInternalRow(Array[Any](s))))

  private final class Sink(val bucket: Option[Int]) {
    val path = new org.apache.hadoop.fs.Path(
      s"$tableRoot/.sink-$writerId-e$epochId-p$partitionId-b${bucket.getOrElse(-1)}-${UUID.randomUUID().toString.take(8)}.parquet")
    val writer = new InternalRowParquetBuilder(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    var rows = 0L
    // the previous row's key (PK targets): the sorted-run check
    var lastKey: Array[Any] = _
  }

  // (bucket id, partition tuple) → open file: at most numBuckets ×
  // |partition values seen| entries; a clustered epoch opens exactly one
  // per (bucket, partition) this task was routed
  private val sinks = scala.collection.mutable.Map.empty[(Int, String), Sink]

  /** The row's partition tuple as an injective map key ('\\u0001'-delimited,
    * '\\u0000' = SQL NULL — neither occurs in a rendered primitive). The
    * rendering only routes rows to files; the files carry the real columns,
    * so manifest stats (not this string) remain the pruning authority. */
  private def partKeyOf(row: InternalRow): String =
    if (partPlan.isEmpty) ""
    else {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < partPlan.length) {
        val i = partPlan(j)
        if (j > 0) sb.append('\u0001')
        if (row.isNullAt(i)) sb.append('\u0000')
        else sb.append(row.get(i, schema(i).dataType).toString)
        j += 1
      }
      sb.toString
    }

  private def bucketOf(row: InternalRow): Int = bucketPlan match {
    case Some((i, isLong)) =>
      val h =
        if (row.isNullAt(i)) 42
        else if (isLong)
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(row.getLong(i), 42)
        else
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(row.getInt(i), 42)
      ((h % numBuckets) + numBuckets) % numBuckets
    case None => -1
  }

  /** The row's primary-key values, copied out of the (reused) InternalRow
    * buffer into the boxed forms [[PkMerge.cmpAny]] compares. */
  private def keyOf(row: InternalRow, idxs: Array[Int]): Array[Any] = {
    val k = new Array[Any](idxs.length)
    var j = 0
    while (j < idxs.length) {
      val i = idxs(j)
      k(j) =
        if (row.isNullAt(i)) null
        else schema(i).dataType match {
          case StringType => row.getUTF8String(i).clone()
          case LongType | TimestampType | TimestampNTZType =>
            java.lang.Long.valueOf(row.getLong(i))
          case IntegerType | DateType => java.lang.Integer.valueOf(row.getInt(i))
          case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
          case FloatType => java.lang.Float.valueOf(row.getFloat(i))
          case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
          case BinaryType => row.getBinary(i).clone()
          case dt => throw new IllegalStateException(s"unverifiable pk type $dt")
        }
      j += 1
    }
    k
  }

  private def keyLeq(a: Array[Any], b: Array[Any]): Boolean = {
    var j = 0
    while (j < a.length) {
      val c = PkMerge.cmpAny(a(j), b(j))
      if (c < 0) return true
      if (c > 0) return false
      j += 1
    }
    true
  }

  override def write(row: InternalRow): Unit = {
    val b = bucketOf(row)
    val sink = sinks.getOrElseUpdate((b, partKeyOf(row)),
      new Sink(if (bucketPlan.isDefined) Some(b) else None))
    pkVerify.foreach { idxs =>
      val k = keyOf(row, idxs)
      if (sink.lastKey != null && !keyLeq(sink.lastKey, k))
        throw new IllegalStateException(
          s"primary-key rows reached ${sink.path.getName} out of key order " +
            "(the write's required ordering was not applied): a PK data " +
            "file must be a sorted run")
      sink.lastKey = k
    }
    sink.writer.write(stampRow.fold(row)(_.withLeft(row)))
    sink.rows += 1
  }

  override def commit(): WriterCommitMessage = {
    sinks.values.foreach(_.writer.close())
    GraftSinkCommitMessage(sinks.values.toSeq.sortBy(_.path.toString)
      .map { s =>
        // capture the stats HERE, in the task that wrote the file — the
        // driver commit assembles the manifest entry without reopening it
        val stats =
          if (s.rows == 0L || !captureStats) // empty files are deleted unread
            StreamTable.CapturedStats(s.rows, Map.empty, Map.empty, Nil, Nil)
          else StreamTable.footerColumnStats(s.path.toString, conf)
        StreamTable.StagedSinkFile(s.path.toString, s.bucket,
          sorted = pkVerify.isDefined, stats)
      })
  }

  override def abort(): Unit = sinks.values.foreach { s =>
    try s.writer.close() catch { case _: Exception => () }
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s.path.toUri.getPath))
  }

  override def close(): Unit = ()
}

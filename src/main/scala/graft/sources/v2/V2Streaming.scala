package graft.sources.v2

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

import graft.table.StreamTable

/** Snapshot-id offset: the stream's position IS the table's commit history —
  * the same duality Paimon exposes (a Flink streaming scan consumes
  * snapshots; `tutorial/guide.md:144-164`). `id = -1` means "before the first
  * commit" (snapshot ids start at 0). */
case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** Micro-batch streaming read over a [[StreamTable]]: each trigger consumes
  * the snapshots committed since the last one.
  *
  *  - batch 1 (from offset -1): the FULL live file set of the current
  *    snapshot — the initial catch-up (Paimon `scan.mode = latest-full`);
  *  - batch N: append-dir files NEW in `(start, end]` by path diff —
  *    compaction rewrites are layout maintenance whose content was already
  *    delivered as appends, so they never re-deliver (the
  *    `changelog-producer = 'input'` contract, guide.md:69-73).
  *
  * Offsets are durable snapshot ids, so recovery replays exactly the
  * undelivered commits; delivery is per-file parallel through the same
  * [[GraftPartitionReader]] as batch scans. Retention caveat (shared with
  * every file-stream source): an append file must outlive the stream's lag —
  * `expireSnapshots` keeps consumer offsets as retention roots for exactly
  * this reason. */
class GraftMicroBatchStream(table: StreamTable, schema: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    consumerId: Option[String] = None,
    scanStart: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // consumer-id (Paimon's expiry-safe incremental read): register as a
  // retention root up front — from this moment expireSnapshots keeps every
  // snapshot at or beyond the consumer's position
  consumerId.foreach { id =>
    if (!table.consumers.exists(_._1 == id)) table.registerConsumer(id, 0L)
  }

  // headers only: offsets are ids; the incremental diff folds the
  // interval's delta manifests ([[StreamTable.addedBetween]])
  private def snaps = table.snapshotHeaders

  // FILE-level names of columns added with DEFAULT (EXISTS_DEFAULT metadata
  // rides the schema): the initial catch-up delivers PRE-ADD files whose
  // rows READ the default — the "absent ⇒ all null" IS NOT NULL skip must
  // not drop them (the batch scan's exact rule, GraftScan)
  private val defaultedCols: Set[String] = schema.fields.iterator
    .filter(_.metadata.contains(org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
    .map(_.name).toSet

  /** AvailableNow contract: pin the end offset when the trigger starts, so
    * the run drains exactly the commits that existed then and stops. */
  @volatile private var availableEnd: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(currentLatest())

  // scan.mode=latest / scan.snapshot-id=N position a FRESH stream; a
  // checkpointed one always resumes from its stored offset
  override def initialOffset(): Offset = GraftOffset(scanStart.getOrElse(-1L))

  private def currentLatest(): Offset = // per-trigger poll: filename scan only
    GraftOffset(table.latestSnapshotId.getOrElse(-1L))

  override def latestOffset(): Offset =
    availableEnd.getOrElse(currentLatest())

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no rate
  // limiting — a trigger consumes every commit up to the pinned end
  override def latestOffset(startOffset: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = currentLatest()

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].snapshotId
    val e = end.asInstanceOf[GraftOffset].snapshotId
    if (e <= s) return Array.empty
    val all = snaps
    val newFiles =
      if (s < 0L) // initial catch-up: the full live set (one hydration)
        all.find(_.id == e).map(table.hydrated(_).files).getOrElse(Seq.empty)
      else {
        // a consumed-but-expired start snapshot would make the diff base
        // empty and silently RE-DELIVER the whole live set — the one
        // failure mode an at-least-once file diff cannot detect on its own.
        // Fail loudly: the stream's lag exceeded retention (register a
        // consumer id or widen snapshot.num-retained to protect slow
        // readers).
        if (!all.exists(_.id == s))
          throw new IllegalStateException(
            s"stream offset snapshot $s has been retention-expired at " +
              s"${table.root}: cannot compute the incremental diff " +
              "(protect slow consumers via registerConsumer/num-retained)")
        // O(interval delta): fold the covered commits' delta manifests —
        // a steady-state trigger never hydrates a snapshot
        table.addedBetween(s, e)
          .filter(_.path.contains("/data/append/"))
      }
    // FILE skipping per micro-batch: the pushed predicate prunes delivered
    // files through the same manifest-stats proof batch scans use — a
    // filtered stream (one partition/tenant/time window of a 100 TB table)
    // then pays per trigger for the files that can match, not the commit.
    // Sound because pushdown is residual here too (Spark re-applies the
    // exact predicate above the stream); missing stats conservatively keep.
    val kept =
      if (pushed.isEmpty) newFiles
      else {
        newFiles.filter { f =>
          val (mins, maxs) = StreamTable.skipStats(f)
          pushed.forall(FileSkip.keep(_, mins, maxs, Some(f), defaultedCols))
        }
      }
    lastPlanned = kept.map(_.path)
    // thread each file's commit sequence through: a streaming read that
    // projects the _graft_seq metadata column must see the same values a
    // batch scan returns (the partition default of -1 would lie). The
    // initial catch-up also carries each live file's deletion vector —
    // rows deleted before the stream started must not be delivered
    // (incremental batches only ever carry fresh appends, which cannot be
    // dv'd yet: a DV commit re-adds existing paths, which the re-add rule
    // excludes from added evidence).
    lastPlannedDv = kept.exists(_.dvCount.exists(_ > 0))
    kept.map(f => GraftInputPartition(f.path, f.minSeq,
      GraftScan.dvOf(f)): InputPartition).toArray
  }

  // files of the most recent planInputPartitions call — the exec node calls
  // planInputPartitions then createReaderFactory per micro-batch (driver,
  // sequential), so the factory can prove columnar eligibility for exactly
  // the files this batch will read. A deletion-vector'd catch-up file
  // demotes the batch to the row reader (Spark refuses mixed partitions).
  @volatile private var lastPlanned: Seq[String] = Nil
  @volatile private var lastPlannedDv: Boolean = false

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(schema, pushed,
      columnar = !lastPlannedDv &&
        GraftVector.eligible(schema, pushed, None, lastPlanned))

  override def commit(end: Offset): Unit =
    // a committed trigger moves the consumer forward: the next undelivered
    // snapshot is end+1, so retention may release everything before `end`.
    // Only ever move FORWARD: a second query sharing the id (or a restored
    // older checkpoint) may trail the stored position — retention roots
    // must honor the slowest legitimate reader, never crash the query
    // (advanceConsumer itself refuses regressions).
    consumerId.foreach { id =>
      val next = end.asInstanceOf[GraftOffset].snapshotId + 1
      if (!table.consumers.exists { case (cid, pos) => cid == id && pos >= next })
        table.advanceConsumer(id, next)
    }
  override def stop(): Unit = ()
}

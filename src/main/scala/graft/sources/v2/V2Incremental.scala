package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{Snapshot, StreamTable}

/** BATCH change-history surfaces over the table's snapshot log — the batch
  * duals of the streaming CDC source (V2Changelog.scala):
  *
  *  - **`incremental-between`** (Paimon's batch incremental read):
  *    {{{ spark.read.format("graft").option("incremental-between", "2,5").load(root) }}}
  *    returns the NETTED changes of the `(2, 5]` snapshot interval as the
  *    table's columns + `op` (+I/-U/+U/-D) — per changed key the resolved
  *    image at 2 retracts and the image at 5 asserts, exactly one
  *    stream-trigger's batch ([[ChangelogPlanning.planInterval]], shared
  *    code). PK tables ride the persisted-changelog fast path when every
  *    covered commit produced, else the per-bucket state diff; append
  *    tables return the interval's added level-0 rows as `+I`.
  *
  *  - **`` `t$changelog` ``** (system table through the V2 catalog): the
  *    table's RETAINED change history — the concatenation of every
  *    retained commit's change rows as columns + `rowkind`. Commits are
  *    served from their PERSISTED changelog files when produced
  *    (`changelog-producer`, O(changelog bytes) — no resolve, no netting
  *    across commits: this is a log, not an interval diff); the table's
  *    first commit (snapshot 0) resolves its own files as `+I` (the
  *    producer never persists it — a CDC catch-up resolves the live state
  *    instead); append-table commits are `+I` pass-throughs. A PK commit
  *    WITHOUT a persisted changelog (pre-option history) is refused
  *    loudly — reconstructing old images per historical commit would
  *    re-resolve the table once per commit, the exact cost the producer
  *    exists to avoid (the streaming CDC source remains the fallback
  *    door: its per-trigger interval diff pays that cost once, not once
  *    per commit). Snapshots whose predecessor has been retention-expired
  *    contribute nothing (their delta is unrecoverable — expired history
  *    is gone in Paimon too). The library dual is
  *    [[StreamTable.changeHistoryView]] (the shell's `` t$changelog ``).
  *
  *  - **`` `t$audit_log` ``** (system table through the V2 catalog):
  *    Paimon's literal audit_log BATCH semantics — the current resolved
  *    rows with a `rowkind` column, every live row `+I` (a batch scan
  *    sees only inserts; history lives in `` `t$changelog` `` and the CDC
  *    stream). Served distributed: the PK engines resolve per bucket via
  *    the catch-up interval plan, append tables pass their live files
  *    through. The SQL shell's `t$audit_log` is this table (resolved
  *    through the catalog plugin), so `rowkind` is the last column in both.
  *
  * 100 TB posture: both surfaces plan one partition per changelog/data
  * file (per bucket where the layout records them), read only the files
  * of the requested interval, and never resolve table state except where
  * the semantics require old images (the state-diff fallback, per-bucket).
  */
class GraftIncrementalV2Table(base: GraftV2Table, from: Long, to: Long)
    extends Table with SupportsRead {

  private[v2] val t = base.table
  require(from >= 0 && to >= from,
    s"incremental-between needs 0 <= from <= to, got ($from, $to)")

  private[v2] val baseSchema: StructType = base.schema()
  private[v2] val renames: Map[String, String] = base.renames
  private[v2] val stored: StructType = base.storedFileSchema

  override def name(): String = s"${base.name()}$$incremental[$from,$to]"

  override def schema(): StructType =
    StructType(baseSchema.fields :+ StructField("op", StringType, nullable = false))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftOpScanBuilder(t, baseSchema, "op", renames,
      (pruned, onlyBucket) => new Scan with Batch {
      override def readSchema(): StructType = GraftOpScanBuilder.withOp(
        pruned.getOrElse(baseSchema), "op")
      override def description(): String =
        s"GraftIncrementalScan ${name()} " +
          onlyBucket.map(b => s"bucket=$b ").getOrElse("") +
          s"ReadSchema: ${readSchema().catalogString}"
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        val snaps = t.snapshotHeaders
        val byId = snaps.map(s => s.id -> s).toMap
        def snapAt(id: Long): Snapshot =
          byId.getOrElse(id, throw new IllegalArgumentException(
            s"incremental-between snapshot $id is not retained at ${t.root}"))
        if (t.primaryKey.isDefined)
          ChangelogPlanning.planInterval(t, snaps, from, to, onlyBucket)
        else {
          // append table: the interval's added level-0 rows ARE its changes
          // — per-commit added files come straight from the delta manifests
          // (the shared evidence rule; zero hydrations on v2 history)
          (from to to).foreach(snapAt)
          StreamTable.intervalEvidence(snapAt, t.deltaOf, t.hydrated, from, to)
            ._1
            .filter(GraftOpScanBuilder.keepBucket(_, onlyBucket))
            .map(f => GraftConstOpPartition(f.path, "+I"): InputPartition).toArray
        }
      }

      override def createReaderFactory(): PartitionReaderFactory =
        if (t.primaryKey.isDefined)
          ChangelogPlanning.readerFactory(t, baseSchema, renames, stored, pruned)
        else GraftPassthroughOpReaderFactory(ChangelogPlanning.fileBaseOf(
          pruned.getOrElse(baseSchema), renames))
    })
}

/** Shared pruning/pushdown ScanBuilder for the op/rowkind-suffixed change
  * surfaces: keeps the projected DATA columns in table order (the op column
  * always emits — Spark re-projects on top when it was not requested), and
  * a pushed bucket-key equality prunes the plan to ONE bucket's partitions
  * (every filter stays a residual; pushdown is never load-bearing). */
private[v2] class GraftOpScanBuilder(t: StreamTable, base: StructType,
    opName: String, nameMap: Map[String, String],
    mk: (Option[StructType], Option[Int]) => Scan)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var pruned: Option[StructType] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(req: StructType): Unit = {
    val keep = req.fieldNames.toSet
    val kept = base.filter(f => keep.contains(f.name))
    // empty projection (count(*) / op-only) keeps one narrow column so the
    // readers still pace row counts correctly (the GraftScan rule)
    pruned = Some(
      if (kept.nonEmpty) StructType(kept) else StructType(base.take(1)))
  }
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // declared names translate to FILE-level before matching the bucket key
    // (a renamed-to-the-bucket-key-name column must never compute a bucket
    // from the wrong column's value, and a merely-renamed bucket key keeps
    // its point lookup)
    pushed = filters.filter {
      case org.apache.spark.sql.sources.EqualTo(a, v: Number) =>
        t.bucketKey.contains(nameMap.getOrElse(a, a)) && v != null
      case _ => false
    }.map(GraftScan.translate(_, nameMap))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan =
    mk(pruned, ChangelogPlanning.bucketPointLookup(t,
      ChangelogPlanning.fileBaseOf(base, nameMap), pushed))
}

private[v2] object GraftOpScanBuilder {
  def withOp(base: StructType, opName: String): StructType =
    StructType(base.fields :+ StructField(opName, StringType, nullable = false))

  /** A file survives a bucket point lookup when its recorded bucket matches
    * — or when it has none (unknown must be read to stay correct). */
  def keepBucket(f: graft.table.DataFileMeta, onlyBucket: Option[Int]): Boolean =
    onlyBucket.forall(b => f.bucket.forall(_ == b))
}

/** The `` `t$audit_log` `` system table (see the file scaladoc): the
  * current resolved state, every row `+I`. */
class GraftAuditLogV2Table(base: GraftV2Table) extends Table with SupportsRead {

  private[v2] val t = base.table
  private[v2] val baseSchema: StructType = base.schema()
  private[v2] val renames: Map[String, String] = base.renames
  private[v2] val stored: StructType = base.storedFileSchema

  override def name(): String = s"${base.name()}$$audit_log"

  override def schema(): StructType =
    StructType(baseSchema.fields :+ StructField("rowkind", StringType, nullable = false))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftOpScanBuilder(t, baseSchema, "rowkind", renames,
      (pruned, onlyBucket) => new Scan with Batch {
      override def readSchema(): StructType = GraftOpScanBuilder.withOp(
        pruned.getOrElse(baseSchema), "rowkind")
      override def description(): String =
        s"GraftAuditLogScan ${name()} " +
          onlyBucket.map(b => s"bucket=$b ").getOrElse("") +
          s"ReadSchema: ${readSchema().catalogString}"
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        t.latestSnapshot match {
          case None => Array.empty
          case Some(last) =>
            if (t.primaryKey.isDefined)
              // the CDC catch-up plan: resolve the live state per bucket, +I
              ChangelogPlanning.planInterval(t, Seq(last), -1L, last.id,
                onlyBucket)
            else last.files
              .filter(GraftOpScanBuilder.keepBucket(_, onlyBucket))
              // CURRENT STATE semantics: a deletion-vector'd row is not in
              // the state — ship the positions for the reader to suppress
              .map(f => GraftConstOpPartition(f.path, "+I",
                GraftScan.dvOf(f)): InputPartition).toArray
        }
      }

      override def createReaderFactory(): PartitionReaderFactory =
        if (t.primaryKey.isDefined)
          ChangelogPlanning.readerFactory(t, baseSchema, renames, stored, pruned)
        else GraftPassthroughOpReaderFactory(ChangelogPlanning.fileBaseOf(
          pruned.getOrElse(baseSchema), renames))
    })
}

/** The `` `t$changelog` `` system table (see the file scaladoc): the
  * retained change history. */
class GraftChangeHistoryV2Table(base: GraftV2Table) extends Table with SupportsRead {

  private[v2] val t = base.table
  private[v2] val baseSchema: StructType = base.schema()
  private[v2] val renames: Map[String, String] = base.renames
  private[v2] val stored: StructType = base.storedFileSchema

  override def name(): String = s"${base.name()}$$changelog"

  override def schema(): StructType =
    StructType(baseSchema.fields :+ StructField("rowkind", StringType, nullable = false))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val outer = this
    new GraftOpScanBuilder(t, baseSchema, "rowkind", renames,
      (pruned, onlyBucket) => new Scan with Batch {
      override def readSchema(): StructType = GraftOpScanBuilder.withOp(
        pruned.getOrElse(baseSchema), "rowkind")
      override def description(): String =
        s"GraftChangeHistoryScan ${outer.name()} " +
          onlyBucket.map(b => s"bucket=$b ").getOrElse("") +
          s"ReadSchema: ${readSchema().catalogString}"
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        val snaps = t.snapshotHeaders
        val byId = snaps.map(s => s.id -> s).toMap
        // ids whose changes ride in a LATER snapshot's DEFERRED span —
        // span-containment, never a materialized id set (mirrors
        // StreamTable.changeHistoryView row-for-row)
        val deferredSpans: Seq[(Long, Long)] = snaps.collect {
          case s if s.clogProduced && s.clogFromId.isDefined =>
            (s.clogFromId.get, s.id)
        }
        def coveredByDeferred(id: Long): Boolean =
          deferredSpans.exists { case (f, t0) => id > f && id < t0 }
        // uncompacted deferred tail: netted per consecutive RUN, one
        // interval diff each (see StreamTable.tailRuns) — mirrors the
        // library view row-for-row
        val tailRunEnd = t.tailRuns(snaps, coveredByDeferred)
        snaps.flatMap { s =>
          val pred = byId.get(s.id - 1)
          if (s.id == 0 && t.primaryKey.isDefined)
            // first commit: resolve its own files per bucket and emit the
            // winners as +I (the producer never persists snapshot 0; a
            // multi-version or tombstone-carrying first batch still nets)
            ChangelogPlanning.planInterval(t, Seq(s), -1L, s.id,
              onlyBucket).toSeq
          else if (s.clogProduced && s.id > 0)
            // persisted changelog files are SELF-CONTAINED — retention
            // expiring the predecessor must not drop history we still hold
            s.changelog.filter(GraftOpScanBuilder.keepBucket(_, onlyBucket))
              .map(f => GraftPassthroughOpPartition(f.path): InputPartition)
          else if (coveredByDeferred(s.id))
            Seq.empty // emitted at the covering deferred-producer snapshot
          else if (s.id > 0 && pred.isEmpty)
            Seq.empty // expired predecessor: non-produced delta unrecoverable
          else if (s.kind == "overwrite" && t.primaryKey.isDefined)
            // an overwrite never produces a changelog (whole-state
            // replacement) — serve its own single-commit interval diff so
            // one INSERT OVERWRITE cannot break the table's history (a
            // truncating overwrite serves all -D the same way)
            ChangelogPlanning.planInterval(t, snaps, s.id - 1, s.id,
              onlyBucket).toSeq
          else {
            // this commit's added files: the classification shared with
            // changeHistoryView and intervalEvidence
            // (StreamTable.addedEvidence — delta-served, re-adds excluded,
            // hydrate-diff only on legacy history)
            val added = t.addedEvidenceOf(s, pred)
            if (added.isEmpty) Seq.empty // maintenance-only commit
            else if (t.primaryKey.isEmpty)
              added.filter(GraftOpScanBuilder.keepBucket(_, onlyBucket))
                .map(f => GraftConstOpPartition(f.path, "+I"): InputPartition)
            else if (t.clogMode == "lookup" || t.clogMode == "full-compaction")
              // the uncompacted TAIL: emit this run's NETTED diff at the
              // run's first commit; mid-run commits ride in it
              tailRunEnd.get(s.id).toSeq.flatMap(end =>
                ChangelogPlanning.planInterval(t, snaps, s.id - 1, end,
                  onlyBucket))
            else throw new UnsupportedOperationException(
              s"${outer.name()}: snapshot ${s.id} has no persisted " +
                "changelog — change history on a primary-key table needs " +
                "a changelog-producer ('input' at write time, " +
                "'lookup'/'full-compaction' at compaction), or read " +
                "the CDC stream, whose interval diff reconstructs state " +
                "once per trigger instead of once per historical commit")
          }
        }.toArray
      }

      override def createReaderFactory(): PartitionReaderFactory = {
        val prunedFile = ChangelogPlanning.fileBaseOf(
          pruned.getOrElse(baseSchema), renames)
        if (t.primaryKey.isDefined)
          // wraps the engine factory so snapshot-0 state partitions and
          // passthrough/const partitions share one factory
          GraftAuditReaderFactory(prunedFile,
            ChangelogPlanning.readerFactory(t, baseSchema, renames, stored, pruned))
        else GraftPassthroughOpReaderFactory(prunedFile)
      }
    })
  }
}

/** A data file whose every row is one change of a known kind (append-table
  * deltas: always `+I`). `dv` = deletion-vector positions to suppress —
  * non-empty only for CURRENT-STATE surfaces (`$audit_log`); interval
  * surfaces deliver each commit's rows as appended, matching the
  * append-table DML posture (COW and DV deletes are not streamed). */
case class GraftConstOpPartition(path: String, op: String,
    dv: Array[Long] = Array.empty) extends InputPartition

/** A persisted changelog file: rows already carry their op — pass through. */
case class GraftPassthroughOpPartition(path: String) extends InputPartition

case class GraftPassthroughOpReaderFactory(fileBase: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftPassthroughOpPartition(path) =>
        new GraftPartitionReader(path,
          StructType(fileBase.fields :+ StructField("op", StringType)),
          Array.empty)
      case GraftConstOpPartition(path, op, dv) =>
        new GraftConstOpReader(path, fileBase, op, dv)
    }
}

/** Delegates engine partitions (state diff / delta fold) to the changelog
  * factory and passthrough/const partitions to the passthrough factory. */
case class GraftAuditReaderFactory(fileBase: StructType,
    engine: PartitionReaderFactory) extends PartitionReaderFactory {
  private val passthrough = GraftPassthroughOpReaderFactory(fileBase)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case _: GraftPassthroughOpPartition | _: GraftConstOpPartition =>
        passthrough.createReader(p)
      case other => engine.createReader(other)
    }
}

/** Reads a data file's base columns and appends a constant op (suppressing
  * the deletion-vector positions when the partition carries them). */
class GraftConstOpReader(path: String, fileBase: StructType, op: String,
    dv: Array[Long] = Array.empty)
    extends PartitionReader[InternalRow] {
  private val inner = new GraftPartitionReader(path, fileBase, Array.empty,
    dv = dv)
  private val opVal = UTF8String.fromString(op)
  private val dts = fileBase.fields.map(_.dataType)

  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val in = inner.get()
    val out = new Array[Any](dts.length + 1)
    var i = 0
    while (i < dts.length) { out(i) = in.get(i, dts(i)); i += 1 }
    out(dts.length) = opVal
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
  override def close(): Unit = inner.close()
}

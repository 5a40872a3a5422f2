package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.StreamTable

/** Streaming CHANGELOG read of a primary-key table —
  * `readStream.format("graft").option("read-changelog", true).load(root)` —
  * emitting the full retraction alphabet (`+I` insert, `-U` old image,
  * `+U` new image, `-D` delete; the reference's changelog tableau,
  * `Readme.md:113-127`) as an `op` column beside the table's own schema.
  * This is Paimon's audit_log/CDC stream: the surface a downstream
  * aggregate or CDC consumer reads to stay correct under upserts, where the
  * plain append stream would double-count superseded rows.
  *
  * Offsets are snapshot-id PAIRS walked by the trigger: each micro-batch
  * covers `(start, end]` and nets the interval — per changed key, the OLD
  * resolved image (at `start`) retracts and the NEW resolved image (at
  * `end`) asserts, exactly [[StreamTable.changelogWithRetractions]]'s
  * semantics (oracled against it). The initial catch-up (`start = -1`)
  * emits the current resolved state as `+I` (Paimon `latest-full`).
  *
  * Execution, two regimes:
  *  - **`changelog-producer` tables (the fast path)**: every covered commit
  *    persisted its netted change rows at write time, so the trigger reads
  *    ONLY the interval's changelog files and folds them per key
  *    ([[GraftChangelogDeltaReader]]) — O(interval changelog) per trigger,
  *    never a table resolve. This is what a 20 s-trigger CDC consumer on a
  *    100 TB table stands on.
  *  - **fallback (pre-option history)**: the PK merge-on-read kernel run
  *    over each bucket's old, new and evidence files in ONE k-way merge
  *    ([[GraftChangelogReader]]): per changed key, the old and new images
  *    fold with the engine's [[PkMerge.Fold]] — per-bucket, zero exchanges,
  *    O(open files) memory; the interval walks COMMIT-BY-COMMIT for its
  *    changed-key evidence, so a level-0 file absorbed by an in-interval
  *    compaction still contributes its keys (read as evidence).
  */
class GraftChangelogV2Table(base: GraftV2Table) extends Table with SupportsRead {

  private[v2] val t = base.table
  require(t.primaryKey.isDefined,
    s"${base.name()}: read-changelog requires a primary-key table — an " +
      "append table's changelog IS its append stream (drop the option)")

  private[v2] val baseSchema: StructType = base.schema()
  private[v2] val renames: Map[String, String] = base.renames
  private[v2] val stored: StructType = base.storedFileSchema

  override def name(): String = s"${base.name()}$$changelog"

  override def schema(): StructType =
    StructType(baseSchema.fields :+ StructField("op", StringType, nullable = false))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val outer = this
    // shares the batch change surfaces' pruning/point-lookup builder so the
    // streaming and batch doors can never diverge in what they prune
    new GraftOpScanBuilder(t, baseSchema, "op", renames, (pruned, onlyBucket) =>
      new GraftChangelogScan(outer, Option(options.get("consumer-id")),
        GraftV2Table.scanStartOf(options.get, t), pruned, onlyBucket))
  }
}

class GraftChangelogScan(table: GraftChangelogV2Table,
    consumerId: Option[String] = None,
    scanStart: Option[Long] = None,
    pruned: Option[StructType] = None,
    onlyBucket: Option[Int] = None) extends Scan {
  override def readSchema(): StructType = StructType(
    pruned.getOrElse(table.baseSchema).fields :+
      StructField("op", StringType, nullable = false))
  override def description(): String =
    s"GraftChangelogScan ${table.name()} merge=${table.t.effectiveEngine} " +
      onlyBucket.map(b => s"bucket=$b ").getOrElse("") +
      s"ReadSchema: ${readSchema().catalogString}"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftChangelogStream(table.t, table.baseSchema, table.renames,
      consumerId, scanStart, pruned, onlyBucket, Some(table.stored))
}

/** Snapshot-pair micro-batch stream (same offset/admission model as
  * [[GraftMicroBatchStream]]; `-1` = before the first commit). With
  * `.option("consumer-id", …)` the stream is a RETENTION ROOT with the same
  * advance-after-commit contract as the plain source — the CDC interval
  * diff needs every covered snapshot, so expiry must never outrun a
  * registered reader (without one, an over-eager retention policy fails the
  * stream loudly at the next trigger). */
class GraftChangelogStream(table: StreamTable, baseSchema: StructType,
    nameMap: Map[String, String], consumerId: Option[String] = None,
    scanStart: Option[Long] = None, pruned: Option[StructType] = None,
    onlyBucket: Option[Int] = None,
    /** The table's stored schema (file-level names), for the key and
      * sequence columns the read schema lacks; `baseSchema` by default. */
    stored: Option[StructType] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  consumerId.foreach { id =>
    if (!table.consumers.exists(_._1 == id)) table.registerConsumer(id, 0L)
  }

  // headers only — offset bookkeeping and interval planning never hydrate
  // a full live set (planInterval hydrates exactly the interval endpoints)
  private def snaps = table.snapshotHeaders

  @volatile private var availableEnd: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(currentLatest())

  // scan.mode=latest / scan.snapshot-id=N position a FRESH stream (changes
  // only / from a commit); a checkpointed one resumes from its stored offset
  override def initialOffset(): Offset = GraftOffset(scanStart.getOrElse(-1L))
  private def currentLatest(): Offset = // per-trigger poll: filename scan only
    GraftOffset(table.latestSnapshotId.getOrElse(-1L))
  override def latestOffset(): Offset = availableEnd.getOrElse(currentLatest())
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
    ChangelogPlanning.planInterval(table, snaps, s, e, onlyBucket)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ChangelogPlanning.readerFactory(table, baseSchema, nameMap,
      stored.getOrElse(ChangelogPlanning.fileBaseOf(baseSchema, nameMap)), pruned)

  override def commit(end: Offset): Unit =
    // committed trigger → the next undelivered snapshot is end+1; retention
    // may release everything before `end`. Forward-only (a restored older
    // checkpoint must not crash the query; advanceConsumer refuses
    // regressions) — same contract as [[GraftMicroBatchStream.commit]].
    consumerId.foreach { id =>
      val next = end.asInstanceOf[GraftOffset].snapshotId + 1
      if (!table.consumers.exists { case (cid, pos) => cid == id && pos >= next })
        table.advanceConsumer(id, next)
    }
  override def stop(): Unit = ()
}

/** The changelog interval planner + reader wiring, shared by the STREAMING
  * CDC source ([[GraftChangelogStream]], one interval per trigger) and the
  * BATCH incremental/audit surfaces (`incremental-between`,
  * `` `t$audit_log` `` — V2Incremental.scala): one `(start, end]` netting
  * plan, identical either way. */
private[graft] object ChangelogPlanning {

  /** The merge-internal schema (file-level names; see GraftPkScan). */
  private[v2] def fileBaseOf(baseSchema: StructType,
      nameMap: Map[String, String]): StructType =
    if (nameMap.isEmpty) baseSchema
    else StructType(baseSchema.map(f => f.copy(name = nameMap.getOrElse(f.name, f.name))))

  /** Bucket point lookup over pushed filters: an equality on the bucket key
    * pins the single bucket that can hold the key — 1/numBuckets of every
    * interval cut before any I/O (the PK point read, on the change
    * surfaces). Same conditions as [[GraftPkScan]]'s. */
  def bucketPointLookup(t: StreamTable, schema: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter]): Option[Int] =
    for {
      k <- t.bucketKey
      // fixed-bucket only: a change INTERVAL spans snapshots, and a dynamic
      // table's generations hash under different counts — a single bucket id
      // cannot pin a key across a split boundary
      if t.numBuckets > 0
      dt <- schema.find(_.name == k).map(_.dataType)
      if dt == LongType || dt == IntegerType
      v <- pushed.collectFirst {
        case org.apache.spark.sql.sources.EqualTo(a, v: Number) if a == k => v }
    } yield {
      val in = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](t.numBuckets,
          if (dt == LongType) v.longValue() else v.intValue()))
      (if (dt == LongType) GraftBucketLong else GraftBucketInt)
        .produceResult(in).intValue()
    }

  /** Plan the netted `(s, e]` interval over `snaps`: the persisted-changelog
    * fast path when every covered commit produced, else the per-bucket
    * state-diff walked commit-by-commit (so a level-0 file absorbed by an
    * in-interval compaction still contributes its keys). `s = -1` is the
    * initial catch-up: the full state emits `+I`. `onlyBucket` (a pushed
    * bucket-key point lookup) keeps a single bucket's group — honored only
    * when the layout records bucket ids on every file (the unbucketed
    * fallback group must read everything to stay correct). */
  def planInterval(table: StreamTable, snaps: Seq[graft.table.Snapshot],
      s: Long, e: Long, onlyBucket: Option[Int] = None,
      persisted: Boolean = true): Array[InputPartition] = {
    if (e <= s) return Array.empty
    // indexed once: the walk below touches each id several times, and a
    // linear find per touch made catch-up planning O(interval × snapshots).
    // `snaps` are HEADERS (unhydrated): the per-commit walk reads delta
    // manifests, and only the two interval ENDPOINTS hydrate — O(delta)
    // driver work per trigger at any live-file count.
    val byId = snaps.map(s0 => s0.id -> s0).toMap
    def snapAt(id: Long): graft.table.Snapshot =
      byId.getOrElse(id, throw new IllegalStateException(
        s"changelog interval snapshot $id has been retention-expired at " +
          s"${table.root}: cannot compute the interval diff (register a " +
          "consumer-id or widen snapshot retention to protect slow readers)"))
    def filesAt(id: Long): Seq[graft.table.DataFileMeta] =
      table.hydrated(snapAt(id)).files

    if (s >= 0 && persisted) {
      // fast path (`changelog-producer`): the interval (s, e] is EXACTLY
      // covered by a chain of changelog-carrying snapshots — a write-time
      // producer ('input') covers (id-1, id], a DEFERRED producer
      // ('lookup'/'full-compaction') covers (clogFromId, id] with the span
      // netted at compaction time. The trigger then reads ONLY the chain's
      // changelog files, O(delta) instead of two full resolves. A chain
      // that overshoots s (a deferred span reaching below the reader's
      // progress — its files can't be sliced) falls back to the state diff,
      // so a consumer that advanced mid-span never double-reads. The walk
      // runs BEFORE the every-snapshot existence check: changelog files
      // are SELF-CONTAINED, so a retained covering snapshot still serves
      // its span after the covered mid-span write snapshots expire (they
      // are exactly the ones retention ages out first); a broken chain is
      // never an error here — the fallback's own existence check below
      // raises the helpful retention message when the diff truly needs a
      // missing snapshot.
      val chain = scala.collection.mutable.ListBuffer.empty[Long]
      var cursor = e
      var chainOk = true
      while (chainOk && cursor > s) {
        byId.get(cursor) match {
          case Some(snap) if snap.clogProduced =>
            chain.prepend(cursor)
            cursor = snap.clogFromId.getOrElse(cursor - 1)
          case _ => chainOk = false
        }
      }
      if (chainOk && cursor == s) {
        // files ordered and commit-grouped by SNAPSHOT id — the table's
        // commit order. minSeq (the writer's batch/stamp sequence) is
        // neither monotone with snapshot order nor unique once independent
        // writers interleave (a stamped sink epoch's sequence can sort
        // before an earlier appendBatch commit, or collide with one).
        val clog = chain.toSeq.flatMap(id => snapAt(id).changelog.map(f => (f, id)))
        if (clog.isEmpty) return Array.empty
        val groups: Seq[Seq[(graft.table.DataFileMeta, Long)]] =
          if (clog.forall(_._1.bucket.isDefined))
            clog.groupBy(_._1.bucket.get).toSeq
              .filter(g => onlyBucket.forall(_ == g._1))
              .sortBy(_._1).map(_._2)
          else Seq(clog)
        return groups.map { fs =>
          GraftChangelogDeltaPartition(
            fs.sortBy { case (f, id) => (id, f.path) }
              .map { case (f, id) => (f.path, id) })
            : InputPartition
        }.toArray
      }
    }

    val oldFiles = if (s < 0) Seq.empty else filesAt(s)
    val newFiles = filesAt(e)
    // keys "changed in the interval" come from the level-0 files ADDED at
    // each covered commit (walked so a later in-interval compaction cannot
    // absorb a commit's changes) plus files a state-REPLACING commit
    // removed (keys an overwrite dropped must emit -D) — the shared rule
    // [[StreamTable.intervalEvidence]]; files not live at the end snapshot
    // contribute KEYS only, their images come from the resolved states.
    // The initial catch-up treats every file as new so the state emits +I.
    val oldPathSet = oldFiles.map(_.path).toSet
    val (newOnly: Set[String], extras: Seq[graft.table.DataFileMeta],
        oldEv: Seq[graft.table.DataFileMeta]) =
      if (s < 0) (newFiles.map(_.path).toSet, Seq.empty, Seq.empty)
      else {
        val (added, removedEv) =
          StreamTable.intervalEvidence(snapAt, table.deltaOf, s, e)
        val endPaths = newFiles.map(_.path).toSet
        // removal evidence LIVE at the start snapshot is read by the merge
        // anyway (zero extra I/O); only evidence live at NEITHER end adds a
        // file to it
        (added.map(_.path).toSet.intersect(endPaths),
          (added.filterNot(f => endPaths(f.path)) ++
            removedEv.filterNot(f =>
              endPaths(f.path) || oldPathSet(f.path))).distinct,
          removedEv.filter(f => oldPathSet(f.path)).distinct)
      }
    diffPartitions(table, oldFiles, newFiles,
      newFiles.filter(f => newOnly(f.path)) ++ extras ++ oldEv, onlyBucket)
  }

  /** The state-diff partitions of (old files, new files, evidence): one
    * per hash bucket when the layout proves co-location of every key
    * version, otherwise a single (serial, still correct) group. */
  def diffPartitions(table: StreamTable, oldFiles: Seq[graft.table.DataFileMeta],
      newFiles: Seq[graft.table.DataFileMeta], evidence: Seq[graft.table.DataFileMeta],
      onlyBucket: Option[Int] = None): Array[InputPartition] = {
    val all = oldFiles ++ newFiles ++ evidence
    PkMerge.requireSortedRuns(table.root, table.primaryKey.get, all)
    def paths(fs: Seq[graft.table.DataFileMeta]) = fs.map(_.path).distinct.sorted
    if (all.isEmpty) Array.empty
    else if (all.forall(_.bucket.isDefined)) {
      val (o, n, x) = (oldFiles.groupBy(_.bucket.get), newFiles.groupBy(_.bucket.get),
        evidence.groupBy(_.bucket.get))
      (o.keySet ++ n.keySet ++ x.keySet).toSeq
        .filter(b => onlyBucket.forall(_ == b)).sorted.map { b =>
          def at(m: Map[Int, Seq[graft.table.DataFileMeta]]) = paths(m.getOrElse(b, Nil))
          GraftChangelogPartition(at(o), at(n), at(x)): InputPartition
        }.toArray
    } else Array(GraftChangelogPartition(paths(oldFiles), paths(newFiles), paths(evidence)))
  }

  /** The netted changelog (table columns in stored names + `op`) of the
    * per-bucket state diff over (old files, new files, evidence) — the
    * write-time producer's diff of one commit. */
  def diffFrame(table: StreamTable, oldFiles: Seq[graft.table.DataFileMeta],
      newFiles: Seq[graft.table.DataFileMeta],
      evidence: Seq[graft.table.DataFileMeta]): org.apache.spark.sql.DataFrame =
    frame(table, oldFiles ++ newFiles, diffPartitions(table, oldFiles, newFiles, evidence, _))

  /** [[StreamTable.changelogWithRetractions]]: the state diff of the
    * `(s, e]` interval, never the persisted changelog. */
  def intervalFrame(table: StreamTable, snaps: Seq[graft.table.Snapshot],
      s: Long, e: Long, files: Seq[graft.table.DataFileMeta]): org.apache.spark.sql.DataFrame =
    frame(table, files, planInterval(table, snaps, s, e, _, persisted = false))

  /** A table whose rows are the planned state diff; its schema derives
    * from `files` (the diff's endpoint files) when no schema is declared. */
  private def frame(table: StreamTable, files: Seq[graft.table.DataFileMeta],
      plan: Option[Int] => Array[InputPartition]): org.apache.spark.sql.DataFrame =
    if (files.isEmpty)
      org.apache.spark.sql.SparkSession.active.emptyDataFrame
        .withColumn("op", org.apache.spark.sql.functions.lit(""))
    else GraftV2Table.frame(new GraftStateDiffV2Table(GraftV2Table.library(table,
      None, stored = true,
      pinned = table.latestSnapshot.map(_.copy(files = files.distinctBy(_.path)))),
      plan))

  /** The reader factory: the engine's [[PkMerge.Fold]] (winners for
    * deduplicate/first-row, folds for aggregation, per-field merges for
    * partial-update) serves the state-diff partitions; the persisted
    * changelog delta partitions are engine-agnostic.
    *
    * `pruned` (when the query projects a subset) makes the readers emit —
    * and READ — only the projected columns: the merge bookkeeping (pk,
    * sequence field, commit seq, tombstone, per-field provenance of the
    * projected fields) rides in a trailing region the output never copies,
    * so a 3-column CDC consumer of a 200-column table reads 3 columns plus
    * keys, not 200. */
  def readerFactory(table: StreamTable, baseSchema: StructType,
      nameMap: Map[String, String], stored: StructType,
      pruned: Option[StructType] = None): PartitionReaderFactory = {
    val out = fileBaseOf(pruned.getOrElse(baseSchema), nameMap)
    // key/sequence columns the projection dropped still drive the merge —
    // read after the output region, never emitted; the commit sequence
    // follows them
    val (internal, fold) = PkMerge.plan(table, out, stored, nameMap)
    GraftChangelogReaderFactory(internal, out.length,
      internal.fieldIndex(StreamTable.SeqColName),
      table.primaryKey.get.map(internal.fieldIndex).toArray, fold)
  }
}

/** A batch netted changelog over planned state-diff partitions: the
  * table-internal door to [[GraftChangelogReader]] (the write-time
  * producer, [[StreamTable.changelogWithRetractions]] and the first commit
  * of the change history). */
class GraftStateDiffV2Table(base: GraftV2Table,
    plan: Option[Int] => Array[InputPartition]) extends Table with SupportsRead {
  private val t = base.table
  private val baseSchema: StructType = base.schema()

  override def name(): String = s"${base.name()}$$diff"
  override def schema(): StructType = GraftOpScanBuilder.withOp(baseSchema, "op")
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftOpScanBuilder(t, baseSchema, "op", base.renames,
      (pruned, onlyBucket) => new Scan with Batch {
        override def readSchema(): StructType =
          GraftOpScanBuilder.withOp(pruned.getOrElse(baseSchema), "op")
        override def description(): String =
          s"GraftStateDiffScan ${name()} merge=${t.effectiveEngine} " +
            onlyBucket.map(b => s"bucket=$b ").getOrElse("") +
            s"ReadSchema: ${readSchema().catalogString}"
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = plan(onlyBucket)
        override def createReaderFactory(): PartitionReaderFactory =
          ChangelogPlanning.readerFactory(t, baseSchema, base.renames,
            base.storedFileSchema, pruned)
      })
}

/** One bucket's changelog interval: the bucket's live files at the start
  * snapshot, at the end snapshot, and the changed-key evidence — the NEW
  * level-0 files among the latter, removal-evidence files, and
  * interval-touched files live at NEITHER end (read for their KEYS only —
  * their surviving content lives in the resolved states). */
case class GraftChangelogPartition(oldFiles: Seq[String], newFiles: Seq[String],
    evidence: Seq[String])
    extends InputPartition

/** One bucket's PRODUCED changelog slice: the interval's persisted
  * changelog files as `(path, snapshotId)` in SNAPSHOT order — the O(delta)
  * fast path; the reader folds commit-at-a-time on the snapshot id. */
case class GraftChangelogDeltaPartition(files: Seq[(String, Long)])
    extends InputPartition

case class GraftChangelogReaderFactory(internal: StructType, outLen: Int,
    dataLen: Int, pkIdxs: Array[Int], fold: PkMerge.Fold)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case d: GraftChangelogDeltaPartition =>
        // the fold already happened at write time: the persisted rows carry
        // resolved images, so the delta fold is engine-agnostic
        new GraftChangelogDeltaReader(d, internal, outLen, dataLen, pkIdxs)
      case c: GraftChangelogPartition =>
        new GraftChangelogReader(c, internal, outLen, pkIdxs, fold)
    }
}

/** Executor-side interval diff of one bucket: ONE k-way merge over the
  * bucket's old, new and evidence files (each read once, in path order);
  * per key whose versions include evidence (a new level-0 file, a removed
  * file, a file absorbed inside the interval), the engine's fold over the
  * start snapshot's files gives the old image and over the end snapshot's
  * files the new image, and the netted op follows: old+new → `-U`/`+U`,
  * old only → `-D`, new only → `+I`; a key inserted AND deleted inside the
  * interval nets to nothing, and a stale arrival that lost resolution
  * emits an identical `-U`/`+U` pair (a delta consumer nets zero) — the
  * exact [[StreamTable.changelogWithRetractions]] rules. The aggregation
  * and partial-update engines have no delete path, so their `-D` only
  * arises from snapshot surgery (rollback). Memory is O(open files + one
  * key's versions). */
class GraftChangelogReader(p: GraftChangelogPartition, internal: StructType,
    outLen: Int, pkIdxs: Array[Int], fold: PkMerge.Fold)
    extends PartitionReader[InternalRow] {

  private val files: IndexedSeq[String] =
    (p.oldFiles ++ p.newFiles ++ p.evidence).distinct.sorted.toIndexedSeq
  private def flags(of: Seq[String]): Array[Boolean] = {
    val set = of.toSet
    files.map(set).toArray
  }
  private val inOld = flags(p.oldFiles)
  private val inNew = flags(p.newFiles)
  private val evidence = flags(p.evidence)

  private def opRow(img: InternalRow, op: String): InternalRow = {
    val out = new Array[Any](outLen + 1)
    var i = 0
    while (i < outLen) { out(i) = img.get(i, internal(i).dataType); i += 1 }
    out(outLen) = UTF8String.fromString(op)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  private lazy val groups = PkMerge.sortedGroups(files.map((_, -1L)), internal,
    pkIdxs, Array.empty)
  private lazy val rows: Iterator[InternalRow] = groups.flatMap { group =>
    val runs = groups.runs
    if (!runs.exists(evidence)) Iterator.empty
    else {
      def image(in: Array[Boolean]) =
        fold(group.iterator.zip(runs.iterator).collect { case (r, f) if in(f) => r })
      (Option(image(inOld)), Option(image(inNew))) match {
        case (Some(o), Some(n)) => Iterator(opRow(o, "-U"), opRow(n, "+U"))
        case (Some(o), None) => Iterator(opRow(o, "-D"))
        case (None, Some(n)) => Iterator(opRow(n, "+I"))
        case (None, None) => Iterator.empty
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = rows.hasNext
    if (has) current = rows.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = groups.close()
}

/** The O(delta) changelog reader: fold one bucket's PERSISTED per-commit
  * changelog files into the interval's netted ops — per key, the old image
  * comes from the FIRST covered commit that retracted it and the new image
  * from the LAST covered commit that touched it ("existed before" iff that
  * first op was a retraction), exactly the netting the state-diff reader
  * computes — but from O(interval changelog rows), never a table resolve.
  * Engine-agnostic: the write-time producer already resolved the images
  * (winners for deduplicate/first-row, folds for aggregation, per-field
  * merges for partial-update).
  *
  * Rows are folded COMMIT-AT-A-TIME (files are commit-ordered; intra-commit
  * row order is arbitrary, so a commit's `-U`/`+U` pair must land together
  * before the cross-commit transition applies). */
class GraftChangelogDeltaReader(p: GraftChangelogDeltaPartition,
    internal: StructType, outLen: Int, dataLen: Int, pkIdxs: Array[Int])
    extends PartitionReader[InternalRow] {

  // changelog files carry the table's base columns + the op (no engine
  // sequencing columns — the producer resolved them away); under pruning
  // the [outLen, dataLen) region holds key/sequence columns the projection
  // dropped — read for keying, never emitted
  private val readSchema: StructType =
    StructType(internal.fields.take(dataLen) :+ StructField("op", StringType))
  private val dts: Array[DataType] = readSchema.fields.map(_.dataType)
  private val opIdx = dataLen

  /** Cross-commit per-key state. */
  private final class St(var existed: Boolean, var old: InternalRow,
    var nw: InternalRow)

  private lazy val rows: Iterator[InternalRow] = {
    val state = new java.util.LinkedHashMap[List[Any], St]()
    // one commit's ops per key: (retraction image | null, assertion | null)
    val commitOps = new java.util.LinkedHashMap[List[Any], (InternalRow, InternalRow)]()
    def flushCommit(): Unit = {
      commitOps.forEach { (key, ops) =>
        val (retract, assertImg) = ops
        var st = state.get(key)
        if (st == null) {
          st = new St(existed = retract != null, old = retract, nw = null)
          state.put(key, st)
        }
        st.nw = assertImg // null iff the commit deleted the key
      }
      commitOps.clear()
    }
    var curCommit = Long.MinValue
    p.files.foreach { case (path, commitSeq) =>
      if (commitSeq != curCommit) { flushCommit(); curCommit = commitSeq }
      val r = new GraftPartitionReader(path, readSchema, Array.empty,
        limit = None, fileSeq = commitSeq)
      try {
        while (r.next()) {
          val row = r.get()
          val key = pkIdxs.map(i => row.get(i, dts(i))).toList
          val op = row.getUTF8String(opIdx).toString
          val prev = commitOps.get(key)
          val (retract, assertImg) =
            if (prev == null) (null: InternalRow, null: InternalRow) else prev
          commitOps.put(key, op match {
            case "-U" | "-D" => (row, assertImg)
            case _           => (retract, row) // +U / +I
          })
        }
      } finally r.close()
    }
    flushCommit()
    state.values.iterator.asScala.flatMap { st =>
      def tag(w: InternalRow, op: String): InternalRow = {
        val out = new Array[Any](outLen + 1)
        var i = 0
        while (i < outLen) { out(i) = w.get(i, dts(i)); i += 1 }
        out(outLen) = UTF8String.fromString(op)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      }
      (st.existed, Option(st.nw)) match {
        case (true, Some(nw)) => Iterator(tag(st.old, "-U"), tag(nw, "+U"))
        case (true, None)     => Iterator(tag(st.old, "-D"))
        case (false, Some(nw)) => Iterator(tag(nw, "+I"))
        case (false, None)     => Iterator.empty // inserted AND deleted inside
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = rows.hasNext
    if (has) current = rows.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

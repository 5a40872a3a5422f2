package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

import graft.table.{DataFileMeta, StreamTable}

/** Primary-key merge-on-read through the V2 connector — the reference's
  * signature table (the PK `sensor_info` upsert table,
  * `tutorial/guide.md:59-74`) readable through plain SQL
  * (`SELECT * FROM graft.db.sensor_info`), not just the library's
  * [[StreamTable.read]].
  *
  * Execution model — the distributed dual of [[StreamTable.read]]'s
  * window-resolve, with NO shuffle at all:
  *
  *  - PK tables write hash-bucketed on a bucket key that is a subset of the
  *    primary key (`pmod(murmur3(key), n)`, recorded per file in the
  *    manifest), so EVERY version of a key — updates, tombstones, compacted
  *    winners — lives in one bucket. The scan plans one [[InputPartition]]
  *    per bucket and each reader resolves last-writer-wins locally with a
  *    hash merge: winner per key by largest (`sequence.field`, commit batch)
  *    for `deduplicate`, smallest for `first-row`; tombstone winners emit
  *    nothing. The library's global window shuffle becomes zero exchanges.
  *  - All four merge engines fold here. Aggregation tables with a fold
  *    this reader does not compute never reach it: they read the library's
  *    merge view ([[GraftV2Table.libraryMerged]]).
  *
  * Filter safety: only predicates over PRIMARY-KEY columns may prune files
  * or rows before the merge — all versions of a key share its key columns,
  * so pre- and post-merge filtering agree. A non-key predicate could skip
  * the file holding a key's WINNING version and resurrect a superseded row;
  * those filters stay Spark-side residuals (every pushed filter is re-applied
  * as a residual anyway — pushdown is a fast path, never a correctness
  * dependency).
  *
  * 100 TB posture: PK files write as SORTED RUNS (ascending pk) and
  * compaction re-sorts, so the default reader is a STREAMING k-way merge
  * with O(open files + one key's versions) memory — Paimon's sorted-run
  * LSM merge, which survives a mis-sized or skew-hot bucket where a hash
  * of the bucket's distinct keys would not. Unsorted files (legacy
  * manifests, sink epochs) degrade that group to the hash merge until the
  * next compaction; the bucket count remains the declared write-time
  * parallelism knob, and a key-equality lookup prunes to a single bucket
  * before any I/O (the PK point read). Files without recorded bucket ids
  * degrade to one merge group — correct, not parallel; rewrite via
  * compaction to restore the layout.
  */
class GraftPkScanBuilder(table: GraftV2Table, fullSchema: StructType,
    pk: Seq[String], nameMap: Map[String, String] = Map.empty) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  /** Safe to evaluate pre-merge: simple comparisons whose every reference is
    * a primary-key column of a stats-covered type. */
  private def pkPushable(f: Filter): Boolean = {
    def ok(attr: String) = pk.contains(attr) &&
      fullSchema.find(_.name == attr).exists(_.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | StringType => true
        case _ => false
      })
    f match {
      case EqualTo(a, v) => v != null && ok(a)
      case GreaterThan(a, _) => ok(a)
      case GreaterThanOrEqual(a, _) => ok(a)
      case LessThan(a, _) => ok(a)
      case LessThanOrEqual(a, _) => ok(a)
      // multi-point lookup: pre-merge filtering on a key IN list is safe —
      // every version of a key shares the key value, so dropping non-listed
      // keys (rows AND whole files via stats) cannot change a survivor's
      // last-writer-wins resolution; bounded like the append-scan rule
      case In(a, vs) => vs != null && vs.length > 0 && vs.length <= 64 &&
        vs.forall(_ != null) && ok(a)
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(pkPushable)
    filters // all residual (incl. the pushed ones): merge output is re-checked
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    val kept = fullSchema.filter(f => keep.contains(f.name))
    // requested metadata columns ride after the data columns (provenance of
    // the WINNING version, filled by the per-file reader from the manifest)
    val meta = requiredSchema.fields.filter(f =>
      GraftV2Table.MetaCols.contains(f.name) && !fullSchema.fieldNames.contains(f.name))
    required = StructType(kept ++ meta)
  }

  override def build(): Scan =
    new GraftPkScan(table, fullSchema, required, pushed, pk, nameMap)
}

class GraftPkScan(table: GraftV2Table, fullSchema: StructType,
    required: StructType, pushed: Array[Filter], pk: Seq[String],
    nameMap: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // Key/sequence columns are never renameable (the evolution guard), so the
  // merge bookkeeping columns keep their names; only projected PAYLOAD
  // columns may need declared → file-level translation (rows are positional,
  // so the translated reader output aligns with the declared readSchema).
  private val fileRequired: StructType =
    if (nameMap.isEmpty) required
    else StructType(required.map(f => f.copy(name = nameMap.getOrElse(f.name, f.name))))

  private val t = table.table
  private val firstRow = t.effectiveEngine == "first-row"
  private val aggregation = t.effectiveEngine == "aggregation"
  private val partial = t.effectiveEngine == "partial-update"

  // merged-row engines have no single source file per output row
  if (partial)
    require(!required.fieldNames.exists(GraftV2Table.MetaCols.contains),
      s"${table.name()}: metadata columns are undefined on a partial-update " +
        "merge view (the merged row has no single source file)")

  // an accumulated row has no single source file
  if (aggregation)
    require(!required.fieldNames.exists(GraftV2Table.MetaCols.contains),
      s"${table.name()}: metadata columns are undefined on an aggregation " +
        "merge view (the merged row has no single source file)")

  // ---- driver-side pruning (metadata-only, like partition pruning) -------
  // auto-heal first: buckets a PREVIOUS scan flagged as hash-degraded at
  // refinement size sort-compact now (once), so this and every later scan
  // plans the k-way merge — then resolve the live set AFTER the heal.
  // BEST-EFFORT by construction: the heal is an optimization riding a
  // read-only query's planning, so losing its commit race (concurrent
  // maintenance) must never abort the SELECT — the flags were consumed, a
  // later degraded plan simply re-raises them
  if (PkMerge.autoHeal && table.atSnapshot.isEmpty &&
      t.pendingDegradedBuckets.nonEmpty)
    try t.healDegradedBuckets()
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(classOf[GraftPkScan]).warn(
          s"auto-heal of ${table.name()} lost to concurrent maintenance " +
            s"(reads are unaffected): ${e.getMessage}")
    }
  // ONE snapshot read: files AND (dynamic mode) the bucket count they were
  // labeled under — two separate disk reads could straddle an inline split
  private val scanSnap = table.liveSnapshot
  private val allFiles = scanSnap.map(_.files).getOrElse(Seq.empty)
  private val kept: Seq[DataFileMeta] = {
    // bucket point lookup: an equality on the bucket key pins the single
    // bucket that can hold the key — 1/numBuckets of the table cut before
    // any I/O (Paimon's PK point read)
    val bucketPruned = bucketLookup match {
      case Some(bs) => allFiles.filter(_.bucket.forall(bs.contains))
      case None => allFiles
    }
    if (pushed.isEmpty) bucketPruned
    else {
      val conf = new Configuration()
      bucketPruned.filter { f =>
        val (mins, maxs) = StreamTable.skipStats(f, conf)
        pushed.forall(FileSkip.keep(_, mins, maxs))
      }
    }
  }

  /** Equality or IN on the bucket key pins the bucket SET that can hold the
    * listed keys — |values|/numBuckets of the table cut before any I/O
    * (Paimon's PK point read, multi-point through IN). */
  private def bucketLookup: Option[Set[Int]] =
    for {
      k <- t.bucketKey
      // dynamic bucket mode: hash with the SCANNED generation's count,
      // captured from the SAME snapshot read as the file list — a fresher
      // count (time travel, or an inline split landing mid-plan) against
      // these labels would prune the wrong bucket
      n <- table.bucketCountOf(scanSnap)
      dt <- fullSchema.find(_.name == k).map(_.dataType)
      if dt == LongType || dt == IntegerType
      vals <- pushed.collectFirst {
        case EqualTo(a, v: Number) if a == k => Seq(v)
        case In(a, vs) if a == k && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Number]) => vs.toSeq.map(_.asInstanceOf[Number])
      }
    } yield vals.map { v =>
      val in = new GenericInternalRow(Array[Any](n,
        if (dt == LongType) v.longValue() else v.intValue()))
      (if (dt == LongType) GraftBucketLong else GraftBucketInt)
        .produceResult(in).intValue()
    }.toSet

  /** One merge group per recorded bucket; a manifest with any unbucketed
    * file degrades to a single group (correct, serial — the documented
    * legacy fallback). Files merge in commit order for deterministic
    * iteration (exact (seq, commit) ties are arbitrary, as in the library). */
  private val groups: Seq[(Int, Seq[DataFileMeta])] =
    if (kept.isEmpty) Seq.empty
    else if (kept.forall(_.bucket.isDefined))
      kept.groupBy(_.bucket.get).toSeq.sortBy(_._1)
        .map { case (b, fs) => (b, fs.sortBy(f => (f.minSeq, f.path))) }
    else Seq((-1, kept.sortBy(f => (f.minSeq, f.path))))

  // ---- merge-internal schema: projection ++ pk/seq/commit/tombstone ------
  private[v2] val internal: StructType = {
    val extras = (pk ++ t.seqCol.toSeq).distinct
      .filterNot(n => fileRequired.fieldNames.contains(n))
      .map(n => fullSchema.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"key/sequence column $n missing from table schema")))
    val base = fileRequired.fields.toSeq ++ extras ++ Seq(
      StructField(StreamTable.SeqColName, LongType),
      StructField(StreamTable.TombstoneColName, BooleanType))
    // partial-update: each PROJECTED non-key field's persisted per-field
    // winning sequence (struct<s1,s2>, written by compaction; null-filled
    // in fresh level-0 files) rides along for the reader's per-field race —
    // fields the projection dropped resolve independently and cost nothing
    val fseqs =
      if (!partial) Seq.empty
      else fileRequired.fields.toSeq.collect {
        case f if !pk.contains(f.name) =>
          StructField(StreamTable.FieldSeqPrefix + f.name, PkMerge.FseqType)
      }
    StructType(base ++ fseqs)
  }

  /** partial-update fold plan: (value idx, persisted-fseq idx) per non-key
    * field of the merge-internal schema. */
  private def partialFields: Array[(Int, Int)] =
    internal.fields.zipWithIndex.collect {
      case (f, i) if internal.fieldNames.contains(StreamTable.FieldSeqPrefix + f.name) =>
        (i, internal.fieldIndex(StreamTable.FieldSeqPrefix + f.name))
    }

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftPkScan ${table.name()} buckets=${groups.size} files=${kept.size}/${allFiles.size} " +
      s"merge=${t.effectiveEngine} PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  /** Pre-merge upper bound (the resolved view can only shrink) — enough for
    * Catalyst's broadcast decision, which needs "provably small", not exact. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.fileSizeInBytes).sum))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.rowCount).sum)
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      s"${table.name()} is a primary-key table: stream its CHANGELOG " +
        "(readStream.option(\"read-changelog\", true)) or use " +
        "StreamTable.readStream — raw upsert files are not an append stream")

  /** Storage-partitioned join over the MERGED view: the per-bucket plan is
    * already key-grouped, so under V2 bucketing the scan reports it and a
    * join of the resolved PK table against a co-bucketed fact on the key
    * needs no exchange on either side — the upsert dim ⋈ fact join with
    * the merge AND the join both riding the write-time layout. Engages only
    * when every group is a real bucket and the scan projects the bucket key
    * with a bucketable type (same conditions as [[GraftScan]]'s SPJ). */
  private def spjPartitioning: Option[Int] = {
    val confOn = try {
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.v2.bucketing.enabled") == "true"
    } catch { case _: Exception => false }
    t.bucketKey match {
      // fixed-bucket tables only: a dynamic table's count moves between
      // snapshots, so advertising it as a stable join layout would let
      // Spark align an exchange-free join against a STALE generation
      case Some(k) if confOn && t.numBuckets > 0 && groups.nonEmpty &&
          groups.forall(_._1 >= 0) &&
          required.fieldNames.contains(k) &&
          fullSchema.find(_.name == k).exists(f =>
            f.dataType == LongType || f.dataType == IntegerType) =>
        Some(t.numBuckets)
      case _ => None
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjPartitioning match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            n, t.bucketKey.get)),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          groups.size)
    }

  override def planInputPartitions(): Array[InputPartition] =
    groups.map { case (b, fs) =>
      // every file a SORTED RUN on the full pk → the reader streams a k-way
      // merge with O(files) memory; any unsorted file (legacy manifest,
      // sink-fed epoch) degrades the group to the hash merge until the next
      // compaction re-sorts it
      val sorted = fs.forall(_.sortedBy.contains(pk))
      // a hash-degraded bucket big enough that the merge would engage
      // grace-hash refinement (row count is the conservative upper bound on
      // its distinct keys) flags itself for the auto-heal sort-compaction —
      // the NEXT scan consumes the flag, so the refinement price is paid at
      // most once per bucket, not per query. Only HEAD scans flag: a
      // time-travel read of old unsorted history says nothing about the
      // current layout and must never trigger a rewrite of a bucket that
      // compaction already sorted
      if (!sorted && PkMerge.autoHeal && table.atSnapshot.isEmpty &&
          fs.iterator.map(_.rowCount).sum > PkMerge.HashMergeMaxKeys.get())
        t.noteDegradedBucket(b)
      GraftPkInputPartition(fs.map(f => (f.path, f.minSeq)), b,
        sorted = sorted): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    if (partial)
      GraftPkPartialReaderFactory(internal, required.length,
        pk.map(internal.fieldIndex).toArray, partialFields,
        t.seqCol.map(internal.fieldIndex).getOrElse(-1),
        internal.fieldIndex(StreamTable.SeqColName), pushed)
    else if (aggregation)
      GraftPkAggReaderFactory(internal, required.length,
        pk.map(internal.fieldIndex).toArray,
        // fold plan: only projected aggregated fields accumulate (the rest
        // of `required` is necessarily primary-key columns — constant per
        // key); fields the projection dropped never cost anything
        t.aggSpec.get.collect {
          case (f, fn) if fileRequired.fieldNames.contains(
              nameMap.getOrElse(f, f)) =>
            (internal.fieldIndex(nameMap.getOrElse(f, f)), fn)
        }.toArray, pushed)
    else
      GraftPkReaderFactory(internal, required.length,
        pk.map(internal.fieldIndex).toArray,
        t.seqCol.map(internal.fieldIndex).getOrElse(-1),
        internal.fieldIndex(StreamTable.SeqColName),
        internal.fieldIndex(StreamTable.TombstoneColName),
        firstRow, pushed)
}

/** All live files of one hash bucket (or the whole table for the legacy
  * unbucketed fallback), with their manifest commit sequences. The bucket id
  * doubles as the storage-partitioned-join partition key (ignored unless the
  * scan reported KeyGroupedPartitioning). `sorted` = every file is a sorted
  * run on the full primary key (streaming-merge eligible). */
case class GraftPkInputPartition(files: Seq[(String, Long)], bucketId: Int,
    sorted: Boolean = false)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

case class GraftPkReaderFactory(internal: StructType, outLen: Int,
    pkIdxs: Array[Int], seqIdx: Int, commitIdx: Int, tombIdx: Int,
    firstRow: Boolean, pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftPkInputPartition]
    if (part.sorted)
      new GraftPkSortedMergeReader(part.files, internal, outLen, pkIdxs,
        seqIdx, commitIdx, tombIdx, firstRow, pushed)
    else
      new GraftPkMergeReader(part.files,
        internal, outLen, pkIdxs, seqIdx, commitIdx, tombIdx, firstRow, pushed)
  }
}

/** Executor-side hash merge of one bucket: stream every file's rows through
  * the shared [[GraftPartitionReader]] (schema evolution null-fills, pushed
  * PK predicates hit parquet row groups, metadata columns fill from the
  * manifest), keep the winning version per key, then emit the non-tombstone
  * winners projected to the scan's output schema. Working set = the bucket's
  * distinct keys. */
class GraftPkMergeReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], seqIdx: Int, commitIdx: Int, tombIdx: Int,
    firstRow: Boolean, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val dts: Array[DataType] = internal.fields.map(_.dataType)

  private lazy val merged: Iterator[InternalRow] = {
    // bounded: over HashMergeMaxKeys distinct keys the pass restarts under
    // key-hash refinement (re-reads instead of an executor OOM); each
    // refined map is complete for its key slice, so emission streams
    PkMerge.refined[InternalRow] { keyFilter =>
      PkMerge.winners(files.map { case (p, s) => (p, s) },
        internal, pkIdxs, seqIdx, commitIdx, firstRow, pushed,
        keyFilter = keyFilter, maxKeys = PkMerge.HashMergeMaxKeys.get())
    }.flatMap(_.values.iterator.asScala.collect {
      case w if !PkMerge.isTombstone(w, tombIdx) =>
        PkMerge.project(w, outLen, dts): InternalRow
    })
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

case class GraftPkAggReaderFactory(internal: StructType, outLen: Int,
    pkIdxs: Array[Int], specs: Array[(Int, String)], pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftPkInputPartition]
    if (part.sorted)
      new GraftPkSortedAggReader(part.files, internal, outLen, pkIdxs,
        specs, pushed)
    else
      new GraftPkAggMergeReader(part.files,
        internal, outLen, pkIdxs, specs, pushed)
  }
}

/** Executor-side per-bucket fold for merge-engine=aggregation: every
  * version of a key combines field-wise by its declared function (sum/min/
  * max/count — associative and commutative, which is exactly what makes the
  * bucket-local fold equal the distributed aggregate; NULL is the identity,
  * matching Spark's null-skipping aggregates). Compacted partial aggregates
  * re-merge with fresh rows to the same result, the same closure the
  * library's three merge sites rely on. */
class GraftPkAggMergeReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], specs: Array[(Int, String)],
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private lazy val merged: Iterator[InternalRow] =
    PkMerge.refined[Array[Any]] { keyFilter =>
      PkMerge.accumulate(files, internal, pkIdxs, specs, outLen, pushed,
        keyFilter = keyFilter, maxKeys = PkMerge.HashMergeMaxKeys.get())
    }.flatMap(_.values.iterator.asScala
      .map(v => new GenericInternalRow(v): InternalRow))

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Streaming dual of [[GraftPkMergeReader]] for buckets whose every file is
  * a SORTED RUN on the primary key: k-way-merge the runs
  * ([[PkMerge.sortedGroups]]), resolve each key's version group as it
  * streams past, and emit the winner — memory is O(open files + one key's
  * versions), never the bucket's distinct keys. This is what survives a
  * mis-sized or skew-hot bucket at 100 TB; the hash merge remains the
  * fallback for unsorted (legacy / sink-fed) files until compaction
  * re-sorts them. Tie semantics are IDENTICAL to the hash path: group rows
  * arrive in (file commit order, within-file order), and later wins exact
  * ties (first-row: earlier). */
class GraftPkSortedMergeReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], seqIdx: Int, commitIdx: Int, tombIdx: Int,
    firstRow: Boolean, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val dts: Array[DataType] = internal.fields.map(_.dataType)

  private lazy val groups = PkMerge.sortedGroups(files, internal, pkIdxs, pushed)
  private lazy val merged: Iterator[InternalRow] =
    groups.flatMap { group =>
      var w: InternalRow = null
      group.foreach { row =>
        val wins = w == null || {
          val c = PkMerge.cmpOrd(row, w, seqIdx, commitIdx, dts)
          if (firstRow) c < 0 else c >= 0
        }
        if (wins) w = row
      }
      if (PkMerge.isTombstone(w, tombIdx)) Iterator.empty
      else Iterator(PkMerge.project(w, outLen, dts): InternalRow)
    }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = groups.close()
}

/** Streaming per-key fold for merge-engine=aggregation over sorted runs —
  * the sorted dual of [[GraftPkAggMergeReader]], same O(open files) memory
  * story as [[GraftPkSortedMergeReader]]. */
class GraftPkSortedAggReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], specs: Array[(Int, String)],
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private val dts: Array[DataType] = internal.fields.map(_.dataType)

  private lazy val groups = PkMerge.sortedGroups(files, internal, pkIdxs, pushed)
  private lazy val merged: Iterator[InternalRow] =
    groups.map { group =>
      var acc: Array[Any] = null
      group.foreach { row =>
        if (acc == null) {
          acc = new Array[Any](outLen)
          var i = 0
          while (i < outLen) { acc(i) = row.get(i, dts(i)); i += 1 }
        } else specs.foreach { case (i, fn) =>
          acc(i) = PkMerge.combineAgg(fn, acc(i), row.get(i, dts(i)))
        }
      }
      new GenericInternalRow(acc): InternalRow
    }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = groups.close()
}

/** Executor-side per-bucket fold for merge-engine=partial-update (hash
  * variant): every non-key field resolves independently to the value set at
  * the largest (per-field sequence) among rows where it is non-null —
  * [[StreamTable]]'s partialResolve rule applied inside the reader, with
  * the compaction-persisted `__graft_fseq_*` structs as each field's
  * provenance (without them an out-of-order arrival would lose to a
  * compacted row's inflated row-level sequence). */
class GraftPkPartialMergeReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], fields: Array[(Int, Int)], seqIdx: Int,
    commitIdx: Int, pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private lazy val merged: Iterator[InternalRow] =
    PkMerge.refined[Array[Any]] { keyFilter =>
      PkMerge.partialState(files, internal, pkIdxs, fields, seqIdx, commitIdx,
        outLen, pushed,
        keyFilter = keyFilter, maxKeys = PkMerge.HashMergeMaxKeys.get())
    }.flatMap(_.values.iterator.asScala
      .map(v => new GenericInternalRow(v): InternalRow))

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Sorted-run dual of [[GraftPkPartialMergeReader]]: per-key groups stream
  * out of the k-way merge and fold field-wise — O(open files) memory. */
class GraftPkSortedPartialReader(files: Seq[(String, Long)], internal: StructType,
    outLen: Int, pkIdxs: Array[Int], fields: Array[(Int, Int)], seqIdx: Int,
    commitIdx: Int, pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private lazy val groups = PkMerge.sortedGroups(files, internal, pkIdxs, pushed)
  private lazy val merged: Iterator[InternalRow] = {
    val op = new PkMerge.PartialOp(internal, outLen, fields, seqIdx, commitIdx)
    groups.map { group =>
      val acc = op.fresh(group.head)
      group.iterator.drop(1).foreach(op.update(acc, _))
      new GenericInternalRow(acc.out): InternalRow
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = groups.close()
}

case class GraftPkPartialReaderFactory(internal: StructType, outLen: Int,
    pkIdxs: Array[Int], fields: Array[(Int, Int)], seqIdx: Int, commitIdx: Int,
    pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftPkInputPartition]
    if (part.sorted)
      new GraftPkSortedPartialReader(part.files, internal, outLen, pkIdxs,
        fields, seqIdx, commitIdx, pushed)
    else
      new GraftPkPartialMergeReader(part.files, internal, outLen, pkIdxs,
        fields, seqIdx, commitIdx, pushed)
  }
}

/** Shared per-bucket hash-merge machinery (the PK scan and the changelog
  * stream both resolve winners this way). */
private[graft] object PkMerge {
  /** Hard cap on distinct keys one hash-merge pass may hold resident — the
    * legacy/unsorted-bucket fallback's memory bound. A bucket over the cap
    * restarts under grace-hash REFINEMENT (see [[refined]]): the pass
    * re-reads the bucket's files keeping only one key-hash slice at a time,
    * trading re-reads for never OOMing an executor on a hot legacy bucket.
    * Sorted-run buckets never hash (the k-way merge is O(open files)).
    * Override for tests/small executors: -Dgraft.pk.hash-merge.max-keys. */
  val HashMergeMaxKeys = new java.util.concurrent.atomic.AtomicInteger(
    Integer.getInteger("graft.pk.hash-merge.max-keys", 4000000))

  /** Refinement passes performed (observability — specs assert the bounded
    * path engaged without changing answers). */
  val refinePasses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Auto-heal switch: a PK scan that plans a hash-degraded bucket at
    * refinement size flags it, and the next scan sort-compacts the flagged
    * buckets before planning (see StreamTable.healDegradedBuckets).
    * Disable with -Dgraft.pk.auto-heal=false (e.g. read-only deployments). */
  def autoHeal: Boolean =
    !"false".equalsIgnoreCase(System.getProperty("graft.pk.auto-heal", "true"))

  private[v2] final class HashMergeOverflow extends RuntimeException {
    // control flow only — never collect a stack
    override def fillInStackTrace(): Throwable = this
  }

  /** Refinement fan-out per level: 8-way splits reach a 4M-key cap's
    * practical limits at depth 2-3 while keeping re-read volume ≤ R× the
    * bucket per level actually needed. */
  private val RefineFanout = 8

  /** Salted key-hash slice for refinement level `depth` — independent of
    * the bucket function (murmur3 of the key's boxed elements), so a
    * skew-hot bucket still splits. */
  private def refineSlice(key: List[Any], depth: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.orderedHash(key, 0x9e3779b9 + depth)
    ((h % RefineFanout) + RefineFanout) % RefineFanout
  }

  /** Run `build(keyFilter)` under the key cap: ONE pass when the bucket's
    * keys fit; otherwise restart with recursive key-hash refinement. Each
    * refined pass's map is COMPLETE for its key slice (a key hashes to
    * exactly one slice), so the caller streams results pass-by-pass with
    * peak memory ≤ the cap — bounded memory, more file re-reads. */
  def refined[V](
      build: (List[Any] => Boolean) => java.util.HashMap[List[Any], V])
      : Iterator[java.util.HashMap[List[Any], V]] = {
    def slice(filter: List[Any] => Boolean, depth: Int)
        : Iterator[java.util.HashMap[List[Any], V]] =
      try Iterator.single(build(filter))
      catch {
        case _: HashMergeOverflow =>
          if (depth >= 8) throw new IllegalStateException(
            "hash-merge refinement exceeded depth 8 — raise " +
              "graft.pk.hash-merge.max-keys (pathological key distribution)")
          (0 until RefineFanout).iterator.flatMap { i =>
            refinePasses.incrementAndGet()
            slice(k => filter(k) && refineSlice(k, depth) == i, depth + 1)
          }
      }
    slice(_ => true, 0)
  }

  /** Null-safe ordering compare; null = -infinity (matches the library's
    * window resolve: desc nulls-last / asc nulls-first). */
  def cmpAny(a: Any, b: Any): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The persisted per-field provenance struct (see
    * [[StreamTable.FieldSeqPrefix]]): s1 = the user sequence value at the
    * field's winning write (0 when the table has none), s2 = its commit. */
  val FseqType: StructType = StructType(Seq(
    StructField("s1", LongType), StructField("s2", LongType)))

  /** Per-key partial-update accumulator: `out` is the output row under
    * construction; `s1`/`s2`/`has` track each folded field's winning
    * per-field sequence (indexed like `fields`). */
  final class PartialAcc(val out: Array[Any], val s1: Array[Any],
      val s2: Array[Any], val has: Array[Boolean])

  /** The per-row partial-update fold: per field, the candidate sequence is
    * the persisted `__graft_fseq_*` struct when present, else (user seq,
    * commit seq) when the row sets the field; the largest (s1, s2, value)
    * wins — identical to the library's `max(struct(eff, value))`. */
  final class PartialOp(internal: StructType, outLen: Int,
      fields: Array[(Int, Int)], seqIdx: Int, commitIdx: Int) {
    private val dts = internal.fields.map(_.dataType)
    private val fieldOut: Array[Boolean] = {
      val isField = fields.map(_._1).toSet
      Array.tabulate(internal.length)(isField.contains)
    }

    /** Candidate (s1, s2) for field j on this row; null when the row
      * neither carries provenance nor sets the field. */
    private def candidate(row: InternalRow, j: Int): (Any, Any) = {
      val (valIdx, fseqIdx) = fields(j)
      if (!row.isNullAt(fseqIdx)) {
        val st = row.getStruct(fseqIdx, 2)
        (if (st.isNullAt(0)) null else st.getLong(0),
          if (st.isNullAt(1)) null else st.getLong(1))
      } else if (!row.isNullAt(valIdx)) {
        // baseOrd: the user sequence (null stays null — loses to any set
        // provenance, the library's nulls-first struct order) + commit seq
        (if (seqIdx < 0) java.lang.Long.valueOf(0L)
         else numAsLong(row.get(seqIdx, dts(seqIdx))),
          numAsLong(row.get(commitIdx, dts(commitIdx))))
      } else null
    }

    private def numAsLong(v: Any): Any = v match {
      case null => null
      case n: Number => java.lang.Long.valueOf(n.longValue())
      case other => other
    }

    def fresh(row: InternalRow): PartialAcc = {
      val acc = new PartialAcc(new Array[Any](outLen),
        new Array[Any](fields.length), new Array[Any](fields.length),
        new Array[Boolean](fields.length))
      // non-folded outputs (primary-key columns) are constant per key
      var i = 0
      while (i < outLen) {
        if (!fieldOut(i)) acc.out(i) = row.get(i, dts(i))
        i += 1
      }
      update(acc, row)
      acc
    }

    def update(acc: PartialAcc, row: InternalRow): Unit = {
      var j = 0
      while (j < fields.length) {
        val cand = candidate(row, j)
        if (cand != null) {
          val (valIdx, _) = fields(j)
          val v = row.get(valIdx, dts(valIdx))
          val wins = !acc.has(j) || {
            val c1 = cmpAny(cand._1, acc.s1(j))
            val c =
              if (c1 != 0) c1
              else {
                val c2 = cmpAny(cand._2, acc.s2(j))
                if (c2 != 0) c2
                else cmpAny(v, if (valIdx < outLen) acc.out(valIdx) else null)
              }
            c > 0
          }
          if (wins) {
            acc.s1(j) = cand._1; acc.s2(j) = cand._2; acc.has(j) = true
            if (valIdx < outLen) acc.out(valIdx) = v
          }
        }
        j += 1
      }
    }
  }

  /** Per-key partial-update fold over a bucket's files (hash variant;
    * `onRow` observes every raw row, as in [[winners]]/[[accumulate]]). */
  def partialState(files: Seq[(String, Long)], internal: StructType,
      pkIdxs: Array[Int], fields: Array[(Int, Int)], seqIdx: Int,
      commitIdx: Int, outLen: Int, pushed: Array[Filter],
      onRow: (List[Any], String) => Unit = (_, _) => (),
      keyFilter: List[Any] => Boolean = _ => true,
      maxKeys: Int = Int.MaxValue)
      : java.util.HashMap[List[Any], Array[Any]] = {
    val dts = internal.fields.map(_.dataType)
    val op = new PartialOp(internal, outLen, fields, seqIdx, commitIdx)
    val accs = new java.util.HashMap[List[Any], PartialAcc]()
    files.foreach { case (path, fileSeq) =>
      val r = new GraftPartitionReader(path, internal, pushed,
        limit = None, fileSeq = fileSeq)
      try {
        while (r.next()) {
          val row = r.get()
          val key = pkIdxs.map(i => row.get(i, dts(i))).toList
          if (keyFilter(key)) {
            onRow(key, path)
            val acc = accs.get(key)
            if (acc == null) {
              accs.put(key, op.fresh(row))
              if (accs.size() > maxKeys) throw new HashMergeOverflow
            } else op.update(acc, row)
          }
        }
      } finally r.close()
    }
    val out = new java.util.HashMap[List[Any], Array[Any]]()
    accs.forEach { (k, a) => out.put(k, a.out) }
    out
  }

  def isTombstone(r: InternalRow, tombIdx: Int): Boolean = {
    val v = r.get(tombIdx, BooleanType)
    v != null && v.asInstanceOf[Boolean]
  }

  /** LWW ordering of two versions: by `sequence.field` (when declared), tie
    * broken by commit batch — shared by the hash and sorted merges so their
    * winners are bit-identical. */
  def cmpOrd(x: InternalRow, y: InternalRow, seqIdx: Int, commitIdx: Int,
      dts: Array[DataType]): Int = {
    val bySeq = if (seqIdx < 0) 0
      else cmpAny(x.get(seqIdx, dts(seqIdx)), y.get(seqIdx, dts(seqIdx)))
    if (bySeq != 0) bySeq
    else cmpAny(x.get(commitIdx, dts(commitIdx)), y.get(commitIdx, dts(commitIdx)))
  }

  /** Lexicographic primary-key comparison matching the writer's
    * `sortWithinPartitions(pk)` order (ascending, nulls first; strings are
    * binary-comparable [[org.apache.spark.unsafe.types.UTF8String]]s). */
  def keyCmp(a: List[Any], b: List[Any]): Int = {
    var x = a; var y = b
    while (x.nonEmpty) {
      val c = cmpAny(x.head, y.head)
      if (c != 0) return c
      x = x.tail; y = y.tail
    }
    0
  }

  /** K-way merge of sorted runs into per-key version GROUPS: each emitted
    * buffer holds every version of one key, ordered by (file position in
    * `files`, within-file row order) — the exact iteration order the hash
    * merge sees for that key, so exact-tie resolution agrees. Memory is
    * O(open files + the current key's versions); emission is lazy (the
    * caller pulls one key group at a time). */
  def sortedGroups(files: Seq[(String, Long)], internal: StructType,
      pkIdxs: Array[Int], pushed: Array[Filter]): SortedGroupIterator = {
    val dts = internal.fields.map(_.dataType)

    final class Run(path: String, fileSeq: Long, val idx: Int)
        extends AutoCloseable {
      private val r = new GraftPartitionReader(path, internal, pushed,
        limit = None, fileSeq = fileSeq)
      var cur: InternalRow = _
      var curKey: List[Any] = _
      def advance(): Boolean =
        if (r.next()) {
          cur = r.get()
          curKey = pkIdxs.map(i => cur.get(i, dts(i))).toList
          true
        } else { r.close(); cur = null; false }
      override def close(): Unit = r.close()
    }

    val heap = new java.util.PriorityQueue[Run](math.max(1, files.size),
      (a: Run, b: Run) => {
        val c = keyCmp(a.curKey, b.curKey)
        if (c != 0) c else Integer.compare(a.idx, b.idx)
      })
    files.zipWithIndex.foreach { case ((p, s), i) =>
      val run = new Run(p, s, i)
      if (run.advance()) heap.add(run)
    }

    new SortedGroupIterator {
      override def hasNext: Boolean = !heap.isEmpty
      override def next(): Seq[InternalRow] = {
        val group = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        val key = heap.peek().curKey
        // drain runs in (key, file idx) order; consecutive same-key rows of
        // one run drain before the next run is considered
        while (!heap.isEmpty && keyCmp(heap.peek().curKey, key) == 0) {
          val run = heap.poll()
          var more = true
          while (more && keyCmp(run.curKey, key) == 0) {
            group += run.cur
            more = run.advance()
          }
          if (more) heap.add(run)
        }
        group.toSeq
      }
      override def close(): Unit = {
        while (!heap.isEmpty) heap.poll().close()
      }
    }
  }

  /** Lazy per-key group stream over sorted runs; `close()` releases the
    * still-open file readers of an interrupted task (exhaustion closes each
    * run as it drains). */
  trait SortedGroupIterator extends Iterator[Seq[InternalRow]] with AutoCloseable

  /** First `outLen` fields of a merged row as a fresh output row. */
  def project(w: InternalRow, outLen: Int, dts: Array[DataType]): GenericInternalRow = {
    val out = new Array[Any](outLen)
    var i = 0
    while (i < outLen) { out(i) = w.get(i, dts(i)); i += 1 }
    new GenericInternalRow(out)
  }

  /** Field-wise combine for the aggregation engine: NULL is the identity
    * (matching Spark's null-skipping aggregates); sum/count add in the
    * field's own type (guarded to BIGINT/DOUBLE at scan build). */
  def combineAgg(fn: String, a: Any, b: Any): Any =
    if (a == null) b
    else if (b == null) a
    else fn match {
      case "sum" | "count" => (a, b) match {
        case (x: java.lang.Long, y: java.lang.Long) =>
          java.lang.Long.valueOf(x.longValue() + y.longValue())
        case (x: java.lang.Double, y: java.lang.Double) =>
          java.lang.Double.valueOf(x.doubleValue() + y.doubleValue())
        case other => throw new IllegalStateException(s"unsummable $other")
      }
      case "min" => if (cmpAny(a, b) <= 0) a else b
      case "max" => if (cmpAny(a, b) >= 0) a else b
      case "bool_and" => java.lang.Boolean.valueOf(
        a.asInstanceOf[java.lang.Boolean].booleanValue() &&
          b.asInstanceOf[java.lang.Boolean].booleanValue())
      case "bool_or" => java.lang.Boolean.valueOf(
        a.asInstanceOf[java.lang.Boolean].booleanValue() ||
          b.asInstanceOf[java.lang.Boolean].booleanValue())
    }

  /** Per-key field-wise fold for merge-engine=aggregation: every version of
    * a key combines by its declared function. Accumulators are the first
    * `outLen` internal fields. `onRow(key, path)` observes every raw row. */
  def accumulate(files: Seq[(String, Long)], internal: StructType,
      pkIdxs: Array[Int], specs: Array[(Int, String)], outLen: Int,
      pushed: Array[Filter],
      onRow: (List[Any], String) => Unit = (_, _) => (),
      keyFilter: List[Any] => Boolean = _ => true,
      maxKeys: Int = Int.MaxValue)
      : java.util.HashMap[List[Any], Array[Any]] = {
    val dts = internal.fields.map(_.dataType)
    val acc = new java.util.HashMap[List[Any], Array[Any]]()
    files.foreach { case (path, fileSeq) =>
      val r = new GraftPartitionReader(path, internal, pushed,
        limit = None, fileSeq = fileSeq)
      try {
        while (r.next()) {
          val row = r.get()
          val key = pkIdxs.map(i => row.get(i, dts(i))).toList
          if (keyFilter(key)) {
            onRow(key, path)
            val cur = acc.get(key)
            if (cur == null) {
              val fresh = new Array[Any](outLen)
              var i = 0
              while (i < outLen) { fresh(i) = row.get(i, dts(i)); i += 1 }
              acc.put(key, fresh)
              if (acc.size() > maxKeys) throw new HashMergeOverflow
            } else {
              specs.foreach { case (i, fn) =>
                cur(i) = combineAgg(fn, cur(i), row.get(i, dts(i)))
              }
            }
          }
        }
      } finally r.close()
    }
    acc
  }

  /** Collect the distinct keys present in `paths` into `into` — the
    * key-only scan the changelog fallback runs over interval-added files a
    * later in-interval compaction absorbed (their images come from the
    * resolved states; only the CHANGED-KEY evidence is needed here). */
  def collectKeys(paths: Seq[String], internal: StructType, pkIdxs: Array[Int],
      into: scala.collection.mutable.LinkedHashSet[List[Any]]): Unit = {
    val dts = internal.fields.map(_.dataType)
    paths.foreach { path =>
      val r = new GraftPartitionReader(path, internal, Array.empty,
        limit = None, fileSeq = -1L)
      try {
        while (r.next()) {
          val row = r.get()
          into += pkIdxs.map(i => row.get(i, dts(i))).toList
        }
      } finally r.close()
    }
  }

  /** Stream every file's rows through [[GraftPartitionReader]] and keep the
    * winning version per key — largest (sequence.field, commit batch) for
    * deduplicate, smallest for first-row; exact ties resolve to the later-
    * merged row (arbitrary, as in the library's window resolve). Tombstone
    * winners STAY in the map (callers decide whether a tombstone means
    * "absent" or "-D evidence"). `onRow(key, path)` observes every raw row. */
  def winners(files: Seq[(String, Long)], internal: StructType,
      pkIdxs: Array[Int], seqIdx: Int, commitIdx: Int, firstRow: Boolean,
      pushed: Array[Filter],
      onRow: (List[Any], String) => Unit = (_, _) => (),
      keyFilter: List[Any] => Boolean = _ => true,
      maxKeys: Int = Int.MaxValue)
      : java.util.HashMap[List[Any], InternalRow] = {
    val dts = internal.fields.map(_.dataType)
    val winners = new java.util.HashMap[List[Any], InternalRow]()
    files.foreach { case (path, fileSeq) =>
      val r = new GraftPartitionReader(path, internal, pushed,
        limit = None, fileSeq = fileSeq)
      try {
        while (r.next()) {
          val row = r.get() // fresh GenericInternalRow per call — safe to keep
          val key = pkIdxs.map(i => row.get(i, dts(i))).toList
          if (keyFilter(key)) {
            onRow(key, path)
            val prev = winners.get(key)
            val wins = prev == null || {
              val c = cmpOrd(row, prev, seqIdx, commitIdx, dts)
              if (firstRow) c < 0 else c >= 0
            }
            if (wins) winners.put(key, row)
            if (winners.size() > maxKeys) throw new HashMergeOverflow
          }
        }
      } finally r.close()
    }
    winners
  }
}

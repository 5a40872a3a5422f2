package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.ByteArray

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
  *    per bucket and one reader ([[GraftPkMergeReader]]) resolves it
  *    locally: a k-way merge of the bucket's files hands each key's
  *    versions to the engine's fold ([[PkMerge.Fold]]) — largest
  *    (`sequence.field`, commit batch) wins for `deduplicate`, smallest for
  *    `first-row`, tombstone winners emit nothing; per-key accumulation for
  *    `aggregation`; per-field last-non-null for `partial-update`. The
  *    library's global window shuffle becomes zero exchanges.
  *  - Aggregation tables with a fold this reader does not compute never
  *    reach it: they read the library's merge view
  *    ([[GraftV2Table.libraryMerged]]).
  *
  * Filter safety: only predicates over PRIMARY-KEY columns may prune files
  * or rows before the merge — all versions of a key share its key columns,
  * so pre- and post-merge filtering agree. A non-key predicate could skip
  * the file holding a key's WINNING version and resurrect a superseded row;
  * those filters stay Spark-side residuals (every pushed filter is re-applied
  * as a residual anyway — pushdown is a fast path, never a correctness
  * dependency).
  *
  * Layout contract: every data file of a PK table is a SORTED RUN on the
  * primary key (`sortedBy`, enforced at commit — Paimon's sorted-run LSM
  * invariant), so the merge holds O(open files + one key's versions) on
  * every path, whatever a bucket's size or skew. A planned file without the
  * flag (a manifest written before the invariant) refuses the scan and
  * names `CALL sys.compact`, which rewrites sorted runs through the
  * library. The bucket count remains the declared write-time parallelism
  * knob, and a key-equality lookup prunes to a single bucket before any
  * I/O (the PK point read). Files without recorded bucket ids degrade to
  * one merge group — correct, not parallel; rewrite via compaction to
  * restore the layout.
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
    * legacy fallback). Files merge in commit order, `(minSeq, path)`, then
    * row order: the tie order of every fold. */
  private val groups: Seq[(Int, Seq[DataFileMeta])] = {
    PkMerge.requireSortedRuns(table.name(), pk, kept)
    if (kept.isEmpty) Seq.empty
    else if (kept.forall(_.bucket.isDefined))
      kept.groupBy(_.bucket.get).toSeq.sortBy(_._1)
        .map { case (b, fs) => (b, fs.sortBy(f => (f.minSeq, f.path))) }
    else Seq((-1, kept.sortBy(f => (f.minSeq, f.path))))
  }

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
      GraftPkInputPartition(fs.map(f => (f.path, f.minSeq)), b): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val dts = internal.fields.map(_.dataType)
    val fold: PkMerge.Fold =
      if (partial)
        PkMerge.PerField(internal, required.length, partialFields,
          t.seqCol.map(internal.fieldIndex).getOrElse(-1),
          internal.fieldIndex(StreamTable.SeqColName))
      else if (aggregation)
        // only projected aggregated fields accumulate (the rest of
        // `required` is necessarily primary-key columns — constant per key);
        // fields the projection dropped never cost anything
        PkMerge.Accumulate(required.length, dts, t.aggSpec.get.collect {
          case (f, fn) if fileRequired.fieldNames.contains(nameMap.getOrElse(f, f)) =>
            (internal.fieldIndex(nameMap.getOrElse(f, f)), fn)
        }.toArray)
      else
        PkMerge.LastWriter(required.length, dts,
          t.seqCol.map(internal.fieldIndex).getOrElse(-1),
          internal.fieldIndex(StreamTable.SeqColName),
          internal.fieldIndex(StreamTable.TombstoneColName), firstRow)
    GraftPkReaderFactory(internal, pk.map(internal.fieldIndex).toArray, fold, pushed)
  }
}

/** All live files of one hash bucket (or the whole table for the legacy
  * unbucketed fallback), with their manifest commit sequences, in tie
  * order. The bucket id doubles as the storage-partitioned-join partition
  * key (ignored unless the scan reported KeyGroupedPartitioning). */
case class GraftPkInputPartition(files: Seq[(String, Long)], bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

case class GraftPkReaderFactory(internal: StructType, pkIdxs: Array[Int],
    fold: PkMerge.Fold, pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftPkMergeReader(p.asInstanceOf[GraftPkInputPartition].files,
      internal, pkIdxs, fold, pushed)
}

/** Executor-side merge of one bucket: k-way merge the bucket's sorted runs
  * ([[PkMerge.sortedGroups]]) through the shared [[GraftPartitionReader]]
  * (schema evolution null-fills, pushed PK predicates hit parquet row
  * groups, metadata columns fill from the manifest), fold each key's
  * versions as they stream past, and emit the merged rows projected to the
  * scan's output schema. Memory is O(open files + one key's versions). */
class GraftPkMergeReader(files: Seq[(String, Long)], internal: StructType,
    pkIdxs: Array[Int], fold: PkMerge.Fold, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private lazy val groups = PkMerge.sortedGroups(files, internal, pkIdxs, pushed)
  private lazy val merged: Iterator[InternalRow] =
    groups.map(g => fold(g.iterator)).filter(_ != null)

  private var current: InternalRow = _
  override def next(): Boolean = {
    val has = merged.hasNext
    if (has) current = merged.next()
    has
  }
  override def get(): InternalRow = current
  override def close(): Unit = groups.close()
}

/** The per-bucket merge kernel shared by the PK scan and the changelog
  * stream's state diff: one k-way merge of sorted runs plus one fold per
  * merge engine. */
private[graft] object PkMerge {
  /** Refuse to plan a merge over files that are not sorted runs on `pk`:
    * every PK commit records the flag, so only a manifest written before
    * the invariant (or edited by hand) lacks it. Compaction reads through
    * the library and rewrites sorted runs. */
  def requireSortedRuns(table: String, pk: Seq[String], files: Seq[DataFileMeta]): Unit =
    files.find(!_.sortedBy.contains(pk)).foreach { f =>
      throw new IllegalStateException(
        s"$table: data file ${f.path} is not a sorted run on the primary key " +
          s"${pk.mkString(", ")} (a manifest written before sorted runs were " +
          "required); rewrite the table with CALL sys.compact before reading " +
          "it through the connector")
    }

  /** Spark's ascending order, nulls first — the order a `sortWithinPartitions`
    * or a honored `requiredOrdering` writes — over the boxed values the
    * readers and the sink's key check produce: BINARY unsigned
    * lexicographic, DOUBLE/FLOAT as [[SQLOrderingUtil]] (NaN largest,
    * -0.0 == 0.0), strings by UTF-8 bytes. The one comparator of the merge,
    * its key order and the sink's sorted-run check. */
  def cmpAny(a: Any, b: Any): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => ByteArray.compareBinary(x, y)
      case (x: java.lang.Double, y: java.lang.Double) =>
        SQLOrderingUtil.compareDoubles(x.doubleValue(), y.doubleValue())
      case (x: java.lang.Float, y: java.lang.Float) =>
        SQLOrderingUtil.compareFloats(x.floatValue(), y.floatValue())
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }

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

  def isTombstone(r: InternalRow, tombIdx: Int): Boolean = {
    val v = r.get(tombIdx, BooleanType)
    v != null && v.asInstanceOf[Boolean]
  }

  /** LWW ordering of two versions: by `sequence.field` (when declared), tie
    * broken by commit batch. */
  def cmpOrd(x: InternalRow, y: InternalRow, seqIdx: Int, commitIdx: Int,
      dts: Array[DataType]): Int = {
    val bySeq = if (seqIdx < 0) 0
      else cmpAny(x.get(seqIdx, dts(seqIdx)), y.get(seqIdx, dts(seqIdx)))
    if (bySeq != 0) bySeq
    else cmpAny(x.get(commitIdx, dts(commitIdx)), y.get(commitIdx, dts(commitIdx)))
  }

  /** Lexicographic primary-key comparison in the writers' key order
    * ([[cmpAny]] per column). */
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
    * `files`, within-file row order) — the tie order every fold resolves
    * exact ties by. Memory is O(open files + the current key's versions);
    * emission is lazy (the caller pulls one key group at a time), and
    * [[SortedGroupIterator.runs]] names each row's file. */
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
      private val groupRuns = scala.collection.mutable.ArrayBuffer.empty[Int]
      override def runs: scala.collection.IndexedSeq[Int] = groupRuns
      override def hasNext: Boolean = !heap.isEmpty
      override def next(): Seq[InternalRow] = {
        val group = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        groupRuns.clear()
        val key = heap.peek().curKey
        // drain runs in (key, file idx) order; consecutive same-key rows of
        // one run drain before the next run is considered
        while (!heap.isEmpty && keyCmp(heap.peek().curKey, key) == 0) {
          val run = heap.poll()
          var more = true
          while (more && keyCmp(run.curKey, key) == 0) {
            group += run.cur
            groupRuns += run.idx
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
  trait SortedGroupIterator extends Iterator[Seq[InternalRow]] with AutoCloseable {
    /** The file index (position in `files`) of each row of the group the
      * last `next()` returned. */
    def runs: scala.collection.IndexedSeq[Int]
  }

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

  /** One merge engine's per-key fold: a key's versions, in tie order, to
    * its merged row (the first `outLen` internal fields), or null when the
    * key resolves to nothing — no versions, or a tombstone winner. Built on
    * the driver, shipped in the reader factory. */
  sealed trait Fold extends Serializable {
    def apply(versions: Iterator[InternalRow]): InternalRow
  }

  /** deduplicate / first-row: the largest (`sequence.field`, commit) wins
    * (first-row: the smallest); on an exact tie the earlier version in tie
    * order wins, as in the library's window resolve — so the doors agree,
    * and a compaction (which persists the library's winner) never changes
    * the answer. */
  case class LastWriter(outLen: Int, dts: Array[DataType], seqIdx: Int,
      commitIdx: Int, tombIdx: Int, firstRow: Boolean) extends Fold {
    override def apply(versions: Iterator[InternalRow]): InternalRow = {
      var w: InternalRow = null
      versions.foreach { row =>
        val wins = w == null || {
          val c = cmpOrd(row, w, seqIdx, commitIdx, dts)
          if (firstRow) c < 0 else c > 0
        }
        if (wins) w = row
      }
      if (w == null || isTombstone(w, tombIdx)) null else project(w, outLen, dts)
    }
  }

  /** aggregation: every version combines field-wise by its declared
    * function (sum/min/max/count — associative and commutative, so the
    * bucket-local fold equals the distributed aggregate and compacted
    * partial aggregates re-merge with fresh rows to the same result). */
  case class Accumulate(outLen: Int, dts: Array[DataType],
      specs: Array[(Int, String)]) extends Fold {
    override def apply(versions: Iterator[InternalRow]): InternalRow = {
      var acc: Array[Any] = null
      versions.foreach { row =>
        if (acc == null) {
          acc = new Array[Any](outLen)
          var i = 0
          while (i < outLen) { acc(i) = row.get(i, dts(i)); i += 1 }
        } else specs.foreach { case (i, fn) =>
          acc(i) = combineAgg(fn, acc(i), row.get(i, dts(i)))
        }
      }
      if (acc == null) null else new GenericInternalRow(acc)
    }
  }

  /** partial-update: every non-key field resolves independently to the
    * value set at the largest per-field sequence ([[PartialOp]]), with the
    * compaction-persisted `__graft_fseq_*` structs as each field's
    * provenance. */
  case class PerField(internal: StructType, outLen: Int, fields: Array[(Int, Int)],
      seqIdx: Int, commitIdx: Int) extends Fold {
    @transient private lazy val op =
      new PartialOp(internal, outLen, fields, seqIdx, commitIdx)
    override def apply(versions: Iterator[InternalRow]): InternalRow =
      if (!versions.hasNext) null
      else {
        val acc = op.fresh(versions.next())
        versions.foreach(op.update(acc, _))
        new GenericInternalRow(acc.out)
      }
  }
}

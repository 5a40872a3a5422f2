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

/** Primary-key merge-on-read — the reference's signature table (the PK
  * `sensor_info` upsert table, `tutorial/guide.md:59-74`), read the same
  * way through every door: [[StreamTable.read]]/`readAt` plan this scan
  * over the connector's relation, as `format("graft")` and SQL
  * (`SELECT * FROM graft.db.sensor_info`) do, and compaction reads it with
  * the commit sequence and per-field provenance kept.
  *
  * Execution model, with NO shuffle at all:
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
  *    `aggregation` (the sequence-ordered `last_non_null_value` and list
  *    folds included); per-field last-non-null for `partial-update`.
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
  * names `CALL sys.compact`, which sorts each such file into a run before
  * it merges them. The bucket count remains the declared write-time
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
  // (+ per-field provenance), and the engine's fold over it
  private[v2] val (internal: StructType, fold: PkMerge.Fold) =
    PkMerge.plan(t, fileRequired, table.storedFileSchema, nameMap)

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

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPkReaderFactory(internal, pk.map(internal.fieldIndex).toArray, fold, pushed)
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
    * the invariant (or edited by hand) lacks it. Compaction sorts such
    * files into runs before it merges them. */
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

  /** The persisted contribution list of a list fold over a `v`-typed field
    * (see [[StreamTable.FieldListPrefix]]): every contribution with its
    * (sequence, commit) provenance. */
  def flistType(v: DataType): ArrayType = ArrayType(StructType(Seq(
    StructField("s1", LongType), StructField("s2", LongType), StructField("v", v))))

  /** The per-field provenance columns a merge of `data` (non-key output
    * fields, file-level names) reads and compaction persists: the winning
    * (sequence, commit) of every partial-update field and
    * `last_non_null_value` field, the contribution list of every list fold.
    * Refuses a list fold over a field of the wrong type. */
  def provenance(t: StreamTable, data: Seq[StructField],
      nameMap: Map[String, String]): Seq[StructField] = {
    val spec = t.aggSpec.getOrElse(Nil).map { case (f, fn) =>
      nameMap.getOrElse(f, f) -> fn }.toMap
    t.effectiveEngine match {
      case "partial-update" =>
        data.map(f => StructField(StreamTable.FieldSeqPrefix + f.name, FseqType))
      case "aggregation" => data.flatMap(f => spec.get(f.name).collect {
        case "last_non_null_value" =>
          StructField(StreamTable.FieldSeqPrefix + f.name, FseqType)
        case fn @ ("listagg" | "collect" | "merge_map") =>
          val dt = f.dataType
          fn match {
            case "listagg" => require(dt == StringType,
              s"listagg(${f.name}) needs a STRING field, got ${dt.simpleString}")
            case "merge_map" => require(dt.isInstanceOf[MapType],
              s"merge_map(${f.name}) needs a MAP field (later entries overwrite " +
                s"earlier per map key), got ${dt.simpleString}")
            case _ => require(dt.isInstanceOf[ArrayType],
              s"collect(${f.name}) needs an ARRAY field (contributions " +
                s"concatenate in sequence order), got ${dt.simpleString}")
          }
          StructField(StreamTable.FieldListPrefix + f.name, flistType(dt))
      })
      case _ => Nil
    }
  }

  /** The merge of one PK read: the schema every version is read in, and
    * the engine's fold of a key's versions to the first `out.length` of
    * its fields. `out` is the read's output in file-level names; it may
    * hold the commit sequence and provenance columns, which the folds then
    * fill (compaction keeps them). Key and sequence columns `out` lacks
    * come from `stored`. */
  def plan(t: StreamTable, out: StructType, stored: StructType,
      nameMap: Map[String, String]): (StructType, Fold) = {
    val pk = t.primaryKey.get
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    def add(f: StructField): Unit = if (!fields.contains(f.name)) fields(f.name) = f
    out.fields.foreach(add)
    pk.foreach(n => add(stored.find(_.name == n).getOrElse(
      throw new IllegalStateException(s"key column $n missing from table schema"))))
    // a compacted-only aggregation table stores no sequence column: its
    // rows race on their persisted provenance instead
    t.seqCol.foreach(n => add(stored.find(_.name == n).getOrElse(StructField(n, LongType))))
    add(StructField(StreamTable.SeqColName, LongType))
    add(StructField(StreamTable.TombstoneColName, BooleanType))
    val data = out.fields.toSeq.filterNot(f =>
      pk.contains(f.name) || StreamTable.isBookkeepingCol(f.name) ||
        GraftV2Table.MetaCols.contains(f.name))
    provenance(t, data, nameMap).foreach(add)
    val internal = StructType(fields.values.toSeq)
    val idx = internal.fieldIndex _
    val seqIdx = t.seqCol.map(idx).getOrElse(-1)
    val commitIdx = idx(StreamTable.SeqColName)
    val spec = t.aggSpec.getOrElse(Nil).map { case (f, fn) =>
      nameMap.getOrElse(f, f) -> fn }.toMap
    val fold = t.effectiveEngine match {
      case "partial-update" =>
        PerField(internal, out.length, data.map(f =>
          (idx(f.name), idx(StreamTable.FieldSeqPrefix + f.name))).toArray,
          seqIdx, commitIdx)
      case "aggregation" =>
        Accumulate(internal, out.length, data.flatMap(f => spec.get(f.name).map { fn =>
          val prov = fn match {
            case "last_non_null_value" => idx(StreamTable.FieldSeqPrefix + f.name)
            case "listagg" | "collect" | "merge_map" =>
              idx(StreamTable.FieldListPrefix + f.name)
            case _ => -1
          }
          AggField(idx(f.name), fn, prov)
        }).toArray, seqIdx, commitIdx)
      case engine =>
        LastWriter(out.length, internal.fields.map(_.dataType), seqIdx, commitIdx,
          idx(StreamTable.TombstoneColName), engine == "first-row")
    }
    (internal, fold)
  }

  /** Per-key partial-update accumulator: `out` is the output row under
    * construction; `s1`/`s2`/`has` track each folded field's winning
    * per-field sequence (indexed like `fields`). */
  final class PartialAcc(val out: Array[Any], val s1: Array[Any],
      val s2: Array[Any], val has: Array[Boolean])

  /** The per-row partial-update fold: per field, the candidate sequence is
    * the persisted `__graft_fseq_*` struct when present, else (user seq,
    * commit seq) when the row sets the field; the largest (s1, s2, value)
    * wins (Spark's struct order over `(sequence, value)`). */
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

    /** Each output provenance column (compaction keeps them) takes its
      * field's winning (s1, s2), null when no version set the field. */
    def finish(acc: PartialAcc): Unit = {
      var j = 0
      while (j < fields.length) {
        val fseqIdx = fields(j)._2
        if (fseqIdx < outLen) acc.out(fseqIdx) =
          if (acc.has(j)) new GenericInternalRow(Array[Any](acc.s1(j), acc.s2(j)))
          else null
        j += 1
      }
    }
  }

  /** A sequence value as the provenance structs hold it (BIGINT). */
  def numAsLong(v: Any): Any = v match {
    case null => null
    case n: Number => java.lang.Long.valueOf(n.longValue())
    case other => other
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
    * field's read type, which the table schema widens as Spark's `sum`
    * does (BIGINT, DOUBLE, DECIMAL(p + 10, s)), so a DECIMAL sum is exact
    * and its type never moves with the number of compactions. */
  def combineAgg(fn: String, a: Any, b: Any, dt: DataType): Any =
    if (a == null) b
    else if (b == null) a
    else fn match {
      case "sum" | "count" => (a, b) match {
        case (x: java.lang.Long, y: java.lang.Long) =>
          java.lang.Long.valueOf(Math.addExact(x.longValue(), y.longValue()))
        case (x: java.lang.Double, y: java.lang.Double) =>
          java.lang.Double.valueOf(x.doubleValue() + y.doubleValue())
        case (x: Decimal, y: Decimal) =>
          val d = dt.asInstanceOf[DecimalType]
          val r = x + y
          if (!r.changePrecision(d.precision, d.scale))
            throw new ArithmeticException(s"$fn overflows ${d.simpleString}")
          r
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
    * order wins, so a compaction (which persists the winner) never changes
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

  /** One aggregated field of [[Accumulate]]: its index, its function, and
    * its provenance column (-1 for the order-blind functions). */
  case class AggField(idx: Int, fn: String, prov: Int)

  /** aggregation: every version combines field-wise by its declared
    * function. sum/min/max/count/bool_and/bool_or are associative and
    * commutative, so the bucket-local fold equals the distributed aggregate
    * and compacted partial aggregates re-merge with fresh rows to the same
    * result. The ordered functions keep that closure through provenance:
    * `last_non_null_value` races per field on (sequence, commit) like
    * partial-update ([[PartialOp]]); `listagg`/`collect`/`merge_map` fold
    * every contribution in (sequence, commit, value) order, a compacted row
    * contributing its persisted list. Output provenance columns (compaction
    * keeps them) and the commit sequence (the largest) are filled too. */
  case class Accumulate(internal: StructType, outLen: Int, fields: Array[AggField],
      seqIdx: Int, commitIdx: Int) extends Fold {
    @transient private lazy val dts = internal.fields.map(_.dataType)
    @transient private lazy val lastOp = new PartialOp(internal, outLen,
      fields.filter(_.fn == "last_non_null_value").map(f => (f.idx, f.prov)),
      seqIdx, commitIdx)
    @transient private lazy val combined =
      fields.filter(f => f.prov < 0).map(f => (f.idx, f.fn, dts(f.idx)))
    @transient private lazy val lists = fields.filter(f => ListFns(f.fn))

    override def apply(versions: Iterator[InternalRow]): InternalRow = {
      if (!versions.hasNext) return null
      val first = versions.next()
      val acc = lastOp.fresh(first)
      val contribs = lists.map { _ => scala.collection.mutable.ArrayBuffer.empty[InternalRow] }
      def contribute(row: InternalRow): Unit = {
        var j = 0
        while (j < lists.length) {
          val f = lists(j)
          if (!row.isNullAt(f.prov)) {
            val arr = row.getArray(f.prov)
            val et = dts(f.prov).asInstanceOf[ArrayType].elementType
            var i = 0
            while (i < arr.numElements()) {
              contribs(j) += arr.get(i, et).asInstanceOf[InternalRow]; i += 1
            }
          } else if (!row.isNullAt(f.idx))
            contribs(j) += new GenericInternalRow(Array[Any](
              if (seqIdx < 0) java.lang.Long.valueOf(0L)
              else numAsLong(row.get(seqIdx, dts(seqIdx))),
              numAsLong(row.get(commitIdx, dts(commitIdx))),
              row.get(f.idx, dts(f.idx))))
          j += 1
        }
      }
      contribute(first)
      var commit = first.get(commitIdx, LongType)
      versions.foreach { row =>
        combined.foreach { case (i, fn, dt) =>
          acc.out(i) = combineAgg(fn, acc.out(i), row.get(i, dt), dt)
        }
        lastOp.update(acc, row)
        contribute(row)
        commit = combineAgg("max", commit, row.get(commitIdx, LongType), LongType)
      }
      lastOp.finish(acc)
      var j = 0
      while (j < lists.length) {
        val f = lists(j)
        val vt = dts(f.idx)
        val sorted = sortContributions(f.fn, contribs(j).toSeq, vt)
        acc.out(f.idx) = if (sorted.isEmpty) null else render(f.fn, sorted, vt)
        if (f.prov < outLen) acc.out(f.prov) =
          if (sorted.isEmpty) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(sorted.toArray[Any])
        j += 1
      }
      if (commitIdx < outLen) acc.out(commitIdx) = commit
      new GenericInternalRow(acc.out)
    }
  }

  val ListFns: Set[String] = Set("listagg", "collect", "merge_map")

  /** Ascending Spark order of one value type, nulls first. */
  private def nullsFirst(dt: DataType): (Any, Any) => Int = {
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
    (a, b) => if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1
      else ord.compare(a, b)
  }

  /** A list fold's contributions `(s1, s2, v)` in fold order: by
    * (sequence, commit), the value breaking exact ties — real feeds carry
    * duplicate sequence values, and an arbitrary tie order would make the
    * fold differ between runs. MAP values are not orderable, so merge_map
    * keeps version order among exact ties (its entries order below). */
  def sortContributions(fn: String, cs: Seq[InternalRow], vt: DataType): Seq[InternalRow] = {
    val byV = if (fn == "merge_map") null else nullsFirst(vt)
    cs.sortWith { (x, y) =>
      val c1 = cmpAny(x.get(0, LongType), y.get(0, LongType))
      val c = if (c1 != 0) c1 else {
        val c2 = cmpAny(x.get(1, LongType), y.get(1, LongType))
        if (c2 != 0 || byV == null) c2 else byV(x.get(2, vt), y.get(2, vt))
      }
      c < 0
    }
  }

  /** The folded value of sorted contributions: listagg joins the strings
    * with ','; collect concatenates the arrays; merge_map keeps, per map
    * key, the entry of the latest (sequence, commit) — the larger value on
    * an exact tie — with the kept entries in that order. */
  def render(fn: String, sorted: Seq[InternalRow], vt: DataType): Any = fn match {
    case "listagg" =>
      org.apache.spark.unsafe.types.UTF8String.concatWs(
        org.apache.spark.unsafe.types.UTF8String.fromString(","),
        sorted.map(_.getUTF8String(2)): _*)
    case "collect" =>
      val et = vt.asInstanceOf[ArrayType].elementType
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        sorted.flatMap(_.getArray(2).toSeq[Any](et)).toArray)
    case "merge_map" =>
      val mt = vt.asInstanceOf[MapType]
      val (byK, byW) = (nullsFirst(mt.keyType), nullsFirst(mt.valueType))
      val entries = sorted.flatMap { c =>
        val m = c.getMap(2)
        val (ks, ws) = (m.keyArray(), m.valueArray())
        (0 until m.numElements()).map(i => (c.get(0, LongType), c.get(1, LongType),
          ks.get(i, mt.keyType), ws.get(i, mt.valueType)))
      }.sortWith { (x, y) =>
        val c = Seq(cmpAny(x._1, y._1), cmpAny(x._2, y._2), byK(x._3, y._3),
          byW(x._4, y._4)).find(_ != 0).getOrElse(0)
        c < 0
      }
      val seen = scala.collection.mutable.HashSet.empty[Any]
      val kept = entries.reverseIterator.filter(e => seen.add(e._3)).toSeq.reverse
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(kept.map(_._3).toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(kept.map(_._4).toArray))
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
        val first = versions.next()
        val acc = op.fresh(first)
        var commit = first.get(commitIdx, LongType)
        versions.foreach { row =>
          op.update(acc, row)
          commit = combineAgg("max", commit, row.get(commitIdx, LongType), LongType)
        }
        op.finish(acc)
        if (commitIdx < outLen) acc.out(commitIdx) = commit
        new GenericInternalRow(acc.out)
      }
  }
}

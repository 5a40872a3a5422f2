package graft.table

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Metadata for one immutable data file (the Paimon `$files` row shape,
  * /root/reference/tutorial/guide.md:200-232). */
case class DataFileMeta(
    path: String,
    rowCount: Long,
    fileSizeInBytes: Long,
    minSeq: Long,
    maxSeq: Long,
    level: Int,
    creationTimeMs: Long,
    /** Hash-bucket id of every row in this file (bucket-keyed tables only:
      * pmod(murmur3(key), numBuckets), the shuffle partition index of the
      * bucketed write). None for unbucketed writes, legacy manifests, and
      * maintenance rewrites — readers that need the bucket contract
      * (storage-partitioned joins) fall back gracefully when absent. */
    bucket: Option[Int] = None,
    /** Columns this file's rows are ascending-sorted by (nulls first), when
      * the writer sorted them. Every data file of a PK table is a SORTED
      * RUN on the primary key — the commit refuses any other — so the
      * per-bucket merge-on-read streams a k-way merge with O(open files)
      * memory (Paimon's sorted-run LSM invariant). None on append tables
      * and on manifests written before the invariant, which the PK readers
      * refuse until a compaction rewrites them. */
    sortedBy: Option[Seq[String]] = None,
    /** Per-column min/max captured ONCE from the footer at commit time and
      * served from the manifest ever after (Paimon's DataFileMeta value
      * stats, the `$files.min_value_stats` surface) — stats-based file
      * skipping and metadata-only MIN/MAX then plan with ZERO file I/O. A
      * column appears iff it has at least one non-null value AND every row
      * group's chunk stats were trustworthy; values render through the
      * parquet typed comparator (`minAsString`), exactly what the footer
      * fallback produces. None on legacy manifests → readers re-open the
      * footer (the pre-round-8 path). */
    minStats: Option[Map[String, String]] = None,
    maxStats: Option[Map[String, String]] = None,
    /** All column names physically present in this file (chunk paths, minus
      * engine bookkeeping) — distinguishes "file predates the column"
      * (contributes only nulls: skippable) from "column exists here" for
      * the metadata-only aggregate push. None on legacy manifests. */
    fileCols: Option[Seq[String]] = None,
    /** Columns present in the file whose footer stats could NOT be trusted
      * at capture time (a chunk with rows but null/unprovable stats, or a
      * rendered value over the manifest size cap): consumers must refuse
      * stats shortcuts for these — skipping keeps the file, the aggregate
      * push refuses the column. Empty in practice for our writers. */
    badStats: Option[Seq[String]] = None,
    /** Per-column NULL counts (rendered as decimal strings, like the value
      * stats), captured from the footer at commit time. A column appears
      * iff every row group proved its null count — absence means unknown.
      * What they buy: "file is single-valued in column g" becomes provable
      * (nulls=0 ∧ min=max, or nulls=rowCount), which is what the grouped
      * metadata-only aggregate pushdown stands on. None on legacy
      * manifests. */
    nullStats: Option[Map[String, String]] = None,
    /** DELETION-VECTOR sidecar (the Iceberg/Delta position-delete idea):
      * absolute path of a small binary file listing the row POSITIONS of
      * this data file that are deleted (sorted unsigned big-endian longs).
      * Every reader suppresses these positions; the data file itself is
      * untouched, so a 1-row compliance delete on a 1 GB file costs one
      * tiny sidecar write instead of a 1 GB rewrite. Compaction and COW
      * rewrites materialize the deletions and drop the vector. None =
      * no deletions (all legacy manifests). Append tables only — PK
      * deletes are merge-on-read tombstones. */
    dvPath: Option[String] = None,
    /** Cardinality of [[dvPath]] — lets counts/stats net deletions without
      * opening the sidecar. Physical [[rowCount]] stays untouched:
      * live rows = rowCount - dvCount. */
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    dvCount: Option[Long] = None) {

  /** Rows a reader actually serves from this file (physical minus deleted). */
  def liveRowCount: Long = rowCount - dvCount.getOrElse(0L)
}

/** One committed table version: the full list of live files after the commit
  * (snapshot semantics, tutorial/guide.md:180-184). `batchId` makes streaming
  * commits idempotent — the Structured Streaming epoch is the analog of the
  * Flink checkpoint that triggers a Paimon commit (guide.md:3 + :213-221). */
case class Snapshot(
    id: Long,
    committedAtMs: Long,
    batchId: Long,
    files: Seq[DataFileMeta],
    /** DYNAMIC bucket mode (`bucket = -1`) only: the power-of-two bucket
      * count THIS snapshot's live labels were stamped under. The count is
      * versioned state, not table config — it grows by doubling as data
      * grows (extendible hashing: `pmod(hash, 2n)` refines `pmod(hash, n)`
      * by exactly one bit, so a split relabels bucket b's keys into b and
      * b+n and nothing else) — and riding the snapshot makes every reader,
      * time travel included, see the count its files were written under.
      * Commits carry the stamp forward; None on fixed-bucket tables and
      * legacy manifests. */
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Integer])
    bucketCount: Option[Int] = None,
    /** Identity + epoch of the external (V2 streaming sink) writer that
      * produced this snapshot: the durable replay evidence that makes an
      * epoch commit idempotent PER WRITER — the global batch-id watermark
      * cannot serve that role once independent writers interleave (another
      * writer advancing it must never make a sink epoch look committed).
      * None for all other commit paths and legacy manifests. */
    writer: Option[String] = None,
    // contentAs: erasure makes Jackson materialize small Option[Long]
    // values as Integer, which then CCEs on comparison — pin the content
    // type explicitly
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    writerEpoch: Option[Long] = None,
    /** Per-commit CHANGELOG files (the `changelog-producer` contract,
      * tutorial/guide.md:69-73): the netted `+I/-U/+U/-D` rows THIS commit
      * contributed, persisted at write time so a CDC reader consumes the
      * interval's changelog files instead of re-resolving two full
      * snapshots. Empty for commits with no logical change (compaction) and
      * for every commit of a table without the producer. */
    changelog: Seq[DataFileMeta] = Seq.empty,
    /** True iff this commit RAN under the changelog producer — distinguishes
      * "produced, and there were no logical changes" (maintenance) from
      * "not produced" (pre-option history, overwrites): a CDC interval may
      * ride the changelog files only when every covered commit produced. */
    clogProduced: Boolean = false,
    /** DEFERRED changelog coverage (`changelog-producer` = 'lookup' /
      * 'full-compaction'): this snapshot's changelog files carry the netted
      * changes of the whole interval `(clogFromId, id]` — produced at
      * COMPACTION time instead of write time (cheap ingest, the reader
      * cost moves to the uncompacted tail). None means the write-time
      * contract: the changelog covers exactly `(id - 1, id]`. */
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    clogFromId: Option[Long] = None,
    /** The commit KIND (Paimon's snapshot commitKind): "append" |
      * "overwrite" | "compact" | "replace" (COW row-level DML). The
      * changelog interval walk classifies on it — a compaction's removed
      * files are absorbed layout maintenance, an overwrite's are dropped
      * STATE whose keys must emit `-D`. Empty on legacy manifests, where
      * the walk falls back to inferring compaction from added level>0
      * files. */
    kind: String = "",
    /** DELTA-MANIFEST list (the Paimon/Iceberg manifest-list structure,
      * guide.md:180-184's snapshot model at metadata scale): ordered
      * `_manifests/mf-*.json` file names whose fold — per entry, apply
      * `removed` paths then append `added` metas — reconstructs `files`.
      * When non-empty the snapshot JSON persists `files = []` and a commit
      * writes ONE delta manifest bounded by its own change (plus a
      * periodic full rebase when the list grows past the cap), so commit
      * metadata is O(delta) instead of an O(live files) rewrite per
      * commit. Readers hydrate `files` from the fold (manifest files are
      * immutable — parsed once per table handle). Empty on legacy inline
      * manifests. */
    manifestList: Seq[String] = Seq.empty,
    /** THIS commit's own change relative to its parent, as a delta-manifest
      * file name (usually the `manifestList` tail entry; a rebase commit
      * writes it separately). The per-commit evidence every change surface
      * (CDC trigger, incremental-between, `$changelog`) plans from — O(this
      * commit's delta) driver work, no parent hydration. None on legacy
      * manifests and on no-op commits (whose evidence is empty). */
    deltaManifest: Option[String] = None)

/** One immutable delta-manifest file's content: the paths this commit
  * removed from the live set, then the file metas it added. */
case class ManifestDelta(
    added: Seq[DataFileMeta] = Seq.empty,
    removed: Seq[String] = Seq.empty,
    /** Full metas of the files this commit removed WITHOUT re-adding,
      * persisted only for state-REPLACING commits (overwrite / COW DML) —
      * the `-D` evidence a changelog interval needs, served without
      * hydrating the parent snapshot. None for compactions (absorbed layout
      * maintenance, never evidence) and appends (nothing removed). */
    removedMetas: Option[Seq[DataFileMeta]] = None)

/** A Spark-native streaming table: a directory of immutable parquet files plus
  * an atomic snapshot manifest — the engine-level translation of a Paimon
  * table (tutorial/guide.md:23-31, :59-74).
  *
  * Layout:
  * {{{
  *   root/
  *     data/append/  b<batchId>-<uuid>-<k>.parquet   // streaming appends
  *     data/compact/ c<snapId>-<uuid>-<k>.parquet    // compaction rewrites
  *     _snapshots/   snap-<n>.json                   // manifest per version
  * }}}
  *
  * Concurrency contract (the Delta-paper trick, PAPERS.md): a commit is one
  * atomic rename of `snap-<n>.json`; writers re-read the latest snapshot and
  * retry on id collision, so one streaming writer and one compactor can run
  * concurrently without losing files. Readers list `_snapshots` and take the
  * max id — they never see a half-written manifest.
  *
  * - Append table: `primaryKey = None` — `read` unions live files as-is.
  * - Primary-key upsert table (sensor_info semantics, guide.md:59-74):
  *   `read` applies last-writer-wins per key ordered by (seqCol, batch) —
  *   the "changelog-producer = input" model where the engine materializes
  *   the latest row per key at read (or compaction) time.
  * - Batch/stream duality (guide.md:51-56, :88-98): `read` (batch, manifest
  *   based) and `readStream` (file source over `data/append/`) serve the same
  *   table.
  */
class StreamTable(
    val root: String,
    spark: SparkSession,
    val primaryKey: Option[Seq[String]] = None,
    val seqCol: Option[String] = None,
    val bucketKey: Option[String] = None,
    val numBuckets: Int = 4,
    /** Paimon's `merge-engine = 'aggregation'` ('fields.<f>.aggregate-function'):
      * same-key rows merge by aggregating each non-key field instead of
      * last-writer-wins. Requires a primary key. Only order-insensitive
      * functions are accepted (sum/min/max/count — associative and
      * commutative), which is what makes the engine's three merge sites
      * (read, compaction, incremental append) agree: partially-merged rows
      * re-merge with fresh rows to the same result in any order. */
    val aggSpec: Option[Seq[(String, String)]] = None,
    /** Paimon `merge-engine`: how same-key rows collapse on PK tables.
      *  - `"deduplicate"` (default): last-writer-wins by (seqCol, commit).
      *  - `"first-row"`: FIRST writer wins — the row with the smallest
      *    (seqCol, commit) is kept and every later arrival is ignored.
      *    Deterministic only if the caller's seqCol is unique per key
      *    (ours: the reference leaves it arrival-ordered, which no
      *    distributed replay can reproduce).
      *  - `"partial-update"`: per-FIELD last non-null wins — a row is a
      *    partial update that sets only its non-null columns. Each merged
      *    field carries its own sequence (`__graft_fseq_<field>` struct
      *    columns persisted by compaction), which is what keeps the merge
      *    associative: re-merging a compacted row with an out-of-order
      *    arrival lands on the same per-field winners as a full merge —
      *    Paimon needs sequence-groups for the same reason.
      *  - `"aggregation"` is implied by `aggSpec` (kept as its own
      *    parameter for source compatibility). */
    val mergeEngine: String = "deduplicate",
    /** Paimon's `changelog-producer` option (the reference sets `'input'`
      * verbatim, tutorial/guide.md:69-73): when true, every LOGICAL commit on
      * this PK table also persists its netted `+I/-U/+U/-D` change rows as
      * changelog files beside the data files, so a CDC reader is O(interval
      * changelog) per trigger instead of re-resolving two full snapshots.
      * The reference's Flink pipeline likewise materializes the change
      * stream at write time; our ingest rows are raw upserts, so the writer
      * generates the retractions by resolving the touched buckets once per
      * commit (Paimon's 'lookup' producer does the same point-lookup work).
      * Contract: ONE logical writer at a time (already the batch-id
      * watermark's contract) — a concurrent COMPACTOR is fine, because
      * compaction never changes the resolved state the diff is computed
      * against. */
    val changelogProducer: Boolean = false,
    /** Paimon-style PARTITIONED BY (identity transforms only): every batch
      * write directory-splits on these columns, so each data file is
      * SINGLE-VALUED in every partition key — partition pruning and static
      * partition overwrite are then EXACT from manifest stats alone (the
      * existing file-skipping machinery, no new read path). The values stay
      * IN the files (the split rides on dropped COPIES of the columns), so
      * readers never reconstruct them from directory names. Compaction
      * rewrites keep the clustering. */
    val partitionKeys: Option[Seq[String]] = None,
    /** The `changelog-producer` MODE, Paimon's full alphabet. 'input'
      * (≡ `changelogProducer = true`) persists the netted changelog at
      * WRITE time — lowest read latency, the writer pays a touched-bucket
      * resolve per commit. 'lookup' and 'full-compaction' DEFER production
      * to compaction: writes stay raw appends (highest ingest throughput),
      * the compaction stages one netted changelog covering every commit
      * since the last covered snapshot (`Snapshot.clogFromId`), and CDC
      * readers between compactions fall back to the state diff — the
      * latency/throughput trade Paimon's producer alphabet exists to
      * offer. (The two deferred names are accepted as synonyms: with one
      * maintenance pipeline both produce at the same points; Paimon's
      * distinction — lookup produces on EVERY commit via point lookups —
      * is the 'input'-like end of the same dial.) 'none' leaves CDC on
      * the state diff entirely. */
    val changelogMode: Option[String] = None,
    /** FILE-level column name → canonical literal SQL for columns added via
      * `ALTER TABLE … ADD COLUMN … DEFAULT` (Spark's EXISTS_DEFAULT
      * contract, frozen at ADD time): a file that provably PREDATES the
      * column (manifest `fileCols` excludes it) reads the default instead
      * of null-filling; files carrying the column — including explicit
      * NULLs written after the ADD — are untouched. Maintenance rewrites
      * then MATERIALIZE the default (they read through this substitution),
      * which is exactly the contract: the exists-default is fixed at ADD
      * time, so storing it changes nothing observable. */
    val columnDefaults: Map[String, String] = Map.empty,
    /** Dynamic bucket mode (`bucket = -1`) growth target
      * (`dynamic-bucket.target-row-num`, Paimon's option): when a bucket's
      * live rows exceed this, the table DOUBLES its bucket count (possibly
      * several times) in one split commit. Rows, not bytes — the same dial
      * Paimon's assigner packs against. */
    val dynBucketTargetRows: Long = StreamTable.DynDefaultTargetRows,
    /** Dynamic bucket mode: the count an EMPTY table starts at
      * (`dynamic-bucket.initial-buckets`). Must be a power of two — the
      * split-locality invariant (`pmod(hash, 2n)` refines `pmod(hash, n)`)
      * only holds along the doubling chain. */
    val dynBucketInitial: Int = 2) {

  import StreamTable._

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[StreamTable])

  /** Effective changelog-producer mode (none | input | lookup |
    * full-compaction) — `changelogProducer = true` is 'input'. */
  private[graft] val clogMode: String =
    changelogMode.getOrElse(if (changelogProducer) "input" else "none")
  require(Set("none", "input", "lookup", "full-compaction").contains(clogMode),
    s"unknown changelog-producer '$clogMode' " +
      "(none | input | lookup | full-compaction)")
  /** Write-time production ('input'). */
  private def clogAtWrite: Boolean = clogMode == "input"
  /** Compaction-time production ('lookup' / 'full-compaction'). */
  private def clogAtCompact: Boolean =
    clogMode == "lookup" || clogMode == "full-compaction"

  require(Set("deduplicate", "first-row", "partial-update").contains(mergeEngine),
    s"unknown merge-engine '$mergeEngine' " +
      "(deduplicate | first-row | partial-update; aggregation via aggSpec)")
  require(aggSpec.isEmpty || mergeEngine == "deduplicate",
    "aggSpec and a non-default merge-engine are mutually exclusive")
  require(mergeEngine == "deduplicate" || primaryKey.nonEmpty,
    s"merge-engine=$mergeEngine requires a primary key")
  require(aggSpec.isEmpty || primaryKey.nonEmpty,
    "merge-engine=aggregation requires a primary key")
  require(clogMode == "none" || primaryKey.nonEmpty,
    "changelog-producer requires a primary-key table " +
      "(an append table's changelog IS its append stream)")
  // Paimon's DYNAMIC bucket mode (`bucket = -1`), re-derived Spark-first:
  // instead of Paimon's writer-maintained key→bucket index (an index lookup
  // join per commit, index memory per writer), the bucket of a key stays
  // PURE CONTENT HASH — `pmod(murmur3(key), n)` with n a power of two — and
  // n itself is versioned state that DOUBLES when a bucket outgrows
  // `dynamic-bucket.target-row-num` (extendible hashing: the 2n-hash refines
  // the n-hash by one bit, so a split relabels bucket b into exactly b and
  // b+n). Every read path (per-bucket merge, SPJ alignment, point-lookup
  // pruning) keeps the one layout function; the split is an atomic
  // compaction commit that stamps the new count into the snapshot, so a
  // key's versions are co-located at EVERY snapshot. Write amplification is
  // the amortized-2× doubling series — the trade against Paimon's per-record
  // index maintenance, chosen because it keeps ingest shuffle-free and needs
  // zero writer state at any table size.
  require(numBuckets > 0 || numBuckets == -1,
    s"bucket = $numBuckets is invalid: a positive fixed count, or -1 for " +
      "dynamic bucket mode (auto-doubling via split commits)")
  require(numBuckets > 0 || bucketKey.isDefined,
    "bucket = -1 (dynamic) needs a bucket-key to hash on (PK tables opened " +
      "through the catalog default it to the first key column; an append " +
      "table scales by file count, not buckets)")
  require(numBuckets > 0 || Integer.bitCount(dynBucketInitial) == 1,
    s"dynamic-bucket.initial-buckets must be a power of two (split " +
      s"locality holds only along the doubling chain), got $dynBucketInitial")
  require(dynBucketTargetRows > 0,
    s"dynamic-bucket.target-row-num must be positive, got $dynBucketTargetRows")

  /** True in dynamic bucket mode (`bucket = -1`). */
  def isDynamicBucket: Boolean = numBuckets == -1

  /** The bucket count writes stamp RIGHT NOW: the fixed count, or — dynamic
    * mode — the head snapshot's versioned count (the initial count on an
    * empty table). */
  def currentBuckets: Int =
    if (!isDynamicBucket) numBuckets
    else latestSnapshot.flatMap(_.bucketCount).getOrElse(dynBucketInitial)

  /** The bucket count a SCAN of `snapId` (None = head) must compute the
    * layout hash under — for point-lookup pruning, which must hash with the
    * scanned generation's count or prune the wrong bucket. None when no
    * count is provable (legacy dynamic snapshot): callers skip pruning. */
  def bucketCountAt(snapId: Option[Long]): Option[Int] =
    if (!isDynamicBucket) Some(numBuckets).filter(_ > 0)
    else snapId match {
      case Some(id) => snapshotAt(id).flatMap(_.bucketCount)
      case None => latestSnapshot.flatMap(_.bucketCount)
        .orElse(Some(dynBucketInitial))
    }
  aggSpec.foreach(_.foreach { case (f, fn) =>
    require(Set("sum", "min", "max", "count", "bool_and", "bool_or",
      "last_non_null_value", "listagg", "collect", "merge_map").contains(fn),
      s"unsupported aggregate-function '$fn' for field '$f' " +
        "(order-insensitive: sum/min/max/count/bool_and/bool_or; ordered, " +
        "under a sequence.field: last_non_null_value/listagg/collect/merge_map)")
    // the ORDERED functions need an explicit sequence group (Paimon's
    // requirement too): without one, "order" would mean commit order alone
    // and two same-commit writers would tie arbitrarily — refuse loudly
    require(!Set("last_non_null_value", "listagg", "collect",
        "merge_map").contains(fn) || seqCol.isDefined,
      s"$fn($f) is order-sensitive and needs an explicit 'sequence.field' " +
        "(the sequence group that defines the fold order)")
  })

  /** The effective engine: aggSpec implies aggregation. */
  private val engine: String = if (aggSpec.isDefined) "aggregation" else mergeEngine

  /** The effective merge engine, which selects the V2 PK merge-on-read's
    * per-key fold (deduplicate, first-row, aggregation or partial-update). */
  private[graft] def effectiveEngine: String = engine

  private val dataAppend = s"$root/data/append"
  private val dataCompact = s"$root/data/compact"
  private val dataChangelog = s"$root/data/changelog"
  private val dataDv = s"$root/data/dv"
  private val snapDir = s"$root/_snapshots"
  private val manifestDir = s"$root/_manifests"
  Seq(dataAppend, dataCompact, dataChangelog, dataDv, snapDir, manifestDir)
    .foreach(p => Files.createDirectories(Paths.get(p)))

  // ---- snapshot manifest -------------------------------------------------

  /** Parsed delta manifests — manifest files are immutable once a snapshot
    * links them, so a cached parse is valid forever; BOUNDED (LRU) because
    * a long-running streaming writer's handle sees one new manifest per
    * commit and an unbounded cache would accumulate every delta ever
    * written. A miss just re-parses the (small) JSON. */
  private val manifestCache =
    new java.util.LinkedHashMap[String, ManifestDelta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ManifestDelta]): Boolean = size > 256
    }

  private def manifestDelta(name: String): ManifestDelta = {
    val cached = manifestCache.synchronized(Option(manifestCache.get(name)))
    cached.getOrElse {
      val d = mapper.readValue(Files.readAllBytes(Paths.get(manifestDir, name)),
        classOf[ManifestDelta])
      manifestCache.synchronized(manifestCache.put(name, d))
      d
    }
  }

  /** Memoized manifest-list folds. Keyed by (id, manifestList) — ids are
    * reusable after a rollback, the list identifies the content. Tiny LRU:
    * the hot access pattern is a handful of snapshots (head, CDC interval
    * endpoints, a time-travel pin), while a long-running streaming writer
    * commits unboundedly — an unbounded cache of file lists would leak. */
  private val hydrateCache =
    new java.util.LinkedHashMap[(Long, Seq[String]), Seq[DataFileMeta]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Seq[String]), Seq[DataFileMeta]]): Boolean =
        size > 8
    }

  private def hydrate(s: Snapshot): Snapshot = hydrated(s)

  /** Materialize a v2 snapshot's live set from its manifest-list fold
    * (memoized — see [[hydrateCache]]); legacy inline snapshots pass through
    * untouched. Every fold increments [[StreamTable.hydrateFolds]], the
    * observability specs assert O(delta) planning on. */
  def hydrated(s: Snapshot): Snapshot =
    if (s.manifestList.isEmpty) s
    else {
      val key = (s.id, s.manifestList)
      val cached = hydrateCache.synchronized(Option(hydrateCache.get(key)))
      val files = cached.getOrElse {
        StreamTable.hydrateFolds.incrementAndGet()
        val live = new java.util.LinkedHashMap[String, DataFileMeta]()
        s.manifestList.foreach { n =>
          val d = manifestDelta(n)
          d.removed.foreach(live.remove)
          d.added.foreach(f => live.put(f.path, f))
        }
        val fs = live.values().asScala.toSeq
        hydrateCache.synchronized(hydrateCache.put(key, fs))
        fs
      }
      s.copy(files = files)
    }

  /** This commit's own change, resolved from its delta manifest. None =
    * legacy snapshot (diff the hydrated pair) or a no-op commit. */
  def deltaOf(s: Snapshot): Option[ManifestDelta] =
    s.deltaManifest.map(manifestDelta)

  /** One commit's ADDED level-0 evidence vs its predecessor — see
    * [[StreamTable.addedEvidence]] (the shared classification). */
  def addedEvidenceOf(cur: Snapshot, pred: Option[Snapshot]): Seq[DataFileMeta] =
    StreamTable.addedEvidence(deltaOf, hydrated, cur, pred)

  /** Fold ONE commit's change into a caller's running live-state: applies
    * the commit's persisted delta (or nothing, for a no-op detected by
    * manifest-list equality with the parent) and returns true; returns
    * FALSE when the commit is not delta-served — legacy history or a
    * retention gap (`prev` is not the parent) — and the caller must
    * re-seed from a hydration. THE delta/no-op/legacy classification every
    * incremental walk shares ([[addedBetween]], [[snapshotsView]],
    * retention/rollback's [[liveUnions]]), so the rules cannot drift. */
  private def foldCommit(prev: Option[Snapshot], cur: Snapshot)(
      remove: String => Unit, add: DataFileMeta => Unit): Boolean = {
    val contiguous = prev.exists(_.id == cur.id - 1)
    deltaOf(cur) match {
      case Some(d) if contiguous =>
        d.removed.foreach(remove(_))
        d.added.foreach(add(_))
        true
      case None if contiguous && cur.manifestList.nonEmpty &&
          prev.exists(_.manifestList == cur.manifestList) =>
        true // no-op commit: parent's fold is this commit's fold
      case _ => false
    }
  }

  /** Raw snapshot manifests, id-ordered, WITHOUT hydration — `files` stays
    * empty on v2 snapshots. O(retained) parses of O(delta)-sized JSON;
    * surfaces needing a live set hydrate exactly the snapshots they touch
    * ([[hydrated]]). Entries vanishing under the walk (concurrent
    * rollback/expiry) are skipped. */
  def snapshotHeaders: Seq[Snapshot] =
    listDir(Paths.get(snapDir)).iterator
      .filter(_.getFileName.toString.matches("snap-\\d+\\.json"))
      .flatMap { p =>
        try Some(mapper.readValue(Files.readAllBytes(p), classOf[Snapshot]))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      .toSeq.sortBy(_.id)

  /** One snapshot by id, hydrated — a direct manifest read, never an
    * O(retained) scan. */
  def snapshotAt(id: Long): Option[Snapshot] = {
    val p = Paths.get(snapDir, s"snap-$id.json")
    try
      if (Files.exists(p))
        Some(hydrated(mapper.readValue(Files.readAllBytes(p), classOf[Snapshot])))
      else None
    catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** Cheap existence check (no parse, no hydration). */
  def hasSnapshot(id: Long): Boolean =
    Files.exists(Paths.get(snapDir, s"snap-$id.json"))

  /** The head snapshot ID from the directory listing alone — what the
    * streaming sources poll per trigger (`latestOffset`): zero JSON parses,
    * zero hydration, O(retained) filename scans only. */
  def latestSnapshotId: Option[Long] = {
    val ids = listDir(Paths.get(snapDir)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.matches("snap-\\d+\\.json"))
        Some(n.stripPrefix("snap-").stripSuffix(".json").toLong)
      else None
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  def snapshots: Seq[Snapshot] = snapshotHeaders.map(hydrated)

  /** The head snapshot, reading ONLY the max-id manifest — commit planning
    * and scans never pay an O(retained snapshots) parse. Retries the list
    * when a concurrent rollback deletes the chosen head under the read. */
  def latestSnapshot: Option[Snapshot] = {
    var attempt = 0
    while (attempt < 4) {
      val ids = listDir(Paths.get(snapDir)).flatMap { p =>
        val n = p.getFileName.toString
        if (n.matches("snap-\\d+\\.json"))
          Some(n.stripPrefix("snap-").stripSuffix(".json").toLong)
        else None
      }
      if (ids.isEmpty) return None
      try return Some(hydrate(mapper.readValue(
        Files.readAllBytes(Paths.get(snapDir, s"snap-${ids.max}.json")),
        classOf[Snapshot])))
      catch { case _: java.nio.file.NoSuchFileException => attempt += 1 }
    }
    // Sustained concurrent-rollback fallback: walk ids NEWEST-FIRST,
    // skipping any entry whose snapshot or manifest file vanished under the
    // read (a full `snapshots` parse here would throw on the same race).
    listDir(Paths.get(snapDir)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.matches("snap-\\d+\\.json"))
        Some(n.stripPrefix("snap-").stripSuffix(".json").toLong)
      else None
    }.sorted.reverse.foreach { id =>
      try return Some(hydrate(mapper.readValue(
        Files.readAllBytes(Paths.get(snapDir, s"snap-$id.json")),
        classOf[Snapshot])))
      catch { case _: java.nio.file.NoSuchFileException => () }
    }
    None
  }

  /** Atomically publish the next snapshot; optimistic retry on id collision
    * (concurrent writer + compactor). `recompute` receives the current live
    * file list and returns this commit's CHANGE (added metas, removed
    * paths, batch id) — the new live set is derived (base − removed +
    * added), so commit metadata and changelog evidence are O(delta) by
    * construction instead of a caller-recomputed full list the planner
    * would have to re-diff. */
  private def commit(recompute: Seq[DataFileMeta] => CommitChange,
      writer: Option[(String, Long)] = None,
      changelog: Seq[DataFileMeta] = Seq.empty,
      produced: Boolean = false,
      clogFrom: Option[Long] = None,
      kind: String = "append",
      /** Dynamic bucket mode: the count this commit's staged labels were
        * stamped under — carried into the snapshot. None = carry the base's
        * stamp forward unchanged (metadata-only commits, fixed tables). */
      buckets: Option[Int] = None): Snapshot = {
    var attempt = 0
    while (true) {
      val base = latestSnapshot
      // dynamic-bucket conflict guard: labels were stamped under `buckets`;
      // if the table's count moved since (an external split — the inline
      // split runs on the writer's own thread and cannot race itself),
      // committing them would scatter keys across generations of the hash —
      // refuse loudly. The SPLIT commit itself (kind=compact) is the one
      // legitimate count change.
      val baseCount = base.flatMap(_.bucketCount)
      buckets.filter(_ => isDynamicBucket && kind != "compact").foreach { c =>
        if (baseCount.getOrElse(dynBucketInitial) != c)
          throw new java.util.ConcurrentModificationException(
            s"this commit's files were labeled under bucket count $c but " +
              s"$root is now at ${baseCount.getOrElse(dynBucketInitial)} " +
              "(concurrent split) — rerun the write")
      }
      val baseFiles = base.map(_.files).getOrElse(Seq.empty)
      val ch = recompute(baseFiles)
      // the sorted-run invariant the PK readers' k-way merge stands on
      primaryKey.foreach { pk =>
        ch.added.find(!_.sortedBy.contains(pk)).foreach { f =>
          throw new IllegalStateException(
            s"$root: refusing to commit ${f.path}: a primary-key data file " +
              s"must be a sorted run on ${pk.mkString(", ")}")
        }
      }
      val basePaths = baseFiles.iterator.map(_.path).toSet
      // an added meta whose path is already live replaces it: remove+re-add
      val removedAll =
        ch.removedPaths ++ ch.added.iterator.map(_.path).filter(basePaths)
      val files = baseFiles.filterNot(f => removedAll(f.path)) ++ ch.added
      val (list, deltaName) =
        planManifestList(base, files, ch.added, removedAll, baseFiles, kind)
      val next = Snapshot(base.map(_.id + 1).getOrElse(0L),
        System.currentTimeMillis(), ch.batchId, files,
        bucketCount =
          if (isDynamicBucket) buckets.orElse(baseCount).orElse(Some(dynBucketInitial))
          else None,
        writer = writer.map(_._1), writerEpoch = writer.map(_._2),
        changelog = changelog, clogProduced = produced, clogFromId = clogFrom,
        kind = kind, manifestList = list, deltaManifest = deltaName)
      // the snapshot JSON persists files = [] — the live set is the
      // manifest-list fold, so commit metadata stays O(this commit's delta).
      // The publish itself is the pluggable CAS primitive (POSIX link by
      // default, conditional-put on an object store — see
      // [[SnapshotCommitter]]); a lost race re-reads state and retries
      // under a fresh id.
      if (committer.publish(Paths.get(snapDir, s"snap-${next.id}.json"),
          mapper.writeValueAsBytes(next.copy(files = Seq.empty))))
        return next
      attempt += 1
      if (attempt > 100) throw new IllegalStateException(
        s"commit contention on $snapDir: gave up after $attempt attempts")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The snapshot-publish CAS this table commits through — swappable for
    * object-store deployments and race-injection tests; the POSIX link
    * default is correct for any fail-if-exists filesystem. */
  @volatile private[graft] var committer: SnapshotCommitter = PosixLinkCommitter

  /** List-length cap before a commit rebases the fold into one full
    * manifest: deltas stay O(change) per commit; the O(live files) rewrite
    * happens once per `MaxManifestList` commits (amortized O(files/N), the
    * Paimon/Iceberg manifest-compaction policy). */
  private val MaxManifestList = 16

  /** One commit's change relative to its base (see [[commit]]). */
  private case class CommitChange(added: Seq[DataFileMeta],
      removedPaths: Set[String], batchId: Long)

  /** The next snapshot's (manifestList, deltaManifest): reuse the base list
    * and append one delta carrying EXACTLY this commit's change (handed in
    * by [[commit]] — never re-derived by diffing full lists); rebase to a
    * single full manifest when the list is at cap or the base is a legacy
    * inline snapshot (one-time conversion), still recording the commit's
    * own delta separately so change surfaces stay O(delta) across rebases.
    * A no-op commit reuses the base list verbatim — zero manifest bytes. */
  private def planManifestList(base: Option[Snapshot], files: Seq[DataFileMeta],
      added: Seq[DataFileMeta], removed: Set[String],
      baseFiles: Seq[DataFileMeta], kind: String)
      : (Seq[String], Option[String]) = {
    def write(d: ManifestDelta): String = {
      val name = s"mf-${UUID.randomUUID()}.json"
      Files.write(Paths.get(manifestDir, name), mapper.writeValueAsBytes(d))
      manifestCache.synchronized(manifestCache.put(name, d))
      name
    }
    val baseList = base.map(_.manifestList).getOrElse(Seq.empty)
    val legacyBase = base.exists(s => s.manifestList.isEmpty && s.files.nonEmpty)
    val noop = added.isEmpty && removed.isEmpty
    // a legacy base must STILL rebase on a no-op commit: the snapshot JSON
    // persists files = [], so an empty manifest list would read as an empty
    // table — the live set must ride in the (full) manifest either way
    if (noop && !legacyBase) return (baseList, None)
    // `-D` evidence rides in the delta for state-REPLACING commits only: a
    // compaction's removals are absorbed maintenance, an append removes
    // nothing — so evidence bytes stay O(logical change)
    val addedPaths = added.iterator.map(_.path).toSet
    val evidence =
      if (kind == "compact" || removed.isEmpty) None
      else Some(baseFiles.filter(f => removed(f.path) && !addedPaths(f.path)))
    val deltaName =
      if (noop) None
      else Some(write(ManifestDelta(added, removed.toSeq.sorted, evidence)))
    if (legacyBase || baseList.size >= MaxManifestList)
      (Seq(write(ManifestDelta(added = files))), deltaName)
    else (baseList :+ deltaName.get, deltaName)
  }

  // ---- writes ------------------------------------------------------------

  /** Write one (micro-)batch. Idempotent on `batchId`: replaying a batch after
    * a failure commits nothing (exactly-once file commits, the Structured
    * Streaming `batchId` + Paimon checkpoint-commit pattern). */
  def appendBatch(df: DataFrame, batchId: Long): Unit = {
    if (replaySkip("appendBatch", batchId)) return
    val wb = if (isDynamicBucket) Some(currentBuckets) else None
    val metas = stageBatchFiles(df, batchId)
    // the producer's diff is computed against the CURRENT resolved state —
    // correct under the single-logical-writer contract (a concurrent
    // compactor never changes the resolved state, so an interleaved
    // compaction commit cannot invalidate the staged changelog)
    // an empty micro-batch (trickle stream) stages no files — nothing to
    // diff. The TABLE's first snapshot also skips: a changelog file for
    // snapshot 0 is unreachable by construction (a CDC interval (s, e]
    // rides the delta path only for s ≥ 0, so it never covers snapshot 0;
    // the initial catch-up (s = -1) resolves the live state directly) —
    // producing it would be a full-table write nobody ever reads.
    val clog =
      if (clogAtWrite && metas.nonEmpty && latestSnapshot.isDefined)
        stageChangelog(metas, batchId)
      else Seq.empty
    commit(_ => CommitChange(metas, Set.empty, batchId),
      changelog = clog, produced = clogAtWrite, buckets = wb)
    // dynamic bucket growth rides the write path (Paimon's assigner packs
    // at write time too): a metadata-only census probe per commit, a split
    // only when a bucket actually outgrew the target
    if (isDynamicBucket) maybeSplitBuckets()
  }

  /** Persist this commit's netted change rows (`changelog-producer`,
    * guide.md:69-73): per key the batch touched, the OLD resolved image
    * retracts and the NEW resolved image asserts — exactly one commit's
    * slice of [[changelogWithRetractions]], written as level-0 files under
    * `data/changelog/` and referenced by the snapshot. Cost: one k-way
    * merge of the TOUCHED buckets (bucket-pruned when the layout allows),
    * not the table — the write-time dual of Paimon's 'lookup' producer;
    * the payoff is every downstream CDC trigger reading O(interval
    * changelog) instead of re-resolving two full snapshots. */
  private def stageChangelog(newMetas: Seq[DataFileMeta], batchId: Long): Seq[DataFileMeta] = {
    val pk = primaryKey.get
    val prev = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    // only buckets this commit touched can change — prune the resolve to them
    val prevKept =
      if (bucketKey.isDefined && prev.forall(_.bucket.isDefined) &&
          newMetas.forall(_.bucket.isDefined)) {
        val touched = newMetas.flatMap(_.bucket).toSet
        prev.filter(f => touched.contains(f.bucket.get))
      } else prev
    // the per-bucket state diff: per key the new files touch, the fold of
    // the previous files retracts and the fold of previous + new asserts
    // (first commit into a bucket: every touched key is +I); persisted
    // co-located with its key's bucket (writeClustered's content-derived
    // labeling) so the CDC reader keeps the per-bucket plan. A previous
    // file written before sorted runs were required is diffed through a
    // key-sorted copy, so appends keep working until compaction upgrades
    // the layout.
    val sortedRuns = s"$root/.staging-${UUID.randomUUID()}"
    try {
      val prevRuns = asSortedRuns(prevKept, pk, sortedRuns)
      val ops = graft.sources.v2.ChangelogPlanning.diffFrame(this, prevRuns,
        prevRuns ++ newMetas, newMetas)
      persistChangelog(ops, batchId, s"cl$batchId")
    } finally deleteRecursively(Paths.get(sortedRuns))
  }

  /** Stage a netted-ops frame (`op` column + images) as level-0 changelog
    * files under `data/changelog/` — co-located with their key's bucket via
    * [[writeClustered]]'s content-derived labeling so the CDC reader keeps
    * the per-bucket plan. Shared by the write-time producer
    * ([[stageChangelog]]) and the deferred (compaction-time) producer. */
  private def persistChangelog(ops: DataFrame, batchId: Long,
      prefix: String): Seq[DataFileMeta] = {
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val moved = writeClustered(ops, sortKey = None, staging, dataChangelog,
      prefix)
    val (metas, empties) = fileMetas(spark, moved.map(_._1), level = 0,
      minSeq = batchId, maxSeq = batchId)
      .zip(moved).map { case (m, (_, k)) =>
        if (bucketKey.isDefined) m.copy(bucket = Some(k)) else m
      }.partition(_.rowCount > 0)
    empties.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
    metas
  }

  /** Atomic whole-table replacement (`INSERT OVERWRITE`, Paimon/Flink's
    * batch overwrite): the new snapshot's live set is EXACTLY this batch's
    * files — readers see the old table until the single manifest commit,
    * then only the new one (never a mix). The replaced files stay on disk
    * for time travel until retention expires their snapshots. Same
    * batch-id idempotency as [[appendBatch]].
    *
    * Concurrency: an overwrite racing a concurrent append is
    * last-committer-wins for the WHOLE table (the overwrite's live set is
    * total by definition — an append that commits before it is replaced
    * like any pre-existing data, one that commits after it survives).
    * Quiesce streaming writers before an overwrite whose input was derived
    * from the table itself. */
  def overwriteBatch(df: DataFrame, batchId: Long): Unit = {
    if (replaySkip("overwriteBatch", batchId)) return
    val wb = if (isDynamicBucket) Some(currentBuckets) else None
    val metas = stageBatchFiles(df, batchId)
    // an overwrite is a whole-table replacement, not an incremental change —
    // no changelog is produced (clogProduced=false) and a CDC interval
    // covering it falls back to the state diff, which counts the REMOVED
    // files (any level) as changed-key evidence: keys the overwrite dropped
    // emit -D (see StreamTable.intervalEvidence)
    commit(live => CommitChange(metas, live.iterator.map(_.path).toSet, batchId),
      kind = "overwrite", buckets = wb)
    if (isDynamicBucket) maybeSplitBuckets()
  }

  /** Static PARTITION overwrite (`INSERT OVERWRITE … PARTITION (p = v)`):
    * stage the new rows, let the caller's callbacks decide EXACTLY which
    * live files the named partition covers (and that every staged row
    * belongs to it — both decisions ride manifest stats, owned by the V2
    * layer's FileSkip), then swap removed-for-staged in ONE atomic
    * "overwrite" commit. Untouched partitions survive byte-identical; the
    * pre-overwrite snapshot stays time-travelable. */
  private[graft] def commitPartitionOverwrite(df: DataFrame,
      removedOf: Seq[DataFileMeta] => Seq[DataFileMeta],
      validateStaged: Seq[DataFileMeta] => Unit,
      batchId: Long): Unit = {
    require(partitionKeys.isDefined,
      s"$root is not a partitioned table (PARTITIONED BY) — " +
        "a filtered INSERT OVERWRITE has no exact file-level meaning")
    if (replaySkip("commitPartitionOverwrite", batchId)) return
    val metas = stageBatchFiles(df, batchId)
    try validateStaged(metas)
    catch { case e: Throwable =>
      metas.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
      throw e
    }
    commit({ live =>
      CommitChange(metas, removedOf(live).map(_.path).toSet, batchId)
    }, kind = "overwrite")
  }

  /** DYNAMIC partition overwrite over EXTERNALLY-staged files (the V2
    * distributed BatchWrite: executor writers already wrote the staged
    * parquet with task-captured stats): move them into the append dir,
    * assemble manifest entries with ZERO driver footer opens, let the
    * caller's callbacks derive the replaced partitions (validateStaged sees
    * the staged metas first; removedOf runs INSIDE the commit's CAS retry
    * closure against the then-live set), and swap removed-for-staged in one
    * atomic "overwrite" commit.
    *
    * `truncateAll` serves `overwritePartitions()` on an UNPARTITIONED table
    * (Paimon's posture: the staged rows are "the whole table"): a plain
    * atomic truncate-overwrite — removedOf must then return the entire live
    * set and no partition proof is required.
    *
    * Concurrency: this is a BATCH write, never a checkpoint-replayed
    * streaming epoch — its batchId was claimed at PLAN time and the whole
    * distributed write job runs before this commit, so a concurrent commit
    * claiming the same (or a later) batch sequence is a genuine conflict,
    * not a replay. Silently skipping (the streaming replaySkip posture)
    * would report success to Spark while dropping the overwrite — data
    * loss. The conflict check runs INSIDE the CAS retry closure, so it is
    * re-evaluated against the freshest committed state on every retry and
    * fails loudly; the staged files are cleaned up and the caller reruns
    * the job under a fresh sequence. A concurrent COMPACTION never bumps
    * the batch watermark, so maintenance racing the overwrite still rides
    * the normal CAS retry. */
  private[graft] def commitExternalPartitionOverwrite(
      staged: Seq[StreamTable.StagedSinkFile],
      removedOf: Seq[DataFileMeta] => Seq[DataFileMeta],
      validateStaged: Seq[DataFileMeta] => Unit,
      batchId: Long,
      truncateAll: Boolean = false): Unit = {
    require(truncateAll || partitionKeys.isDefined,
      s"$root is not a partitioned table (PARTITIONED BY) — " +
        "a dynamic overwrite has no exact file-level meaning")
    val now = System.currentTimeMillis()
    val moved = staged.zipWithIndex.map { case (sf, k) =>
      val dest = Paths.get(dataAppend,
        s"dynow$batchId-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(Paths.get(sf.path), dest, StandardCopyOption.ATOMIC_MOVE)
      (dest.toString, sf)
    }
    val metas = moved.map { case (p, sf) =>
      DataFileMeta(p, sf.stats.rows, Files.size(Paths.get(p)),
        minSeq = batchId, maxSeq = batchId, level = 0, creationTimeMs = now,
        bucket = sf.bucket,
        sortedBy = if (sf.sorted && primaryKey.isDefined) primaryKey else None,
        minStats = Some(sf.stats.mins), maxStats = Some(sf.stats.maxs),
        fileCols = Some(sf.stats.cols), badStats = Some(sf.stats.bad),
        nullStats = Some(sf.stats.nulls.map { case (k, v) => k -> v.toString }))
    }
    try {
      validateStaged(metas)
      commit({ live =>
        val latest = latestSnapshot.map(_.batchId).getOrElse(-1L)
        if (latest >= batchId && batchId >= 0)
          throw new java.util.ConcurrentModificationException(
            s"dynamic overwrite of $root lost its batch sequence: a " +
              s"concurrent writer committed batchId=$latest >= the " +
              s"overwrite's claimed $batchId during the write job — " +
              "rerun the overwrite (it will claim a fresh sequence)")
        CommitChange(metas, removedOf(live).map(_.path).toSet, batchId)
      }, kind = "overwrite")
    } catch { case e: Throwable =>
      metas.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
      throw e
    }
  }

  /** Metadata-only file drop (the partition-aligned DELETE / Paimon
    * drop-partition): remove exactly `paths` from the live set in ONE
    * commit — zero data bytes read or written at any table size. The
    * CALLER owns the proof that whole files are the right granularity
    * (the V2 door proves it from single-valued partition stats); the
    * dropped files stay time-travelable until retention reclaims them.
    * Same "overwrite" changelog posture as a partition overwrite: a CDC
    * interval covering it counts the removed files as -D evidence. */
  private[graft] def dropFiles(paths: Set[String]): Unit = {
    if (paths.isEmpty) return
    commit({ live =>
      val gone = paths -- live.iterator.map(_.path).toSet
      require(gone.isEmpty, s"dropFiles: ${gone.size} file(s) are not live " +
        s"(concurrent maintenance? e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(Seq.empty, paths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, kind = "overwrite")
  }

  private def replaySkip(op: String, batchId: Long): Boolean = {
    val skip = latestSnapshot.exists(s => s.batchId >= batchId && batchId >= 0)
    if (skip) {
      // Replay of an already-committed batch (normal after a streaming
      // restart) — but a non-monotonic id from a FRESH writer would be
      // silently dropped here, so make the skip observable. writeStream
      // avoids the fresh-checkpoint case via its writer-epoch offset.
      log.warn(s"$op skipped: batchId=$batchId already committed " +
        s"(latest=${latestSnapshot.map(_.batchId).getOrElse(-1L)}) at $root")
    }
    skip
  }

  /** Distributed staging write + atomic per-file rename into the append
    * dir; returns the committed-ready file metadata. */
  private def stageBatchFiles(df: DataFrame, batchId: Long): Seq[DataFileMeta] = {
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val stamped = df.withColumn(SeqColName, lit(batchId))
    val sortKey = primaryKey.filter(pk => pk.forall(df.columns.contains))
    val moved = writeClustered(stamped, sortKey, staging, dataAppend, s"b$batchId")
    fileMetas(spark, moved.map(_._1), level = 0, minSeq = batchId, maxSeq = batchId)
      .zip(moved).map { case (m, (_, k)) =>
        val b = if (bucketKey.isDefined) m.copy(bucket = Some(k)) else m
        if (sortKey.isDefined) b.copy(sortedBy = sortKey) else b
      }
  }

  /** One definition of the physical layout contract, for every staged write:
    *
    *  - Paimon hash bucketing ('bucket-key', guide.md:28-29): each row's
    *    bucket is `pmod(murmur3(key), numBuckets)` — computed EXPLICITLY as
    *    a column and written via `partitionBy`, so the recorded bucket id is
    *    derived from ROW CONTENT, never from the output part index. (The
    *    part-index shortcut is a correctness landmine: when the input is
    *    already hash-partitioned on the key — any groupBy/window resolve —
    *    and `spark.sql.shuffle.partitions == numBuckets`, Catalyst elides
    *    the explicit repartition and AQE may then coalesce the surviving
    *    shuffle, collapsing "one part per bucket" without warning.) The
    *    repartition is kept as best-effort clustering: one file per bucket
    *    when it holds, several correctly-labeled files when it does not.
    *  - PK files write as SORTED RUNS (ascending pk, the LSM invariant): a
    *    cheap per-partition sort at write buys the reader a streaming k-way
    *    merge with O(open files) memory. The sort leads with the bucket
    *    column so the dynamic-partition writer keeps it (its own
    *    partition-column sort requirement is already satisfied — it would
    *    otherwise re-sort and destroy the pk order). Row order never
    *    affects the resolved VIEW (LWW orders by sequence, not position).
    *
    * Returns (path, bucketId) per file; bucketId is the staging part index
    * for unbucketed tables (callers ignore it there). */
  private def writeClustered(stamped: DataFrame, sortKey: Option[Seq[String]],
      staging: String, destDir: String, prefix: String,
      /** Dynamic bucket mode: the count to stamp labels under — a SPLIT
        * rewrite passes its new count; everything else labels under the
        * head's current count. */
      bucketsOverride: Option[Int] = None): Seq[(String, Int)] = {
    val nb = bucketsOverride.getOrElse(currentBuckets)
    // PARTITIONED BY: directory-split on COPIES of the partition columns —
    // partitionBy drops the copies from the files (the originals stay IN
    // the payload), and every written file comes out SINGLE-VALUED in every
    // partition key, the property exact pruning/overwrite stands on
    val pcols = partitionKeys.getOrElse(Seq.empty)
    val pdirs = pcols.map(c => s"$PdirColPrefix$c")
    def withPdirs(df: DataFrame): DataFrame =
      pcols.zip(pdirs).foldLeft(df) { case (d, (c, p)) => d.withColumn(p, col(c)) }
    bucketKey match {
      case Some(k) =>
        val laid = withPdirs(stamped)
          .withColumn(BucketColName, pmod(hash(col(k)), lit(nb)))
          .repartition(nb, col(k))
        val ordered = laid.sortWithinPartitions(
          (BucketColName +: sortKey.getOrElse(Seq.empty)).map(col): _*)
        StreamTable.withMicrosTimestamps(spark)(
          ordered.write.mode("overwrite")
            .partitionBy(pdirs :+ BucketColName: _*).parquet(staging))
        if (pdirs.isEmpty) moveStagedBuckets(staging, destDir, prefix)
        else moveStagedTree(staging, destDir, prefix)
      case None if pdirs.nonEmpty =>
        val ordered = sortKey match {
          case Some(pk) => withPdirs(stamped).sortWithinPartitions(pk.map(col): _*)
          case None     => withPdirs(stamped)
        }
        StreamTable.withMicrosTimestamps(spark)(
          ordered.write.mode("overwrite").partitionBy(pdirs: _*).parquet(staging))
        moveStagedTree(staging, destDir, prefix)
      case None =>
        val ordered = sortKey match {
          case Some(pk) => stamped.sortWithinPartitions(pk.map(col): _*)
          case None     => stamped
        }
        StreamTable.withMicrosTimestamps(spark)(
          ordered.write.mode("overwrite").parquet(staging))
        moveStagedParts(staging, destDir, prefix)
    }
  }

  /** Move a NESTED `partitionBy(…)` staging layout (partition-value dirs,
    * optionally with a bucket level) into `destDir`; the bucket id, when
    * present, comes from its directory-name component. */
  private def moveStagedTree(staging: String, destDir: String,
      prefix: String): Seq[(String, Int)] = {
    val all = {
      val s = Files.walk(Paths.get(staging))
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toVector.sortBy(_.toString)
      finally s.close()
    }
    val moved = all.zipWithIndex.map { case (p, i) =>
      val bucket = (0 until p.getNameCount).iterator.map(p.getName(_).toString)
        .collectFirst { case n if n.startsWith(s"$BucketColName=") =>
          n.stripPrefix(s"$BucketColName=").toInt }
      val dest = Paths.get(destDir,
        s"$prefix-${UUID.randomUUID().toString.take(8)}-$i.parquet")
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      (dest.toString, bucket.getOrElse(i))
    }
    deleteRecursively(Paths.get(staging))
    moved
  }

  /** Move a `partitionBy(bucket)` staging layout into `destDir`; the bucket
    * id comes from the partition DIRECTORY name (authoritative — written
    * from row content). */
  private def moveStagedBuckets(staging: String, destDir: String,
      prefix: String): Seq[(String, Int)] = {
    val moved = listDir(Paths.get(staging)).iterator
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"$BucketColName="))
      .toSeq.sortBy(_.toString)
      .flatMap { dir =>
        val k = dir.getFileName.toString.stripPrefix(s"$BucketColName=").toInt
        listDir(dir).iterator
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(_.toString).map { p =>
            val dest = Paths.get(destDir,
              s"$prefix-${UUID.randomUUID().toString.take(8)}-$k.parquet")
            Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
            (dest.toString, k)
          }
      }
    deleteRecursively(Paths.get(staging))
    moved
  }

  /** Commit files written OUTSIDE the table's own staging (the V2 streaming
    * sink's executor-side writers): move them into the append dir and
    * publish one snapshot, idempotent PER (writerId, epoch).
    *
    * Replay detection is per-writer evidence — the snapshot this writer's
    * epoch produced (primary, crash-safe: the replay window is at most the
    * last uncommitted-to-checkpoint epoch, far inside any retention
    * policy) plus a best-effort high-water file (survives even retention).
    * The GLOBAL batch-id watermark cannot serve here: any other writer
    * advancing it would make a new sink epoch look already-committed and
    * its data would be deleted as a "replay". The committed batch id is
    * simply the next fresh one.
    *
    * Guard: if the table's live history carries stamped commit sequences
    * (PK/stamped DataFrame writers), UNSTAMPED sink rows would corrupt the
    * LWW ordering — refuse and direct to [[writeStream]]. A sink that
    * stamps (`stampedSeq` — the PK sink's `offset + epoch`) passes: its
    * files physically carry [[SeqColName]] like every appendBatch file.
    *
    * `staged` carries each file's content-derived bucket id (None =
    * unbucketed write) so sink-fed tables keep the per-bucket read paths,
    * plus the column stats its writer task already captured — the manifest
    * entry is assembled here without reopening any footer. */
  private[graft] def commitExternalFiles(staged: Seq[StreamTable.StagedSinkFile],
      writerId: String, epochId: Long, stampedSeq: Option[Long] = None): Unit = {
    require(writerId.matches("[A-Za-z0-9._-]+"), s"illegal writer id '$writerId'")
    val committed =
      snapshotHeaders.exists(s => s.writer.contains(writerId) &&
        s.writerEpoch.exists(_ >= epochId)) || highWater(writerId) >= epochId
    if (committed) {
      log.warn(s"commitExternalFiles skipped: $writerId epoch $epochId " +
        s"already committed at $root")
      staged.foreach(p => Files.deleteIfExists(Paths.get(p.path)))
      return
    }
    if (stampedSeq.isEmpty)
      latestSnapshot.flatMap(_.files.headOption).foreach { f =>
        // memoized per checked path (tiny LRU, capacity 2: the current head
        // plus one survivor across a rewrite) — the guard costs one footer
        // open per DISTINCT head file, not one per epoch. The footer I/O
        // runs OUTSIDE the cache lock so a slow filesystem never stalls
        // concurrent sink commits on the same handle; a racing duplicate
        // probe is idempotent (footers are immutable).
        val cached = stampGuardCache.synchronized(
          Option(stampGuardCache.get(f.path)))
        val stamped = cached.getOrElse {
          val conf = new org.apache.hadoop.conf.Configuration()
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.path), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val b = try java.lang.Boolean.valueOf(
            r.getFooter.getFileMetaData.getSchema.containsField(SeqColName))
          finally r.close()
          stampGuardCache.synchronized(stampGuardCache.put(f.path, b))
          b
        }
        if (stamped) throw new IllegalStateException(
          s"$root carries stamped commit sequences (PK or DataFrame-written " +
            "history); the V2 streaming sink writes unstamped rows and would " +
            "corrupt last-writer-wins ordering — use StreamTable.writeStream " +
            "or a catalog identifier instead")
      }
    // File names carry the writer epoch, NOT the batch id: the committed
    // batch id is derived INSIDE the commit() retry closure so a retry after
    // losing the optimistic race re-reads latestSnapshot and claims a FRESH
    // id. (Computing it once out here would let a concurrent writer advance
    // the table's batchId and then have our retry republish the stale lower
    // one — regressing the watermark that replaySkip compares against, so a
    // later replayed appendBatch would no longer be skipped.) A STAMPED sink
    // commit instead pins the batch id to the stamp already inside its rows
    // (floored at the current watermark so it stays monotone).
    val moved = staged.zipWithIndex.map { case (sf, k) =>
      val dest = Paths.get(dataAppend,
        s"w$epochId-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(Paths.get(sf.path), dest, StandardCopyOption.ATOMIC_MOVE)
      (dest.toString, sf)
    }
    // Stats arrive FROM THE WRITER TASKS (captured executor-side right
    // after each file closed) — the driver commit performs zero footer
    // opens per sink epoch. minSeq/maxSeq get restamped below. A
    // writer-VERIFIED key-sorted file records the sorted-run flag the
    // commit requires of every PK data file.
    val now = System.currentTimeMillis()
    val metas0 = moved.map { case (p, sf) =>
      DataFileMeta(p, sf.stats.rows, Files.size(Paths.get(p)),
        minSeq = 0L, maxSeq = 0L, level = 0, creationTimeMs = now,
        bucket = sf.bucket,
        sortedBy = if (sf.sorted && primaryKey.isDefined) primaryKey else None,
        minStats = Some(sf.stats.mins), maxStats = Some(sf.stats.maxs),
        fileCols = Some(sf.stats.cols), badStats = Some(sf.stats.bad),
        nullStats = Some(sf.stats.nulls.map { case (k, v) => k -> v.toString }))
    }
    // a stamped (PK) sink epoch under the changelog producer persists its
    // netted change rows like any appendBatch commit — sink-fed CDC readers
    // stay on the O(delta) fast path (the moved files already carry the
    // stamped sequences the resolve reads). The table's first snapshot
    // skips, same as appendBatch: its changelog is unreachable.
    val clog =
      if (clogAtWrite && stampedSeq.isDefined && latestSnapshot.isDefined)
        stageChangelog(metas0.map(m =>
          m.copy(minSeq = stampedSeq.get, maxSeq = stampedSeq.get)), stampedSeq.get)
      else Seq.empty
    commit(_ => {
      val next = latestSnapshot.map(s => math.max(s.batchId, -1L) + 1).getOrElse(0L)
      val b = stampedSeq.map(math.max(_, next)).getOrElse(next)
      val seq = stampedSeq.getOrElse(b)
      CommitChange(metas0.map(_.copy(minSeq = seq, maxSeq = seq)), Set.empty, b)
    }, writer = Some((writerId, epochId)),
      changelog = clog, produced = clogAtWrite && stampedSeq.isDefined)
    // best-effort high-water (replay evidence beyond retention); REPLACE is
    // fine — it is monotonic and secondary to the snapshot evidence
    val dir = Paths.get(root, "_writers")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, epochId.toString.getBytes)
    Files.move(tmp, dir.resolve(writerId), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Memoized stamped-history probe by head-file path (see the guard in
    * [[commitExternalFiles]]) — a 2-entry LRU: heads only move forward, so
    * old paths must not accumulate over a long-lived sink handle's
    * compaction history; keeping the current head plus one survivor absorbs
    * a compaction racing the probe. */
  private val stampGuardCache =
    new java.util.LinkedHashMap[String, java.lang.Boolean](4, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean = size > 2
    }

  private def highWater(writerId: String): Long = {
    val f = Paths.get(root, "_writers", writerId)
    if (Files.exists(f)) new String(Files.readAllBytes(f)).trim.toLong else -1L
  }

  /** Atomically rename staged parquet parts into `destDir` as
    * `<prefix>-<uuid>-<k>.parquet` and return (path, k) in part order —
    * the UNBUCKETED staging layout (`k` = the part-NNNNN index, parsed from
    * the name; callers ignore it). Bucketed writes go through
    * [[writeClustered]]/[[moveStagedBuckets]], whose bucket ids derive from
    * row content. */
  private def moveStagedParts(staging: String, destDir: String,
      prefix: String): Seq[(String, Int)] = {
    val parts = listDir(Paths.get(staging)).iterator
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val PartIdx = ".*part-(\\d+).*".r
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val k = p.getFileName.toString match {
        case PartIdx(n) => n.toInt
        case _ => i
      }
      val dest = Paths.get(destDir, s"$prefix-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      (dest.toString, k)
    }
    deleteRecursively(Paths.get(staging))
    moved
  }

  /** Delete rows by key (PK tables only): commits tombstone rows that the
    * read view resolves like any other update — completing the reference's
    * changelog alphabet (+I/-U/+U/-D, Readme.md:113-127 data model). The
    * tombstones are physically dropped at the next full compaction. */
  def deleteBatch(keys: DataFrame, batchId: Long): Unit = {
    val pk = primaryKey.getOrElse(
      throw new UnsupportedOperationException("deleteBatch requires a primary-key table"))
    // Paimon: aggregation tables reject deletes unless every function can
    // retract — none of ours carry retract state, so refuse loudly rather
    // than let a tombstone silently vanish into a sum
    if (engine != "deduplicate") throw new UnsupportedOperationException(
      s"merge-engine=$engine does not support deletes (no retract support)")
    // a tombstone is a row with only the key (+ sequence) populated and the
    // marker set; schema-merge fills the payload columns with nulls
    val stamped = seqCol match {
      case Some(c) if keys.columns.contains(c) =>
        // caller supplied the delete's sequence value (Paimon: a -D record
        // carries the sequence field; only deletes rows with smaller/equal seq)
        require(keys.columns.toSet == (pk :+ c).toSet,
          s"delete keys must be exactly $pk plus optional sequence column $c")
        keys
      case Some(c) =>
        // delete-current: stamp each tombstone with the key's live sequence
        // value, so it beats what is there now (tie broken by the later
        // batch id) but loses to any future row with a larger sequence
        require(keys.columns.toSeq == pk, s"delete keys must be exactly $pk")
        keys.join(read.groupBy(pk.map(col): _*).agg(max(col(c)).as(c)), pk, "left")
      case None =>
        require(keys.columns.toSeq == pk, s"delete keys must be exactly $pk")
        keys
    }
    appendBatch(stamped.withColumn(TombstoneColName, lit(true)), batchId)
  }

  /** Row-level `DELETE FROM … WHERE cond` (Paimon's batch delete). Returns
    * the number of rows deleted. Two strategies, matching how Paimon treats
    * the two table kinds:
    *
    *  - **PK table: merge-on-read.** The matching keys (from the resolved
    *    view) commit as delete tombstones via [[deleteBatch]] — no data file
    *    is rewritten; the next full compaction purges them. Cost is
    *    proportional to the matching keys, not the table.
    *  - **Append table: copy-on-write with touched-file pruning.** One
    *    predicate-pushdown scan finds which files actually CONTAIN matching
    *    rows (`input_file_name` group-by — a manifest-sized result, the
    *    same driver-side metadata scale as partition pruning); only those
    *    files are rewritten without their matching rows, and every
    *    untouched file survives in the new snapshot verbatim. At 100 TB a
    *    selective delete (a banned source, a GDPR key range) rewrites only
    *    the overlapping slice — the parquet min/max pushdown means
    *    non-overlapping files are not even fully read during discovery.
    *
    * SQL semantics: a row is deleted iff `cond` is TRUE; NULL keeps the row.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long = primaryKey match {
    case Some(pk) =>
      val keys = read.filter(cond).select(pk.map(col): _*)
      val n = keys.count()
      if (n > 0) deleteBatch(keys,
        latestSnapshot.map(s => math.max(s.batchId, -1L) + 1).getOrElse(0L))
      n
    case None =>
      dvDelete(cond).getOrElse(
        cowRewrite(cond,
          df => df.filter(!coalesce(cond, lit(false))),
          conserves = false))
  }

  /** DV-backlog guard for the delta DML fast paths: both [[dvDelete]] and
    * [[dvUpdate]] load EVERY live file's existing deletion-vector positions
    * into a driver map and broadcast it — bounded per statement by
    * [[StreamTable.dvMaxMatches]], but N small DMLs with auto-maintenance
    * off make the NEXT statement's driver load O(N·cap). Above the bound
    * the right trade flips anyway (readers pay the suppression join on
    * everything): fall back to COW for this statement and point operators
    * at the surgical remedy. */
  private def dvBacklogExceeded(live: Seq[DataFileMeta]): Boolean = {
    val backlog = live.iterator.map(_.dvCount.getOrElse(0L)).sum
    val bound = StreamTable.dvMaxBacklog
    val exceeded = backlog > bound
    if (exceeded) log.warn(
      s"$root carries $backlog accumulated deletion-vector positions " +
        s"(> $bound): this DML falls back to copy-on-write — run " +
        "CALL sys.materialize_deletes to purge the backlog and restore " +
        "the DV fast path")
    exceeded
  }

  /** Deletion-vector fast path for small append-table deletes (the GDPR
    * single-row case): instead of rewriting every touched file (COW, cost ∝
    * touched BYTES), record the matching row POSITIONS in a tiny sidecar per
    * file and swap the manifest entries in one commit — cost ∝ MATCHES.
    * Readers suppress the positions ([[readFiles]], the V2 scan's
    * partition-level vectors); compaction/COW materialize and purge them.
    * Returns None when the DV trade is wrong (matches above
    * [[StreamTable.dvMaxMatches]]) — the caller falls back to COW. Same
    * non-streaming posture as COW append-table DML (level-1 replacement:
    * re-added manifest entries are change-evidence-excluded by the re-add
    * rule, exactly like a rewritten file's surviving rows). */
  private def dvDelete(cond: org.apache.spark.sql.Column): Option[Long] = {
    val cap = StreamTable.dvMaxMatches
    if (cap <= 0) return None
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (live.isEmpty) return Some(0L)
    if (dvBacklogExceeded(live)) return None
    // positions must be raw file offsets: read WITHOUT the DV suppression
    // join (readFiles would hide _metadata behind it), suppress already-
    // deleted positions explicitly, then apply the predicate
    import spark.implicits._
    val raw = spark.read.schema(StreamTable.fileSchema(spark, live))
      .parquet(live.map(_.path): _*)
      .withColumn("__graft_dv_name", col("_metadata.file_name"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
    val existing: Map[String, Array[Long]] = live.collect {
      case f if f.dvCount.exists(_ > 0) =>
        Paths.get(f.path).getFileName.toString -> StreamTable.readDv(f.dvPath.get)
    }.toMap
    val current =
      if (existing.isEmpty) raw
      else raw.join(broadcast(existing.toSeq.flatMap { case (n, ps) =>
        ps.map((n, _)) }.toDF("__graft_dv_name", "__graft_dv_pos")),
        Seq("__graft_dv_name", "__graft_dv_pos"), "left_anti")
    val hits = current.filter(cond)
      .select(col("__graft_dv_name"), col("__graft_dv_pos"))
      .limit(cap + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.length > cap) return None // big delete: COW rewrites instead
    if (hits.isEmpty) return Some(0L)
    val byName = hits.groupBy(_._1)
    val nameToMeta = live.map(f =>
      Paths.get(f.path).getFileName.toString -> f).toMap
    require(nameToMeta.size == live.size,
      "duplicate data-file names across dirs (dv delete would mislabel)")
    val newMetas = byName.toSeq.sortBy(_._1).map { case (name, rows) =>
      val meta = nameToMeta.getOrElse(name, throw new IllegalStateException(
        s"dv delete matched unknown file $name"))
      val merged = (existing.getOrElse(name, Array.empty[Long]) ++
        rows.map(_._2)).distinct.sorted
      require(merged.length <= meta.rowCount,
        s"dv positions exceed rows of ${meta.path}")
      val dvFile = s"$dataDv/dv-${UUID.randomUUID()}.bin"
      StreamTable.writeDv(dvFile, merged)
      meta.copy(dvPath = Some(dvFile), dvCount = Some(merged.length.toLong))
    }
    val touchedPaths = newMetas.map(_.path).toSet
    commit { liveNow =>
      val gone = touchedPaths -- liveNow.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) out from under this delete (e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(newMetas, touchedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }
    Some(hits.length.toLong)
  }

  /** Row-level `UPDATE … SET … WHERE cond`. Returns the number of rows
    * updated. PK table: merge-on-read — the matching resolved images are
    * re-appended with the assignments applied, and last-writer-wins
    * resolution makes them supersede the old versions (the image keeps its
    * sequence value; the later commit batch breaks the tie), so no data
    * file is rewritten. Append table: the same copy-on-write touched-file
    * pruning as [[deleteWhere]], rewriting matching rows through the
    * assignments. Assignments are cast back to the column's existing type —
    * an UPDATE never mutates the schema. */
  def updateWhere(cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val cols = read.columns.toSet
    assignments.foreach { case (c, _) =>
      require(cols.contains(c), s"unknown column '$c' in UPDATE assignment") }
    primaryKey match {
      case Some(pk) =>
        require(engine == "deduplicate",
          s"merge-engine=$engine cannot express UPDATE as an upsert " +
            "(re-appended images would re-merge, not replace)")
        assignments.foreach { case (c, _) =>
          require(!pk.contains(c) && !seqCol.contains(c),
            s"UPDATE must not assign key/sequence column '$c'") }
        val schema = read.schema
        val images = read.filter(cond).select(schema.fieldNames.map { c =>
          assignments.collectFirst { case (`c`, e) => e }
            .map(_.cast(schema(c).dataType).as(c)).getOrElse(col(c))
        }: _*)
        val n = images.count()
        if (n > 0) appendBatch(graft.sources.v2.GraftV2Table.storedNames(this, images),
          latestSnapshot.map(s => math.max(s.batchId, -1L) + 1).getOrElse(0L))
        n
      case None =>
        dvUpdate(cond, assignments).getOrElse(
          cowRewrite(cond, { df =>
            val schema = df.schema
            df.select(schema.fieldNames.map { c =>
              assignments.collectFirst { case (`c`, e) =>
                when(coalesce(cond, lit(false)), e.cast(schema(c).dataType))
                  .otherwise(col(c)).as(c)
              }.getOrElse(col(c))
            }: _*)
          }, conserves = true))
    }
  }

  /** Deletion-vector fast path for small append-table UPDATEs — the library
    * door's analog of the V2 `rowlevel.mode=dv` delta operation, gated on
    * the same smallness cap as [[dvDelete]]: matched rows become vector
    * positions and their updated images append as level-1 files through
    * [[commitDeltaDml]], so NO data file is rewritten (cost ∝ matches, not
    * touched bytes — a 1-row fix no longer rewrites a 1 GB file, and the
    * table's file-level clustering survives). Two passes over the matching
    * slice (positions, then images); the commit's UPDATE conservation check
    * catches a non-deterministic condition drifting between them. Returns
    * None above the cap — the caller falls back to copy-on-write. */
  private def dvUpdate(cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Option[Long] = {
    val cap = StreamTable.dvMaxMatches
    if (cap <= 0) return None
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (live.isEmpty) return Some(0L)
    if (dvBacklogExceeded(live)) return None
    import spark.implicits._
    // raw file offsets: read WITHOUT the DV-suppression join, then drop
    // already-deleted positions explicitly (exactly dvDelete's discipline)
    val liveSchema = StreamTable.fileSchema(spark, live)
    def raw() = spark.read.schema(liveSchema)
      .parquet(live.map(_.path): _*)
      .withColumn("__graft_dv_name", col("_metadata.file_name"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
    val existing: Map[String, Array[Long]] = live.collect {
      case f if f.dvCount.exists(_ > 0) =>
        Paths.get(f.path).getFileName.toString -> StreamTable.readDv(f.dvPath.get)
    }.toMap
    def current(df: DataFrame) =
      if (existing.isEmpty) df
      else df.join(broadcast(existing.toSeq.flatMap { case (n, ps) =>
        ps.map((n, _)) }.toDF("__graft_dv_name", "__graft_dv_pos")),
        Seq("__graft_dv_name", "__graft_dv_pos"), "left_anti")
    val hits = current(raw()).filter(cond)
      .select(col("__graft_dv_name"), col("__graft_dv_pos"))
      .limit(cap + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.length > cap) return None // big update: COW rewrites instead
    if (hits.isEmpty) return Some(0L)
    // images: the matched rows with assignments applied, in table column
    // order, staged by executor writers (never materialized on the driver)
    val schema = read.schema
    val images = current(raw()).filter(cond).select(schema.fieldNames.map { c =>
      assignments.collectFirst { case (`c`, e) => e.cast(schema(c).dataType).as(c) }
        .getOrElse(col(c))
    }: _*)
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val parts = stageDmlOutput(images, staging)
    // commitDeltaDml keys deletes by PATH; translate the file NAMES the
    // metadata column yielded (unique across dirs — required like dvDelete)
    val nameToPath = live.map(f =>
      Paths.get(f.path).getFileName.toString -> f.path).toMap
    require(nameToPath.size == live.size,
      "duplicate data-file names across dirs (dv update would mislabel)")
    val deletes = hits.groupBy(_._1).map { case (name, rows) =>
      nameToPath.getOrElse(name, throw new IllegalStateException(
        s"dv update matched unknown file $name")) -> rows.map(_._2)
    }
    try Some(commitDeltaDml(deletes, parts, "UPDATE"))
    finally deleteRecursively(Paths.get(staging))
  }

  /** Stage row-level-DML output into `staging`, PARTITION-CLUSTERED when
    * the table is PARTITIONED BY (directory-split on dropped copies, the
    * original columns stay in the payload — exactly [[writeClustered]]'s
    * layout rule): DML replacement/image files then stay single-valued in
    * every partition key, so the partition proofs (exact pruning, metadata
    * DELETE, static/dynamic overwrite, `$partitions`) survive UPDATE/MERGE/
    * DELETE instead of refusing until the next compaction. Returns the
    * staged parquet files (nested when partitioned). */
  private def stageDmlOutput(df: DataFrame, staging: String): Seq[String] = {
    val pcols = partitionKeys.getOrElse(Seq.empty).filter(df.columns.contains)
    val pdirs = pcols.map(c => s"$PdirColPrefix$c")
    val laid = pcols.zip(pdirs).foldLeft(df) { case (d, (c, p)) =>
      d.withColumn(p, col(c)) }
    StreamTable.withMicrosTimestamps(spark)(
      (if (pdirs.isEmpty) laid.write else laid.write.partitionBy(pdirs: _*))
        .mode("overwrite").parquet(staging))
    val s = Files.walk(Paths.get(staging))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).map(_.toString)
      .toVector.sorted
    finally s.close()
  }

  /** Shared copy-on-write machinery for append-table row-level ops: one
    * pushdown scan discovers the touched files and per-file match counts,
    * only those files rewrite through `rewrite`, the manifest swaps
    * atomically (files appended concurrently since the discovery scan are
    * kept, like [[compact]]). Returns the number of matching rows. */
  private def cowRewrite(cond: org.apache.spark.sql.Column,
      rewrite: DataFrame => DataFrame, conserves: Boolean): Long = {
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (live.isEmpty) return 0L
    // the driver receives the touched-file SET (which the planner needs)
    // plus ONE total-match scalar — never per-file match counts: on a
    // million-file table the discovery payload is bounded by the distinct
    // touched paths, deduped map-side by the partial collect_set
    val found = readFiles(live).filter(cond)
      .select(input_file_name().as("__graft_file"))
      .agg(collect_set(col("__graft_file")).as("files"),
        count(lit(1)).as("n")).head()
    val matches = found.getLong(1)
    if (matches == 0L) return 0L
    val touchedPaths0 = found.getSeq[String](0).map(stripScheme).toSet
    val touched = live.filter(f => touchedPaths0.contains(f.path))
    require(touched.size == touchedPaths0.size, // a path with no live meta
      s"cow discovery returned unknown files: ${touchedPaths0.diff(touched.map(_.path).toSet).take(3)}")
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val parts = stageDmlOutput(rewrite(readFiles(touched)), staging)
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val moved = parts.zipWithIndex.map { case (p, k) =>
      val dest = Paths.get(dataCompact,
        s"u$snapId-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(Paths.get(p), dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toString
    }
    deleteRecursively(Paths.get(staging))
    // level 1: a row-level rewrite is maintenance output, not a logical
    // insert — changesBetween must not re-emit surviving rows as +I
    val metas = fileMetas(spark, moved, level = 1,
      minSeq = touched.map(_.minSeq).min, maxSeq = touched.map(_.maxSeq).max)
      .filter(_.rowCount > 0) // an all-deleted file leaves no output
    // conservation against LIVE rows: readFiles suppressed each touched
    // file's deletion vector, so dv'd rows never entered the rewrite
    val (inRows, outRows) =
      (touched.map(_.liveRowCount).sum, metas.map(_.rowCount).sum)
    val expected = if (conserves) inRows else inRows - matches
    require(outRows == expected,
      s"row-level rewrite row mismatch: $inRows in, $outRows out, expected $expected")
    val touchedPaths = touched.map(_.path).toSet
    // same concurrent-maintenance guard as [[rewriteLive]]: a touched file
    // that vanished from the live set was rewritten by another job, and
    // committing our copy of its surviving rows would duplicate them
    commit { liveNow =>
      val gone = touchedPaths -- liveNow.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) out from under this row-level op (e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(metas, touchedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }
    matches
  }

  /** Commit a copy-on-write group replacement prepared by an EXTERNAL
    * distributed writer (the V2 row-level operation's executor writers):
    * atomically swap `removedPaths` (the files a row-level scan read) for
    * the staged replacement files. The dual of [[cowRewrite]] with the
    * rewrite itself already done by Spark's ReplaceData plan.
    *
    *  - `mode` carries the SQL command for the conservation check: UPDATE
    *    replaces every scanned row exactly once, DELETE can only shrink,
    *    MERGE may grow (inserts) or shrink (matched deletes) — unchecked.
    *  - same concurrent-maintenance guard as [[cowRewrite]]: a removed file
    *    no longer live means another job rewrote it; committing our copy of
    *    its rows would duplicate them — fail loudly. Files appended
    *    concurrently since the scan survive untouched.
    *  - replacement files are level-1 maintenance output — changesBetween
    *    must not re-emit SURVIVING rows as +I. The cost of that rule, stated
    *    loudly: rows genuinely CHANGED or INSERTED by SQL UPDATE/MERGE on an
    *    APPEND table are likewise not observable through the streaming /
    *    changelog surfaces (the staged files mix surviving and new rows at
    *    file granularity, so the commit cannot split them). A pipeline that
    *    needs streamed row-level changes uses a PRIMARY-KEY table, whose
    *    UPDATE/MERGE/DELETE commit as level-0 upserts and stream correctly —
    *    the same posture as Paimon, where append tables have no changelog
    *    semantics for row-level DML at all. A warning is logged per commit.
    *    Zero-row staged files are dropped. Returns the replacement row
    *    count. */
  private[graft] def commitReplace(removedPaths: Set[String],
      staged: Seq[String], mode: String): Long = {
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    val removedMetas = live.filter(f => removedPaths.contains(f.path))
    require(removedMetas.size == removedPaths.size,
      s"commitReplace: ${removedPaths.size - removedMetas.size} removed " +
        s"file(s) are not live (concurrent maintenance?)")
    if (removedPaths.isEmpty && staged.isEmpty) return 0L
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val moved = staged.zipWithIndex.map { case (p, k) =>
      val dest = Paths.get(dataCompact,
        s"u$snapId-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(Paths.get(p), dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toString
    }
    val (minSeq, maxSeq) =
      if (removedMetas.nonEmpty)
        (removedMetas.map(_.minSeq).min, removedMetas.map(_.maxSeq).max)
      else (math.max(latestSnapshot.map(_.batchId).getOrElse(0L), 0L),
        math.max(latestSnapshot.map(_.batchId).getOrElse(0L), 0L))
    val metasAll = fileMetas(spark, moved, level = 1, minSeq, maxSeq)
    val (metas, empties) = metasAll.partition(_.rowCount > 0)
    empties.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
    // LIVE rows: the V2 row-level scan suppressed deletion vectors, so a
    // dv'd row was never delivered to the rewrite
    val (inRows, outRows) =
      (removedMetas.map(_.liveRowCount).sum, metas.map(_.rowCount).sum)
    mode.toUpperCase match {
      case "UPDATE" => require(outRows == inRows,
        s"UPDATE must conserve scanned rows: $inRows in, $outRows out")
      case "DELETE" => require(outRows <= inRows,
        s"DELETE cannot grow rows: $inRows in, $outRows out")
      case _ => () // MERGE: inserts grow, matched deletes shrink
    }
    if (mode.toUpperCase != "DELETE")
      log.warn(s"$mode on append table $root committed as level-1 " +
        "(maintenance) files: its changed/inserted rows will NOT appear on " +
        "the streaming/changelog surfaces — use a primary-key table for " +
        "streamable row-level DML")
    commit({ liveNow =>
      val gone = removedPaths -- liveNow.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) out from under this $mode (e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(metas, removedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, kind = "replace")
    outRows
  }

  /** Commit a DELTA-based row-level operation (the V2 `rowlevel.mode=dv`
    * door, [[graft.sources.v2.GraftDeltaOperation]]): deleted positions
    * merge into per-file deletion vectors, changed/inserted rows arrive as
    * externally-staged files — ONE atomic manifest commit, cost ∝ matches.
    *
    *  - `deletes` keys are the scanned files' PATHS (the `_graft_file`
    *    metadata value), values RAW positions — offsets the readers counted
    *    with already-deleted rows still advancing, so merging with an
    *    existing vector is position-exact and any overlap means concurrent
    *    DML hit the same row: fail loudly, like the duplicate-position case.
    *  - a file whose merged vector covers EVERY row drops out of the new
    *    snapshot entirely (no empty husk with a full vector); the bytes
    *    stay reachable through older snapshots until retention.
    *  - staged insert files commit at level 1 with the same
    *    changelog posture as [[commitReplace]]: append-table row-level DML
    *    is not observable through streaming surfaces — use a PK table for
    *    streamable DML (warned per commit).
    *  - conservation by command: UPDATE deletes exactly as many positions
    *    as it inserts rows; DELETE stages no inserts; MERGE is unchecked
    *    (inserts grow, matched deletes shrink).
    *
    * Returns the number of deleted positions (the op's matched-row count
    * for UPDATE/DELETE). */
  private[graft] def commitDeltaDml(deletes: Map[String, Array[Long]],
      staged: Seq[String], mode: String): Long = {
    if (deletes.isEmpty && staged.isEmpty) return 0L
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    val byPath = live.map(f => f.path -> f).toMap
    // merge new positions into each touched file's vector; None = the file
    // is now fully deleted and simply leaves the live set. Computed as a
    // FUNCTION OF THE LIVE SET and re-run inside the commit's CAS retry
    // closure: a concurrent delta DML that updated the same file's vector
    // keeps the path live (only dvPath changes), so a pre-computed merge
    // would silently drop the winner's positions — recomputing from
    // `liveNow` makes disjoint concurrent DMLs both land, and genuinely
    // overlapping ones still fail loudly on the merged-duplicate check.
    def mergeDvs(liveSet: Map[String, DataFileMeta],
        sink: scala.collection.mutable.ArrayBuffer[String])
        : Seq[(String, Option[DataFileMeta])] =
      deletes.toSeq.sortBy(_._1).map { case (path, posRaw) =>
        val meta = liveSet.getOrElse(stripScheme(path),
          throw new IllegalStateException(
            s"delta $mode deleted from a file that is no longer live " +
              s"(concurrent maintenance?): $path"))
        val fresh = posRaw.distinct
        require(fresh.length == posRaw.length,
          s"delta $mode deleted the same position twice in $path " +
            "(non-deterministic MERGE source?)")
        val existing =
          if (meta.dvCount.exists(_ > 0)) StreamTable.readDv(meta.dvPath.get)
          else Array.empty[Long]
        val merged = (existing ++ fresh).sorted
        require(merged.distinct.length == merged.length,
          s"delta $mode deleted already-deleted positions of $path " +
            "(concurrent DML?)")
        require(merged.length <= meta.rowCount,
          s"dv positions exceed rows of ${meta.path}")
        require(fresh.forall(p => p >= 0 && p < meta.rowCount),
          s"delta $mode produced out-of-range positions for ${meta.path}")
        if (merged.length == meta.rowCount) meta.path -> None
        else {
          val dvFile = s"$dataDv/dv-${UUID.randomUUID()}.bin"
          StreamTable.writeDv(dvFile, merged)
          sink += dvFile
          meta.path -> Some(meta.copy(dvPath = Some(dvFile),
            dvCount = Some(merged.length.toLong)))
        }
      }
    val touchedMetas = deletes.keysIterator.map { path =>
      byPath.getOrElse(stripScheme(path), throw new IllegalStateException(
        s"delta $mode deleted from a file that is no longer live " +
          s"(concurrent maintenance?): $path"))
    }.toSeq
    // staged inserts move into place like commitReplace's replacements
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val moved = staged.sorted.zipWithIndex.map { case (p, k) =>
      val dest = Paths.get(dataCompact,
        s"d$snapId-${UUID.randomUUID().toString.take(8)}-$k.parquet")
      Files.move(Paths.get(p), dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toString
    }
    val (minSeq, maxSeq) =
      if (touchedMetas.nonEmpty)
        (touchedMetas.map(_.minSeq).min, touchedMetas.map(_.maxSeq).max)
      else (math.max(latestSnapshot.map(_.batchId).getOrElse(0L), 0L),
        math.max(latestSnapshot.map(_.batchId).getOrElse(0L), 0L))
    val insertMetas = fileMetas(spark, moved, level = 1, minSeq, maxSeq)
      .filter(_.rowCount > 0)
    val nDeleted = deletes.valuesIterator.map(_.length.toLong).sum
    val nInserted = insertMetas.map(_.rowCount).sum
    mode.toUpperCase match {
      case "UPDATE" => require(nInserted == nDeleted,
        s"delta UPDATE must reinsert every deleted row: " +
          s"$nDeleted deleted, $nInserted inserted")
      case "DELETE" => require(nInserted == 0L,
        s"delta DELETE cannot insert rows: $nInserted staged")
      case _ => () // MERGE: inserts grow, matched deletes shrink
    }
    if (mode.toUpperCase != "DELETE")
      log.warn(s"$mode on append table $root committed as deletion vectors " +
        "+ level-1 files: its changed/inserted rows will NOT appear on the " +
        "streaming/changelog surfaces — use a primary-key table for " +
        "streamable row-level DML")
    val touchedPaths = deletes.keysIterator.map(stripScheme).toSet
    val attemptDvs = scala.collection.mutable.ArrayBuffer.empty[String]
    commit({ liveNow =>
      // a lost CAS race lands back here with the WINNER's live set: drop
      // the previous attempt's vectors (merged against a stale base) and
      // re-merge against the vectors that actually won
      attemptDvs.foreach(p => Files.deleteIfExists(Paths.get(p)))
      attemptDvs.clear()
      val dvMetas = mergeDvs(liveNow.map(f => f.path -> f).toMap, attemptDvs)
      CommitChange(dvMetas.flatMap(_._2) ++ insertMetas, touchedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, kind = "replace")
    nDeleted
  }

  /** `MERGE INTO target USING source ON cond WHEN …` (Paimon's merge-into
    * action, PK tables only — same restriction as the reference). Spark-first
    * single-commit design: one join of the resolved target view against the
    * source classifies every row, then ALL actions land in ONE `appendBatch`
    * commit —
    *
    *  - matched UPDATE → the target image re-appended with assignments
    *    applied; it keeps its `seqCol` value, so the later commit batch
    *    breaks the tie (exactly [[updateWhere]]'s merge-on-read contract)
    *  - matched DELETE → a tombstone row stamped with the key's live
    *    sequence (already present on the joined row — no extra join)
    *  - not-matched INSERT → a fresh row built from the clause's values
    *
    * so a crash can never leave a half-applied merge, and no data file is
    * rewritten (cost ∝ matched+inserted rows, not table size — the property
    * that makes CDC upsert-merge viable at 100 TB).
    *
    * Clause semantics are ANSI MERGE: per row the FIRST clause whose
    * condition holds wins; a target row matched by more than one source row
    * is rejected (non-deterministic merge — the same error Delta raises).
    * Conditions/assignments reference the two sides via `targetAlias`/
    * `sourceAlias` qualified names (default `t`/`s`). */
  def mergeInto(source: DataFrame, on: org.apache.spark.sql.Column,
      clauses: Seq[MergeClause], targetAlias: String = "t",
      sourceAlias: String = "s"): MergeResult = {
    import org.apache.spark.sql.Column
    val pk = primaryKey.getOrElse(throw new UnsupportedOperationException(
      "mergeInto requires a primary-key table (Paimon merge-into contract)"))
    require(engine == "deduplicate",
      s"merge-engine=$engine cannot express MERGE as upsert+tombstone commits")
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    val schema = read.schema
    require(schema.nonEmpty, "MERGE INTO an empty table: use appendBatch")
    val fields = schema.fieldNames.toSeq
    clauses.foreach {
      case MatchedUpdate(_, set) =>
        require(set.nonEmpty, "UPDATE SET needs at least one assignment")
        set.foreach { case (c, _) =>
          require(fields.contains(c), s"unknown column '$c' in UPDATE SET")
          require(!pk.contains(c) && !seqCol.contains(c),
            s"UPDATE must not assign key/sequence column '$c'") }
      case NotMatchedInsert(_, values) =>
        values.foreach { case (c, _) =>
          require(fields.contains(c), s"unknown column '$c' in INSERT") }
        (pk ++ seqCol).foreach(c => require(values.exists(_._1 == c),
          s"INSERT must set key/sequence column '$c'"))
      case MatchedDelete(_) => ()
    }

    val marker = "__graft_matched"
    val t = read.withColumn(marker, lit(true)).alias(targetAlias)
    val joined = source.alias(sourceAlias).join(t, on, "left_outer").cache()
    try {
      val tcol = (c: String) => col(s"$targetAlias.$c")
      val matched = joined.filter(col(marker).isNotNull)
      val dup = matched.groupBy(pk.map(tcol): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        "MERGE: a target row matched multiple source rows (non-deterministic)")

      // first-clause-wins classification: one chained `when` per side
      def pickCol(cs: Seq[(Option[Column], Int)]): Column =
        cs.foldLeft(Option.empty[Column]) { case (acc, (cond, i)) =>
          val c = cond.getOrElse(lit(true))
          Some(acc.map(_.when(c, i)).getOrElse(when(c, i)))
        }.getOrElse(lit(null).cast("int"))
      val mPick = pickCol(clauses.zipWithIndex.collect {
        case (MatchedUpdate(cond, _), i) => (cond, i)
        case (MatchedDelete(cond), i)    => (cond, i) })
      val iPick = pickCol(clauses.zipWithIndex.collect {
        case (NotMatchedInsert(cond, _), i) => (cond, i) })

      val actions: Seq[(DataFrame, Int)] = clauses.zipWithIndex.map {
        case (MatchedUpdate(_, set), i) =>
          val rows = matched.filter(mPick === i).select(fields.map { c =>
            set.collectFirst { case (`c`, e) => e.cast(schema(c).dataType).as(c) }
              .getOrElse(tcol(c).as(c))
          } :+ lit(false).as(TombstoneColName): _*)
          (rows, 0)
        case (MatchedDelete(_), i) =>
          val rows = matched.filter(mPick === i).select(fields.map { c =>
            if (pk.contains(c) || seqCol.contains(c)) tcol(c).as(c)
            else lit(null).cast(schema(c).dataType).as(c)
          } :+ lit(true).as(TombstoneColName): _*)
          (rows, 1)
        case (NotMatchedInsert(_, values), i) =>
          val rows = joined.filter(col(marker).isNull && iPick === i)
            .select(fields.map { c =>
              values.collectFirst { case (`c`, e) => e.cast(schema(c).dataType).as(c) }
                .getOrElse(lit(null).cast(schema(c).dataType).as(c))
            } :+ lit(false).as(TombstoneColName): _*)
          (rows, 2)
      }
      val counts = actions.map { case (df, kind) => (df.count(), kind) }
      val all = actions.map(_._1).reduce(_.unionByName(_))
      if (counts.map(_._1).sum > 0)
        appendBatch(graft.sources.v2.GraftV2Table.storedNames(this, all),
          latestSnapshot.map(s => math.max(s.batchId, -1L) + 1).getOrElse(0L))
      def total(kind: Int) = counts.collect { case (n, `kind`) => n }.sum
      MergeResult(updated = total(0), deleted = total(1), inserted = total(2))
    } finally joined.unpersist()
  }

  /** Continuous ingestion (reference op 2A#7: INSERT INTO … SELECT with
    * checkpointing, guide.md:36-39). Caller picks the trigger — production
    * uses ProcessingTime("20 seconds") (guide.md:3), tests AvailableNow.
    * `afterCommit` fires once per committed batch with the table-side batch
    * id — the hook [[GraftCatalog.writeStreamManaged]] uses to run the
    * table's auto-compaction/retention policies in-line with ingestion. */
  def writeStream(stream: DataFrame, trigger: Trigger,
      afterCommit: Long => Unit = _ => (),
      /** Per-batch hook mapping (micro-batch rows, absolute batch id) to the
        * rows that commit — identity by default. Runs INSIDE the epoch-id
        * discipline below, so a replayed batch re-derives the same id and
        * any side state the transform keys by it (e.g. the lookup-retry
        * door's parked-miss files) rewrites deterministically. */
      transform: (DataFrame, Long) => DataFrame = (b, _) => b): StreamingQuery = {
    // Writer-epoch offset: Structured Streaming batch ids restart at 0 for a
    // fresh checkpoint, which would collide with ids already committed by an
    // earlier writer and silently no-op in appendBatch. Pin the table-side
    // offset for this checkpoint's lifetime (the file lives INSIDE the
    // checkpoint dir, so a new checkpoint ⇒ a new, larger offset), keeping
    // replays of the SAME checkpoint idempotent and fresh writers safe.
    val chk = s"$root/_checkpoint"
    Files.createDirectories(Paths.get(chk))
    val epochFile = Paths.get(chk, "graft-writer-epoch")
    val offset =
      if (Files.exists(epochFile)) new String(Files.readAllBytes(epochFile)).trim.toLong
      else {
        // Migration: a checkpoint created BEFORE the epoch file existed
        // (committed offsets present, no epoch file) ran with offset 0 —
        // re-deriving latest+1 here would replay a crash-window batch (one
        // committed to the table but not the checkpoint) under a new,
        // larger id, and appendBatch would double-commit its rows. Only a
        // genuinely fresh checkpoint may claim latest+1.
        val offsetsDir = Paths.get(chk, "offsets")
        val legacy = Files.isDirectory(offsetsDir) && listDir(offsetsDir).nonEmpty
        val off = if (legacy) 0L else latestSnapshot.map(_.batchId + 1).getOrElse(0L)
        Files.write(epochFile, off.toString.getBytes)
        off
      }
    stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendBatch(transform(b, offset + id), offset + id)
        afterCommit(offset + id)
      }
      .option("checkpointLocation", chk)
      .trigger(trigger)
      .start()
  }

  // ---- reads -------------------------------------------------------------

  /** Read data files under ONE schema, [[StreamTable.fileSchema]] of the
    * files, widened by the columns of `widenTo` that they lack (appended,
    * read as NULL): an interval of only delete tombstones, which carry key
    * and sequence columns alone, still reads every column of the table. */
  private def readFiles(files: Seq[DataFileMeta],
      widenTo: Seq[DataFileMeta] = Nil): DataFrame = {
    val own = StreamTable.fileSchema(spark, files)
    val schema =
      if (widenTo.isEmpty) own
      else org.apache.spark.sql.graft.SchemaMerge.merge(own,
        StreamTable.fileSchema(spark, widenTo),
        spark.sessionState.conf.caseSensitiveAnalysis)
    if (columnDefaults.isEmpty) return readFilesRaw(files, schema)
    // EXISTS_DEFAULT substitution (ADD COLUMN … DEFAULT): group files by
    // the set of defaulted columns each provably lacks (manifest fileCols;
    // a legacy meta without the census conservatively counts as carrying
    // everything = plain null-fill), fill each group's absent columns with
    // the frozen literal, and union back in the schema's column order.
    // Group count is bounded by the (tiny) number of schema generations.
    val groups = files.groupBy(f =>
      columnDefaults.keySet.filter(c => f.fileCols.exists(!_.contains(c))))
    if (groups.keySet == Set(Set.empty[String])) return readFilesRaw(files, schema)
    groups.toSeq.map { case (absent, fs) =>
      absent.foldLeft(readFilesRaw(fs, schema))((df, c) =>
        df.withColumn(c, expr(columnDefaults(c))))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The data files read under `schema`, with deletion vectors applied.
    * The schema is never inferred here: [[readFiles]] takes it from
    * [[StreamTable.fileSchema]] (memoized footers, no Spark job), and a
    * file lacking one of its columns reads that column as NULL. */
  private def readFilesRaw(files: Seq[DataFileMeta],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    def raw(fs: Seq[DataFileMeta]) = spark.read.schema(schema).parquet(fs.map(_.path): _*)
    val (dv, plain) = files.partition(_.dvCount.exists(_ > 0))
    if (dv.isEmpty) return raw(files)
    // deletion-vector suppression: files with a DV read WITH their row
    // positions and anti-join the (file, position) delete set — broadcast
    // (per-delete cap + compaction purge keep vectors tiny). File identity
    // joins on the NAME (UUID-unique within a table); an accidental clash
    // would over-delete, so it is asserted at plan time.
    val names = dv.map(f => Paths.get(f.path).getFileName.toString)
    require(names.distinct.size == names.size,
      s"duplicate data-file names across dirs: ${names.diff(names.distinct).take(3)}")
    val deleted = dv.flatMap(f =>
      StreamTable.readDv(f.dvPath.get).map(p => (
        Paths.get(f.path).getFileName.toString, p)))
    import spark.implicits._
    val delDf = deleted.toDF("__graft_dv_name", "__graft_dv_pos")
    val dvRead = raw(dv)
      .withColumn("__graft_dv_name", col("_metadata.file_name"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
      .join(broadcast(delDf), Seq("__graft_dv_name", "__graft_dv_pos"), "left_anti")
      .drop("__graft_dv_name", "__graft_dv_pos")
    if (plain.isEmpty) dvRead else raw(plain).union(dvRead)
  }

  /** Batch read of the current snapshot (manifest-based, so compaction and
    * retention are invisible to readers). A PK table reads through the
    * connector's relation ([[graft.sources.v2.GraftPkScan]]: per bucket, a
    * k-way merge of sorted runs and the merge engine's fold — upsert
    * materialization, guide.md:59-74), pinned to the snapshot current at
    * call time, so the frame keeps that answer after later commits. */
  def read: DataFrame = latestSnapshot.map(readSnapshot).getOrElse(spark.emptyDataFrame)

  /** Time travel: batch read AS OF an earlier snapshot id (Paimon/Delta
    * snapshot reads — the manifest makes every committed version readable
    * until retention expires it). */
  def readAt(snapshotId: Long): DataFrame =
    readSnapshot(snapshotAt(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId")))

  private def readSnapshot(snap: Snapshot): DataFrame =
    if (snap.files.isEmpty) spark.emptyDataFrame
    else if (primaryKey.isEmpty) readFiles(snap.files).drop(SeqColName)
    else graft.sources.v2.GraftV2Table.frame(
      graft.sources.v2.GraftV2Table.library(this, Some(snap.id)))

  /** Time travel AS OF a wall-clock instant (Paimon `scan.timestamp-millis`):
    * read the newest snapshot committed at or before `tsMs`. Resolution is
    * driver-side manifest metadata, like every other travel surface. */
  def readAtTime(tsMs: Long): DataFrame = {
    val snap = snapshotHeaders.takeWhile(_.committedAtMs <= tsMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before $tsMs"))
    readAt(snap.id)
  }

  // ---- tags (Paimon CREATE TAG: durable named snapshots) ------------------

  private val tagDir = s"$root/_tags"

  /** Pin the given (default: latest) snapshot under a durable name. A tag is
    * a retention root: [[expireSnapshots]] keeps every file a tagged snapshot
    * references, so tags make long-lived versions (daily train-data cuts,
    * release datasets) survive the short snapshot-retention window — which is
    * exactly how Paimon positions CREATE TAG. Tag names are immutable;
    * re-tagging a name to a different snapshot requires [[deleteTag]]. */
  def createTag(name: String, snapshotId: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"illegal tag name '$name'")
    val id = snapshotId.orElse(latestSnapshot.map(_.id))
      .getOrElse(throw new IllegalStateException("cannot tag an empty table"))
    require(hasSnapshot(id), s"no snapshot $id to tag")
    Files.createDirectories(Paths.get(tagDir))
    val p = Paths.get(tagDir, s"tag-$name.json")
    try Files.write(p, mapper.writeValueAsBytes(Map("snapshotId" -> id)),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"tag '$name' already exists")
    }
    id
  }

  /** All tags as (name, snapshotId), name-ordered. */
  def tags: Seq[(String, Long)] = {
    if (!Files.isDirectory(Paths.get(tagDir))) return Seq.empty
    listDir(Paths.get(tagDir)).iterator
      .map(_.getFileName.toString)
      .filter(f => f.startsWith("tag-") && f.endsWith(".json"))
      .map { f =>
        val name = f.stripPrefix("tag-").stripSuffix(".json")
        name -> mapper.readTree(Files.readAllBytes(Paths.get(tagDir, f)))
          .get("snapshotId").asLong()
      }.toSeq.sortBy(_._1)
  }

  def deleteTag(name: String): Boolean =
    Files.deleteIfExists(Paths.get(tagDir, s"tag-$name.json"))

  /** Batch read AS OF a tag. */
  def readTag(name: String): DataFrame =
    readAt(tags.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no tag '$name'")))

  /** Stats-based data skipping (the scan-side use of the min/max stats
    * `$files` surfaces, guide.md:205/:212): read only the files whose footer
    * [min, max] range for `column` overlaps [lo, hi], with the predicate
    * re-applied as a residual. Append tables only — pruning files under a
    * PK table could resurrect a superseded key version whose latest row
    * lives in a pruned file. Numeric columns only (footer stats are parsed
    * back from their rendered form; a stat that does not parse keeps the
    * file — skipping must never be able to drop a matching row). Stats are
    * manifest-served (persisted per file at commit time, Paimon's
    * DataFileMeta model) — the pruning pass is pure driver-side metadata
    * work with zero file I/O; only legacy manifests re-open footers. */
  def readWhere(column: String, lo: Double, hi: Double): DataFrame = {
    require(primaryKey.isEmpty,
      "readWhere data skipping is append-table only (PK resolution needs all files)")
    val files = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (files.isEmpty) return spark.emptyDataFrame
    val conf = new org.apache.hadoop.conf.Configuration()
    val kept = files.filter { f =>
      val (mins, maxs) = skipStats(f, conf)
      (mins.get(column), maxs.get(column)) match {
        case (Some(mn), Some(mx)) =>
          try !(mx.toDouble < lo || mn.toDouble > hi)
          catch { case _: NumberFormatException => true }
        case _ => true
      }
    }
    lastSkip = Some((kept.size, files.size))
    val src = if (kept.isEmpty) readFiles(Seq(files.head)) else readFiles(kept)
    src.where(col(column) >= lo && col(column) <= hi).drop(SeqColName)
  }

  /** (files read, files live) of the most recent [[readWhere]] — the
    * skipping-effectiveness observability the spec asserts on. */
  @volatile var lastSkip: Option[(Int, Int)] = None

  /** Streaming read — the table as an unbounded changelog of appends
    * (batch/stream duality over one table, guide.md:51-56). */
  def readStream(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dataAppend).drop(SeqColName)

  /** Full-alphabet changelog between two snapshots for PK tables: for each
    * changed key emit the retraction of the old image and the new image —
    * `-U old, +U new` for updates, `-D old` for deletes, `+I new` for
    * inserts. This is the changelog a downstream aggregate consumes to stay
    * correct under updates (the `+I/-U/+U/-D` alphabet every reference
    * tableau shows, Readme.md:113-127). [[changesBetween]] is the cheaper
    * pass-through view (`changelog-producer='input'`) that never reads old
    * images. */
  def changelogWithRetractions(fromId: Long, toId: Long): DataFrame = {
    require(primaryKey.isDefined,
      "changelogWithRetractions requires a primary-key table")
    val heads = snapshotHeaders
    val byId = heads.map(s => s.id -> s).toMap
    def files(id: Long) = hydrated(byId.getOrElse(id,
      throw new IllegalArgumentException(s"no snapshot $id"))).files
    // per changed key (the interval's evidence walked commit-by-commit,
    // [[StreamTable.intervalEvidence]]) the images come from the merged
    // states, so a stale-sequence arrival that loses the merge never
    // retracts the live row: its -U/+U pair carries identical images and
    // a delta-consumer nets zero
    graft.sources.v2.ChangelogPlanning.intervalFrame(this, heads, fromId, toId,
      files(fromId) ++ files(toId))
  }

  /** Incremental changelog read between two snapshots (the
    * `changelog-producer = 'input'` model, guide.md:69-73: upstream change
    * rows pass through raw, no changelog-normalize operator). Rows from files
    * added after `fromId` are tagged `+I`; on PK tables, rows whose key
    * already existed at `fromId` are tagged `+U` instead. */
  /** Files added in `(fromId, toId]` and still live at `toId` — the
    * incremental end-state file diff, folded from the interval's per-commit
    * delta manifests: O(interval delta) driver work, zero snapshot
    * hydrations. Falls back to hydrating the two endpoints when any covered
    * commit predates delta manifests. Shared by [[changesBetween]] and the
    * V2 snapshot-offset streaming source. */
  private[graft] def addedBetween(fromId: Long, toId: Long): Seq[DataFileMeta] = {
    val byId = snapshotHeaders.map(s => s.id -> s).toMap
    def headAt(id: Long) = byId.getOrElse(id,
      throw new IllegalArgumentException(s"no snapshot $id"))
    val live = new java.util.LinkedHashMap[String, DataFileMeta]()
    // Paths removed in the interval that were NOT added within it must have
    // been live at fromId — a later add of such a path (an in-place meta
    // replacement, commit()'s already-live safety net) is NOT a new file
    // and must not re-deliver its rows, exactly as the endpoint-diff
    // fallback (which compares by path) would exclude it.
    val preInterval = scala.collection.mutable.HashSet.empty[String]
    var ok = byId.contains(fromId)
    var prev = byId.get(fromId)
    var id = fromId + 1
    while (ok && id <= toId) {
      byId.get(id) match {
        case Some(cur) =>
          // legacy history / gaps: abort to the endpoint-diff fallback
          ok = foldCommit(prev, cur)(
            p => if (live.remove(p) == null) preInterval += p,
            f => if (!preInterval.contains(f.path)) live.put(f.path, f))
          prev = Some(cur)
        case None => ok = false
      }
      id += 1
    }
    if (ok) live.values().asScala.toSeq
    else {
      val oldPaths = hydrated(headAt(fromId)).files.map(_.path).toSet
      hydrated(headAt(toId)).files.filterNot(f => oldPaths.contains(f.path))
    }
  }

  /** No rows, the head's columns in stored (file-level) names: the empty
    * answer of the change surfaces, whose rows carry the files' names. */
  private def storedEmpty: DataFrame = latestSnapshot match {
    case Some(s) if primaryKey.isDefined && s.files.nonEmpty =>
      graft.sources.v2.GraftV2Table.frame(
        graft.sources.v2.GraftV2Table.library(this, Some(s.id), stored = true)).limit(0)
    case _ => read.limit(0)
  }

  def changesBetween(fromId: Long, toId: Long): DataFrame = {
    // compaction rewrites are not logical changes
    val newFiles = addedBetween(fromId, toId).filter(_.level == 0)
    if (newFiles.isEmpty) return storedEmpty.withColumn("op", lit(""))
    // widened to the table's value schema at toId: an interval of only
    // delete tombstones still returns every column, NULL on its -D rows
    val added = readFiles(newFiles,
      widenTo = snapshotAt(toId).map(_.files).getOrElse(Seq.empty))
    primaryKey match {
      case None => added.drop(SeqColName).withColumn("op", lit("+I"))
      case Some(pk) =>
        val oldKeys = readFiles(snapshotAt(fromId)
          .getOrElse(throw new IllegalArgumentException(
            s"no snapshot $fromId")).files)
          .select(pk.map(col): _*).distinct()
          .withColumn("__existed", lit(1))
        val withTomb =
          if (added.columns.contains(TombstoneColName)) added
          else added.withColumn(TombstoneColName, lit(false))
        withTomb.join(oldKeys, pk, "left")
          .withColumn("op",
            when(coalesce(col(TombstoneColName), lit(false)), "-D")
              .when(col("__existed").isNull, "+I")
              .otherwise("+U"))
          .drop("__existed", SeqColName, TombstoneColName)
    }
  }

  // ---- metadata (`$files`, reference op 2A#17) ---------------------------

  /** The `$files` system table: per-live-file metadata incl. per-column
    * min/max stats (guide.md:200-232). Served as a DISTRIBUTED scan over
    * the snapshot's manifest partitions: the driver ships manifest NAMES
    * plus per-manifest suppression sets (paths whose add entry is not the
    * surviving one), and executors parse the manifests and materialize the
    * rows — a `SELECT … FROM t$files` over a million-file table never
    * builds per-file rows on the driver, and filters/aggregates over the
    * view run as ordinary distributed plan nodes. Stats come straight from
    * the manifests (zero file opens); legacy inline snapshots keep the
    * driver-meta path with a distributed footer fallback. */
  /** The distributed `$files` scan's driver payload: one task per manifest
    * in the head's list — (manifest path, suppression set: paths whose add
    * entry in THAT manifest is not the surviving one). Size is bounded by
    * the post-rebase window's delta entries, never the live set or total
    * history (each suppression is caused by a later add/remove WITHIN the
    * current list, which the 16-commit rebase truncates) — a spec pins the
    * bound so a regression cannot silently ship O(history) payloads.
    * Exposed for that spec; [[filesView]] is the consumer. */
  private[graft] def filesScanTasks: Seq[(String, Seq[String])] = {
    val head = snapshotHeaders.lastOption
    if (!head.exists(_.manifestList.nonEmpty)) return Seq.empty
    val list = head.get.manifestList.toVector
    // fold decisions on PATH STRINGS only: a file row emits from the
    // manifest of its LAST add, unless a later manifest removed it
    val lastAdd = scala.collection.mutable.HashMap.empty[String, Int]
    val lastRm = scala.collection.mutable.HashMap.empty[String, Int]
    list.zipWithIndex.foreach { case (n, i) =>
      val d = manifestDelta(n)
      d.removed.foreach(p => lastRm(p) = i)
      d.added.foreach(f => lastAdd(f.path) = i)
    }
    list.zipWithIndex.map { case (n, i) =>
      val sup = manifestDelta(n).added.iterator.map(_.path)
        .filter(p => lastAdd(p) != i || lastRm.getOrElse(p, -1) > i).toSeq
      (s"$manifestDir/$n", sup)
    }
  }

  def filesView: DataFrame = {
    import spark.implicits._
    val head = snapshotHeaders.lastOption
    if (head.exists(_.manifestList.nonEmpty)) {
      val tasks = filesScanTasks
      val metas = spark.createDataset(tasks)
        .repartition(math.max(1, math.min(tasks.size, 32)))
        .flatMap { case (mpath, sup) =>
          val supSet = sup.toSet
          val conf = new org.apache.hadoop.conf.Configuration()
          // a manifest vanishing between planning and execution means
          // concurrent expiry/rollback retired the PLANNED head — its
          // surviving adds were rebased into manifests this plan doesn't
          // hold, so skipping would silently UNDER-REPORT live files. Fail
          // loudly with the remedy instead: a re-run plans from the new
          // head (snapshot isolation at query granularity — the same
          // posture as a time-travel read of an expired version).
          val delta =
            try StreamTable.parseManifest(mpath)
            catch {
              case e @ (_: java.nio.file.NoSuchFileException |
                  _: java.io.FileNotFoundException) =>
                throw new IllegalStateException(
                  s"$$files scan lost manifest $mpath to concurrent " +
                    "snapshot maintenance (expiry/rollback); re-run the " +
                    "query to plan from the current head", e)
            }
          delta.added
            .filterNot(f => supSet(f.path))
            .map { f => // stats-less entry (hand-edited/older manifest):
              if (f.minStats.isDefined && f.maxStats.isDefined) f
              else { // footer fallback runs HERE, in the executor task
                val (_, mn, mx) = StreamTable.footerStats(f.path, conf)
                f.copy(minStats = Some(mn), maxStats = Some(mx))
              }
            }
        }
      return metas.map(f => (f.path, f.rowCount,
          f.minStats.getOrElse(Map.empty[String, String]),
          f.maxStats.getOrElse(Map.empty[String, String]),
          f.level, f.bucket, f.fileSizeInBytes, f.minSeq, f.maxSeq,
          f.creationTimeMs, f.dvCount.getOrElse(0L)))
        .toDF("file_path", "record_count", "min_value_stats",
          "max_value_stats", "level", "bucket", "file_size_in_bytes",
          "min_sequence_number", "max_sequence_number", "creation_time_ms",
          "delete_row_count")
        .withColumn("creation_time", timestamp_millis(col("creation_time_ms")))
        .drop("creation_time_ms")
        .orderBy("min_sequence_number", "file_path")
    }
    val files = head.map(_.files).getOrElse(Seq.empty)
    val statsDf =
      if (files.forall(f => f.minStats.isDefined && f.maxStats.isDefined))
        spark.createDataset(files.map(f =>
          (f.path, f.rowCount, f.minStats.get, f.maxStats.get)))
          .toDF("file_path", "record_count", "min_value_stats", "max_value_stats")
      else spark.createDataset(files.map(_.path)).mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { p =>
          val stats = footerStats(p, conf)
          (p, stats._1, stats._2, stats._3)
        }
      }.toDF("file_path", "record_count", "min_value_stats", "max_value_stats")
    val metaDf = spark.createDataset(files.map(f =>
      (f.path, f.level, f.bucket, f.fileSizeInBytes, f.minSeq, f.maxSeq,
        f.creationTimeMs, f.dvCount.getOrElse(0L))))
      .toDF("file_path", "level", "bucket", "file_size_in_bytes",
        "min_sequence_number", "max_sequence_number", "creation_time_ms",
        "delete_row_count")
    statsDf.join(metaDf, "file_path")
      .withColumn("creation_time", timestamp_millis(col("creation_time_ms")))
      .drop("creation_time_ms")
      .orderBy("min_sequence_number", "file_path")
  }

  /** The `$snapshots` system table (Paimon's sibling of `$files`): one row
    * per retained snapshot — id, commit time, the streaming batch that
    * produced it, and file/row/byte totals straight from the manifest's own
    * file metadata (no data files are opened). */
  def snapshotsView: DataFrame = {
    import spark.implicits._
    // ONE incremental pass over the retained history: per snapshot apply
    // its own delta manifest to a running (files, rows, bytes) state —
    // O(total delta entries) for the whole view, never O(retained × live
    // files). Only legacy snapshots and retention gaps (a tagged survivor
    // whose neighbors expired) re-fold from scratch.
    val heads = snapshotHeaders
    val live = new java.util.HashMap[String, (Long, Long)]()
    var rows = 0L
    var bytes = 0L
    var prev: Option[Snapshot] = None
    def put(f: DataFileMeta): Unit = {
      // LIVE rows: a deletion-vector commit replaces the meta in place and
      // the running total must net the suppressed positions
      val old = live.put(f.path, (f.liveRowCount, f.fileSizeInBytes))
      if (old != null) { rows -= old._1; bytes -= old._2 }
      rows += f.liveRowCount; bytes += f.fileSizeInBytes
    }
    def drop(p: String): Unit = {
      val old = live.remove(p)
      if (old != null) { rows -= old._1; bytes -= old._2 }
    }
    val out = heads.map { s =>
      if (!foldCommit(prev, s)(drop, put)) {
        // legacy snapshot or retention gap: re-seed from the hydration
        live.clear(); rows = 0L; bytes = 0L
        hydrated(s).files.foreach(put)
      }
      prev = Some(s)
      (s.id, s.committedAtMs, s.batchId,
        if (s.kind.isEmpty) "append" else s.kind, live.size.toLong, rows, bytes)
    }
    spark.createDataset(out)
      .toDF("snapshot_id", "committed_at_ms", "batch_id", "commit_kind",
        "num_files", "total_record_count", "total_file_size_in_bytes")
      .withColumn("committed_at", timestamp_millis(col("committed_at_ms")))
      .drop("committed_at_ms")
      .orderBy("snapshot_id")
  }

  /** The `$partitions` system table (Paimon's sibling): the per-partition
    * census of a PARTITIONED BY table, MANIFEST-ONLY — partition value(s),
    * file count, live row count (net of deletion vectors), physical rows,
    * bytes, and the newest commit touching the partition. Zero data bytes
    * read at any table size: partitioned writes leave every file
    * single-valued in every key, so the fold rides the same rendered-stat
    * proofs exact pruning uses. A file that cannot prove its partition
    * (row-level-DML output is not partition-clustered) fails loudly with
    * the remedy — an approximate census would silently misattribute rows. */
  def partitionsView: DataFrame = {
    import spark.implicits._
    val pks = partitionKeys.getOrElse(throw new UnsupportedOperationException(
      s"$root is not a partitioned table — `$$partitions` needs PARTITIONED BY"))
    val rootStr = root
    val head = snapshotHeaders.lastOption
    val perFile: Dataset[(String, Long, Long, Long, Long, Long)] =
      if (head.exists(_.manifestList.nonEmpty)) {
        // distributed census: executors fold their manifest slices into
        // per-file census rows (the same manifest-partition scan `$files`
        // rides — at a million files the driver never materializes the
        // per-file list), then ONE map-side-combined aggregation returns
        // |partitions| rows to the driver
        val tasks = filesScanTasks
        spark.createDataset(tasks)
          .repartition(math.max(1, math.min(tasks.size, 32)))
          .flatMap { case (mpath, sup) =>
            val supSet = sup.toSet
            val conf = new org.apache.hadoop.conf.Configuration()
            // same loud-failure posture as the $files scan: a manifest lost
            // to concurrent expiry/rollback means the planned head retired
            val delta =
              try StreamTable.parseManifest(mpath)
              catch {
                case e @ (_: java.nio.file.NoSuchFileException |
                    _: java.io.FileNotFoundException) =>
                  throw new IllegalStateException(
                    s"$$partitions scan lost manifest $mpath to concurrent " +
                      "snapshot maintenance (expiry/rollback); re-run the " +
                      "query to plan from the current head", e)
              }
            delta.added.filterNot(f => supSet(f.path)).map { f =>
              (StreamTable.renderPartitionLabel(
                  StreamTable.partitionTupleOf(f, pks, conf, rootStr)),
                f.liveRowCount, f.rowCount, f.dvCount.getOrElse(0L),
                f.fileSizeInBytes, f.creationTimeMs)
            }
          }
      } else {
        // legacy inline snapshot: its file list already lives in the
        // snapshot JSON (bounded), so a driver map is the right cost
        val conf = new org.apache.hadoop.conf.Configuration()
        spark.createDataset(
          head.map(hydrated(_).files).getOrElse(Seq.empty).map { f =>
            (StreamTable.renderPartitionLabel(
                StreamTable.partitionTupleOf(f, pks, conf, rootStr)),
              f.liveRowCount, f.rowCount, f.dvCount.getOrElse(0L),
              f.fileSizeInBytes, f.creationTimeMs)
          })
      }
    perFile
      .toDF("partition", "live_rows", "phys_rows", "dv_rows", "bytes", "created")
      .groupBy("partition")
      .agg(count(lit(1)).as("file_count"),
        sum("live_rows").as("record_count"),
        sum("phys_rows").as("physical_record_count"),
        sum("dv_rows").as("delete_row_count"),
        sum("bytes").as("file_size_in_bytes"),
        max("created").as("last_update_ms"))
      .withColumn("last_update_time", timestamp_millis(col("last_update_ms")))
      .drop("last_update_ms")
      .orderBy("partition")
  }

  /** The `$tags` system table: tag name, pinned snapshot, and that
    * snapshot's commit time (Paimon's `$tags` shape). */
  def tagsView: DataFrame = {
    import spark.implicits._
    val snapTime = snapshotHeaders.map(s => s.id -> s.committedAtMs).toMap
    spark.createDataset(tags.map { case (n, id) =>
      (n, id, snapTime.getOrElse(id, -1L))
    })
      .toDF("tag_name", "snapshot_id", "committed_at_ms")
      .withColumn("committed_at", timestamp_millis(col("committed_at_ms")))
      .drop("committed_at_ms")
      .orderBy("tag_name")
  }

  // ---- consumers (Paimon `consumer-id`: expiry-safe incremental reads) ---

  private val consumerDir = s"$root/_consumers"

  /** Register (or reset) a named consumer at `nextSnapshotId` — the first
    * snapshot it has NOT yet consumed. A registered consumer is a retention
    * root like a tag: [[expireSnapshots]] keeps every snapshot the consumer
    * still needs, so a slow downstream reader can fall arbitrarily far
    * behind without its unread increments being vacuumed away — exactly why
    * Paimon's `'consumer-id'` scan option exists. */
  def registerConsumer(id: String, nextSnapshotId: Long = 0L): Unit = {
    require(id.matches("[A-Za-z0-9._-]+"), s"illegal consumer id '$id'")
    Files.createDirectories(Paths.get(consumerDir))
    writeConsumerFile(id, nextSnapshotId)
  }

  /** Move a consumer's progress forward (monotonic: regressions are refused —
    * replaying consumed increments is the caller's bug, use
    * [[registerConsumer]] to deliberately reset). Written via atomic rename
    * so a crashed advance never leaves a torn progress file. */
  def advanceConsumer(id: String, nextSnapshotId: Long): Unit = {
    val cur = consumers.find(_._1 == id).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no consumer '$id'"))
    require(nextSnapshotId >= cur,
      s"consumer '$id' progress must be monotonic: at $cur, got $nextSnapshotId")
    writeConsumerFile(id, nextSnapshotId)
  }

  private def writeConsumerFile(id: String, next: Long): Unit = {
    val tmp = Paths.get(consumerDir, s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writeValueAsBytes(Map("nextSnapshot" -> next)))
    Files.move(tmp, Paths.get(consumerDir, s"consumer-$id.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def deleteConsumer(id: String): Boolean =
    Files.deleteIfExists(Paths.get(consumerDir, s"consumer-$id.json"))

  /** All consumers as (id, nextSnapshotId), id-ordered. */
  def consumers: Seq[(String, Long)] = {
    if (!Files.isDirectory(Paths.get(consumerDir))) return Seq.empty
    listDir(Paths.get(consumerDir)).iterator
      .map(_.getFileName.toString)
      .filter(f => f.startsWith("consumer-") && f.endsWith(".json"))
      .map { f =>
        val id = f.stripPrefix("consumer-").stripSuffix(".json")
        id -> mapper.readTree(Files.readAllBytes(Paths.get(consumerDir, f)))
          .get("nextSnapshot").asLong()
      }.toSeq.sortBy(_._1)
  }

  /** One incremental consume step for a registered consumer: the `+I/+U/-D`
    * changes from its recorded progress up to the current latest snapshot,
    * plus the snapshot id to [[advanceConsumer]] to AFTER the increment is
    * durably processed (advance-after-process = at-least-once, the same
    * contract a Paimon consumer-id streaming scan gives its checkpoint).
    * Returns None when the consumer is already caught up. */
  def consume(id: String): Option[(DataFrame, Long)] = {
    val next = consumers.find(_._1 == id).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no consumer '$id'"))
    latestSnapshot.filter(_.id >= next).map { latest =>
      // `changesBetween(next-1, latest)` — from the snapshot BEFORE the first
      // unconsumed one; next == 0 means "from table creation" (empty base)
      val df = if (next == 0L) {
        val added = latestSnapshot.get.files.filter(_.level == 0)
        if (added.isEmpty) storedEmpty.withColumn("op", lit(""))
        else primaryKey match {
          case None => readFiles(added).drop(SeqColName).withColumn("op", lit("+I"))
          case Some(_) => changesBetween(fromId = snapshotHeaders.head.id, toId = latest.id)
            .unionByName(changesFromFirstSnapshot(), allowMissingColumns = true)
        }
      } else changesBetween(next - 1, latest.id)
      (df, latest.id + 1)
    }
  }

  /** The first snapshot's own rows as `+I` (a from-scratch consumer sees the
    * initial commit as inserts, before [[changesBetween]] takes over). */
  private def changesFromFirstSnapshot(): DataFrame = {
    val first = hydrated(snapshotHeaders.head)
    val added = first.files.filter(_.level == 0)
    if (added.isEmpty) storedEmpty.withColumn("op", lit(""))
    else {
      val raw = readFiles(added)
      val noTomb =
        if (raw.columns.contains(TombstoneColName))
          raw.filter(!coalesce(col(TombstoneColName), lit(false)))
            .drop(TombstoneColName)
        else raw
      noTomb.drop(SeqColName).withColumn("op", lit("+I"))
    }
  }

  /** The `$consumers` system table: consumer id and the next snapshot it will
    * consume (Paimon's `$consumers` shape). */
  def consumersView: DataFrame = {
    import spark.implicits._
    spark.createDataset(consumers).toDF("consumer_id", "next_snapshot_id")
      .orderBy("consumer_id")
  }

  /** The `$changelog` system table: the table's RETAINED change history as
    * `rowkind` + columns — per retained commit, its persisted changelog rows
    * when produced (`changelog-producer`; a log, no netting across commits),
    * the resolved first commit as `+I`, append commits as `+I`; a PK commit
    * without a persisted changelog refuses (reconstructing old images per
    * historical commit would re-resolve the table once per commit — use the
    * CDC stream, whose per-trigger interval diff pays that cost once).
    * Snapshots whose predecessor expired contribute nothing (their delta is
    * unrecoverable). Mirrors the V2 door's `` `t$changelog` ``
    * (GraftChangeHistoryV2Table) row-for-row. */
  /** Maximal CONSECUTIVE runs of "tail" commits — primary-key commits on a
    * deferred producer whose changes no produced span covers yet — keyed by
    * run START id, valued by run END id. Shared by [[changeHistoryView]]
    * and the V2 `$changelog` planner so both net a long uncompacted tail as
    * ONE endpoint-state interval diff per run (O(runs) resolves, not
    * O(tail commits)). Any non-tail commit (overwrite, produced span,
    * covered, maintenance-only, expired predecessor) breaks the run — its
    * state effects must not leak into a tail diff. */
  private[graft] def tailRuns(heads: Seq[Snapshot],
      coveredByDeferred: Long => Boolean): Map[Long, Long] = {
    if (primaryKey.isEmpty || !clogAtCompact) return Map.empty
    val byId = heads.map(s => s.id -> s).toMap
    val tailIds: Set[Long] = heads.iterator.filter { s =>
      s.id > 0 && !s.clogProduced && !coveredByDeferred(s.id) &&
        byId.contains(s.id - 1) && s.kind != "overwrite" &&
        addedEvidenceOf(s, byId.get(s.id - 1)).nonEmpty
    }.map(_.id).toSet
    tailIds.toSeq.sorted.filterNot(id => tailIds.contains(id - 1)).map { st =>
      var e = st
      while (tailIds.contains(e + 1)) e += 1
      st -> e
    }.toMap
  }

  def changeHistoryView: DataFrame = {
    val heads = snapshotHeaders
    val byId = heads.map(s => s.id -> s).toMap
    val empty = storedEmpty.withColumn("rowkind", lit(""))
    // ids whose changes ride in a LATER snapshot's DEFERRED span
    // ('lookup'/'full-compaction' producers): they emit at the covering
    // snapshot's position, once, as the span's netted ops. Containment is
    // checked against the (few) covering snapshots' ranges — a deferred
    // table's whole point is LONG spans, so materializing every covered id
    // would be O(commits between compactions) per query
    val deferredSpans: Seq[(Long, Long)] = heads.collect {
      case s if s.clogProduced && s.clogFromId.isDefined => (s.clogFromId.get, s.id)
    }
    def coveredByDeferred(id: Long): Boolean =
      deferredSpans.exists { case (f, t0) => id > f && id < t0 }
    // the uncompacted TAIL of a deferred producer nets as maximal
    // CONSECUTIVE runs — ONE endpoint-state interval diff per run instead of
    // one full per-bucket resolve per commit (a long tail would otherwise
    // cost O(tail commits × full resolve) per history query). The netted
    // rows are exactly what the next covering compaction's span will
    // persist, so producing the span changes the history's SOURCE, never
    // its rows. Runs break at any non-tail commit (overwrite, produced,
    // covered, maintenance-only) — their state effects must not leak into
    // a tail diff.
    val tailRunEnd: Map[Long, Long] = tailRuns(heads, coveredByDeferred)
    val parts: Seq[DataFrame] = heads.flatMap { s =>
      val pred = byId.get(s.id - 1)
      if (s.id == 0 && primaryKey.isDefined)
        // the first commit's merged rows, +I (the catch-up diff)
        Some(hydrated(s).files.filter(_.level == 0)).filter(_.nonEmpty).map(fs =>
          graft.sources.v2.ChangelogPlanning.diffFrame(this, Nil, fs, fs)
            .withColumnRenamed("op", "rowkind"))
      else if (s.clogProduced && s.id > 0)
        // persisted changelog files are SELF-CONTAINED — retention expiring
        // the predecessor must not drop history we still hold
        if (s.changelog.isEmpty) None
        else Some(spark.read.schema(StreamTable.fileSchema(spark, s.changelog))
          .parquet(s.changelog.map(_.path): _*)
          .withColumnRenamed("op", "rowkind"))
      else if (coveredByDeferred(s.id))
        None // emitted at the covering deferred-producer snapshot
      else if (s.id > 0 && pred.isEmpty)
        None // expired predecessor: non-produced delta unrecoverable
      else if (s.kind == "overwrite" && primaryKey.isDefined)
        // an overwrite never produces a changelog — serve its own
        // single-commit interval diff so one INSERT OVERWRITE cannot break
        // the table's history (the V2 door applies the same rule)
        Some(changelogWithRetractions(s.id - 1, s.id)
          .withColumnRenamed("op", "rowkind"))
      else {
        // this commit's added files: the shared classification
        // (delta-manifest-served, re-adds excluded, hydrate-diff only for
        // legacy history — StreamTable.addedEvidence)
        val added = addedEvidenceOf(s, pred)
        if (added.isEmpty) None // maintenance-only commit
        else if (primaryKey.isEmpty)
          Some(readFiles(added).drop(SeqColName).withColumn("rowkind", lit("+I")))
        else if (clogAtCompact)
          // the uncompacted TAIL: emit this run's NETTED diff at the run's
          // first commit; mid-run commits ride in it (see tailRuns above)
          tailRunEnd.get(s.id).map(end =>
            changelogWithRetractions(s.id - 1, end)
              .withColumnRenamed("op", "rowkind"))
        else throw new UnsupportedOperationException(
          s"$root$$changelog: snapshot ${s.id} has no persisted changelog — " +
            "change history on a primary-key table needs a " +
            "changelog-producer ('input' at write time, " +
            "'lookup'/'full-compaction' at compaction) or the CDC stream")
      }
    }
    val all = parts.foldLeft(empty)(_.unionByName(_, allowMissingColumns = true))
    // shell convention: rowkind leads (Paimon's audit_log/changelog shape)
    all.select(col("rowkind") +: all.columns.filterNot(_ == "rowkind").map(col): _*)
  }

  // ---- rollback (Paimon `rollback-to`: undo commits) ----------------------

  /** Roll the table back so `snapshotId` is the latest snapshot again: every
    * newer snapshot manifest is deleted, along with any data file only those
    * snapshots referenced (Paimon's `rollback-to` action). Tags pinning a
    * newer snapshot make the rollback refuse — delete them first; consumers
    * ahead of the new head are clamped back to it (their unconsumed
    * increments no longer exist). Like Paimon, the caller is responsible for
    * stopping concurrent writers first: a writer mid-commit could re-observe
    * a rolled-back id. */
  /** Partition expiry (Paimon's `partition.expiration-time` /
    * `CALL sys.expire_partitions`): age out WHOLE partitions as ONE
    * metadata-only commit — a date-partitioned continuous ingest otherwise
    * accumulates partitions forever. Zero data bytes read or written at any
    * table size: partition membership rides the same single-valued
    * manifest-stat proofs exact pruning and partition overwrite stand on
    * (null-count-guarded — a file mixing values with NULLs refuses loudly),
    * and the drop is [[dropFiles]]. The dropped partitions stay
    * time-travelable until SNAPSHOT retention reclaims their files — expiry
    * retires them from the CURRENT view, retention reclaims bytes (the
    * Paimon split).
    *
    * Strategies (Paimon's `partition.expiration-strategy`):
    *  - `update-time`: a partition expires when its NEWEST file is older
    *    than the horizon — right for slowly-refreshed value partitions.
    *  - `values-time`: the partition's value(s) parse as a date/datetime
    *    (`partition.timestamp-formatter`) and expire on event time — right
    *    for date-partitioned ingest, deterministic under replays/backfills
    *    (a late write into an old partition does not resurrect it). A
    *    MULTI-KEY date layout (year/month/day) assembles the parse input
    *    through `partition.timestamp-pattern` (Paimon's option — e.g.
    *    `"$year-$month-$day"`, `$<key>` substituted per partition key);
    *    without a pattern the FIRST key's value parses alone. Unparseable
    *    values and NULL components never value-expire (Paimon's skip
    *    posture — deleting data because a label failed to parse would be
    *    silent loss).
    *
    * Returns the number of partitions dropped. */
  def expirePartitions(expireAfterMs: Long,
      strategy: String = "update-time",
      timestampFormatter: String = "yyyy-MM-dd",
      timestampPattern: Option[String] = None): Int = {
    val pks = partitionKeys.getOrElse(throw new UnsupportedOperationException(
      s"$root is not a partitioned table — partition expiry needs PARTITIONED BY"))
    require(expireAfterMs > 0,
      s"partition expiry needs a positive horizon, got $expireAfterMs ms")
    require(Set("update-time", "values-time").contains(strategy),
      s"unknown partition-expiration strategy '$strategy' " +
        "(update-time | values-time)")
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (live.isEmpty) return 0
    val conf = new org.apache.hadoop.conf.Configuration()
    val byPart = live.groupBy(f =>
      StreamTable.partitionTupleOf(f, pks, conf, root))
    val cutoff = System.currentTimeMillis() - expireAfterMs
    val expired = strategy match {
      case "update-time" =>
        byPart.filter { case (_, fs) => fs.iterator.map(_.creationTimeMs).max < cutoff }
      case _ => // values-time (validated above)
        // the parse input per partition: the pattern's assembly over the
        // tuple, or the first key's value — None when any referenced
        // component is NULL (never value-expires)
        def parseInput(t: Seq[Option[String]]): Option[String] =
          timestampPattern match {
            case None => t.head
            case Some(pat) =>
              // TOKEN-delimited substitution: "$d" must neither eat into a
              // longer placeholder ("$d1" stays unresolved when the key is
              // "d") nor be shadowed by one — a bare contains() would let a
              // typo'd placeholder assemble a PARSEABLE string from a
              // shorter key's value and mis-expire the partition
              pks.zip(t).foldLeft(Option(pat)) { case (acc, (k, v)) =>
                acc.flatMap { cur =>
                  val token = ("\\$" + java.util.regex.Pattern.quote(k) +
                    "(?![A-Za-z0-9_])").r
                  if (token.findFirstIn(cur).isEmpty) Some(cur)
                  else v.map(value => token.replaceAllIn(cur, // NULL: never expires
                    scala.util.matching.Regex.quoteReplacement(value)))
                }
              }
                // an unresolved placeholder (typo'd key name) parses to
                // nothing — the partition is skipped, not mis-expired
                .filterNot(_.contains("$"))
          }
        byPart.filter { case (t, _) =>
          parseInput(t).exists(v =>
            StreamTable.parsePartitionTimeMs(v, timestampFormatter)
              .exists(_ < cutoff))
        }
    }
    if (expired.isEmpty) return 0
    log.info(s"expiring ${expired.size} partition(s) of $root: " +
      expired.keys.map(StreamTable.renderPartitionLabel).toSeq.sorted
        .take(10).mkString(", "))
    dropFiles(expired.valuesIterator.flatten.map(_.path).toSet)
    expired.size
  }

  def rollbackTo(snapshotId: Long): Snapshot = {
    val snaps = snapshotHeaders
    val target = snaps.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId to roll back to"))
    val newerTags = tags.filter(_._2 > snapshotId)
    require(newerTags.isEmpty,
      s"tags pin snapshots newer than $snapshotId: " +
        newerTags.map(t => s"${t._1}->${t._2}").mkString(", "))
    val newerBranches = branches.filter(_._2 > snapshotId)
    require(newerBranches.isEmpty,
      s"branches are seeded past $snapshotId: " +
        newerBranches.map(b => s"${b._1}@${b._2}").mkString(", ") +
        " — delete or fast-forward them first")
    val newer = snaps.filter(_.id > snapshotId)
    val kept = snaps.filter(_.id <= snapshotId)
    val (keptRefs, newerRefs) = liveUnions(snaps, _.id <= snapshotId)
    val orphaned = newerRefs -- keptRefs
    // delete manifests NEWEST-FIRST so a concurrent reader's max-id scan can
    // never select a manifest whose successor was already removed — this
    // ORDERED walk stays serial by design (the id chain is the protocol);
    // the unordered data-file reclaim below distributes at scale
    newer.sortBy(-_.id).foreach { s0 =>
      Files.deleteIfExists(Paths.get(snapDir, s"snap-${s0.id}.json"))
    }
    deletePaths(orphaned.toSeq)
    // delta manifests only the rolled-back snapshots referenced
    val keptManifests = kept.iterator.flatMap(linkedManifests).toSet
    deletePaths((newer.iterator.flatMap(linkedManifests).toSet -- keptManifests)
      .toSeq.map(n => s"$manifestDir/$n"))
    consumers.filter(_._2 > snapshotId + 1)
      .foreach { case (id, _) => writeConsumerFile(id, snapshotId + 1) }
    hydrated(target)
  }

  /** [[rollbackTo]] the snapshot a tag pins (Paimon `rollback_to` with a tag
    * name). The tag survives — it now pins the head. */
  def rollbackToTag(name: String): Snapshot =
    rollbackTo(tags.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no tag '$name'")))

  // ---- branches (Paimon create_branch / fast_forward: write-audit-publish)

  /** Branches on this table: (name, seed snapshot id). A branch is an
    * INDEPENDENT snapshot chain under `root/branch/<name>/`, seeded from a
    * tag/snapshot with ZERO data copy (its seed manifest references the
    * parent's files by absolute path — the same trick tags use, at chain
    * granularity). Seeds are retention roots like tags, so the parent's
    * snapshot expiry can never reclaim a file a live branch stands on. */
  def branches: Seq[(String, Long)] = {
    val dir = Paths.get(root, "branch")
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).iterator.filter(Files.isDirectory(_)).flatMap { p =>
      val bj = p.resolve("_branch.json")
      if (!Files.exists(bj)) None
      else scala.util.Try((p.getFileName.toString,
        mapper.readTree(Files.readAllBytes(bj)).get("seed").asLong)).toOption
    }.toSeq.sortBy(_._1)
  }

  /** Create branch `name` from a tag name / snapshot id (head when None):
    * the write-audit-publish staging area — writes land on the branch,
    * invisible on main until [[fastForward]] publishes them. Metadata-only
    * at any table size: one manifest listing the seed state + one snapshot
    * JSON; no data byte moves. */
  def createBranch(name: String, from: Option[String] = None): Long = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"bad branch name '$name'")
    val bRoot = Paths.get(root, "branch", name)
    require(!Files.exists(bRoot.resolve("_branch.json")),
      s"branch '$name' already exists on $root")
    val seedId = from match {
      case None => latestSnapshot.map(_.id).getOrElse(
        throw new IllegalArgumentException(s"$root is empty — nothing to branch"))
      case Some(x) => x.toLongOption.orElse(tags.toMap.get(x)).getOrElse(
        throw new IllegalArgumentException(
          s"'$x' is neither a snapshot id nor a tag of $root"))
    }
    val seed = snapshotAt(seedId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $seedId at $root"))
    Files.createDirectories(bRoot.resolve("_snapshots"))
    Files.createDirectories(bRoot.resolve("_manifests"))
    // the branch opens with the parent's structural semantics in BOTH
    // doors: options file for path/catalog opens, constructor params via
    // [[branchTable]]
    val opt = Paths.get(root, "_table_options.json")
    if (Files.exists(opt))
      Files.copy(opt, bRoot.resolve("_table_options.json"),
        StandardCopyOption.REPLACE_EXISTING)
    val mfName = s"mf-seed-${UUID.randomUUID()}.json"
    Files.write(bRoot.resolve("_manifests").resolve(mfName),
      mapper.writeValueAsBytes(ManifestDelta(added = seed.files)))
    // same id + batch watermark as the seed: the branch's chain CONTINUES
    // main's numbering, which is what lets fast-forward publish its
    // snapshots onto main verbatim
    val snap = Snapshot(seedId, System.currentTimeMillis(), seed.batchId,
      Seq.empty,
      // a dynamic-bucket parent's branch continues under the seed's COUNT
      // (its labels were stamped there) — dropping it would reset the
      // branch to the initial count and scatter later branch writes
      bucketCount = seed.bucketCount,
      kind = "append", manifestList = Seq(mfName),
      deltaManifest = Some(mfName))
    Files.write(bRoot.resolve("_snapshots").resolve(s"snap-$seedId.json"),
      mapper.writeValueAsBytes(snap))
    Files.write(bRoot.resolve("_branch.json"),
      mapper.writeValueAsBytes(Map("seed" -> seedId)))
    seedId
  }

  /** Open branch `name` as a [[StreamTable]] (same structural semantics as
    * the parent): read it, write to it, compact it — main never sees any of
    * it until [[fastForward]]. */
  def branchTable(name: String): StreamTable = {
    val bRoot = Paths.get(root, "branch", name)
    require(Files.exists(bRoot.resolve("_branch.json")),
      s"no branch '$name' at $root")
    new StreamTable(bRoot.toString, spark, primaryKey, seqCol, bucketKey,
      numBuckets, aggSpec, mergeEngine, changelogProducer, partitionKeys,
      changelogMode, columnDefaults, dynBucketTargetRows, dynBucketInitial)
  }

  /** Publish branch `name` onto main (Paimon `fast_forward`): every branch
    * snapshot past the seed lands on main through the SAME CAS publish
    * every commit uses — ascending ids, each an atomic fail-if-exists
    * rename, so readers only ever observe valid heads and a concurrent
    * main writer loses no data (the fast-forward aborts loudly instead).
    * Requires main's head to still BE the branch point (the write-audit-
    * publish contract — a diverged main must roll back or re-branch).
    * The branch is CONSUMED: its chain now lives on main; its data files
    * stay where they are (absolute paths) and reclaim through main's
    * snapshot retention like any other file. */
  def fastForward(name: String): Snapshot = {
    val bRoot = Paths.get(root, "branch", name)
    require(Files.exists(bRoot.resolve("_branch.json")), s"no branch '$name'")
    val seedId = mapper.readTree(
      Files.readAllBytes(bRoot.resolve("_branch.json"))).get("seed").asLong
    val mainHead = latestSnapshot.map(_.id).getOrElse(-1L)
    if (mainHead != seedId) throw new java.util.ConcurrentModificationException(
      s"main's head ($mainHead) is not the branch point ($seedId) of " +
        s"'$name' — roll back main or re-create the branch from the head")
    val b = branchTable(name)
    val newer = b.snapshotHeaders.filter(_.id > seedId)
    // manifests first (snapshots reference them by name; mf-<uuid> names
    // cannot collide), including the seed manifest later lists still fold
    val needed = newer.iterator
      .flatMap(s => s.manifestList ++ s.deltaManifest.toSeq).toSet
    needed.foreach { n =>
      val src = bRoot.resolve("_manifests").resolve(n)
      val dst = Paths.get(manifestDir, n)
      if (Files.exists(src) && !Files.exists(dst)) Files.copy(src, dst)
    }
    newer.foreach { s0 =>
      if (!committer.publish(Paths.get(snapDir, s"snap-${s0.id}.json"),
          mapper.writeValueAsBytes(s0)))
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit during fast-forward of '$name' at snapshot " +
            s"${s0.id} — rerun the fast-forward after auditing the branch")
    }
    // consume the branch: only its METADATA drops (published data files now
    // belong to main's history)
    deleteTree(bRoot.resolve("_snapshots"))
    deleteTree(bRoot.resolve("_manifests"))
    Files.deleteIfExists(bRoot.resolve("_table_options.json"))
    Files.deleteIfExists(bRoot.resolve("_branch.json"))
    latestSnapshot.get
  }

  /** Drop branch `name` and everything staged on it (Paimon
    * `delete_branch`) — the audit-failed path of write-audit-publish. */
  def deleteBranch(name: String): Unit = {
    val bRoot = Paths.get(root, "branch", name)
    require(Files.exists(bRoot.resolve("_branch.json")), s"no branch '$name'")
    deleteTree(bRoot)
  }

  // ---- maintenance (compaction 2A#16, retention 2A#15/18) ----------------

  /** Offline compaction (the paimon-flink-action `compact` job,
    * guide.md:172-177): rewrite the current live set into `targetFileCount`
    * level-1 files and swap the manifest. Row count is conserved
    * (guide.md:212-231 → :258-259); for PK tables the rewrite also resolves
    * last-writer-wins, shrinking data like Paimon's full compaction. */
  def compact(targetFileCount: Int): Snapshot =
    // bucketed tables preserve the hash-bucket layout through compaction
    // (Paimon compacts WITHIN buckets — the bucket count is invariant):
    // [[writeClustered]] re-clusters on the same pmod(murmur3(key), n)
    // function with content-derived labels, so per-key co-location AND the
    // storage-partitioned-join contract survive the rewrite;
    // targetFileCount is advisory there (one file per bucket is the
    // compacted layout)
    rewriteLive(
      resolved =>
        if (bucketKey.isDefined) resolved else resolved.repartition(targetFileCount),
      recordBuckets = bucketKey.isDefined, sortByKey = primaryKey.isDefined,
      clustered = bucketKey.isDefined)

  /** Dynamic bucket growth (`bucket = -1`): a metadata-only census probe —
    * live rows per recorded bucket label, folded from the manifest — and,
    * only when some bucket outgrew `dynamic-bucket.target-row-num`, ONE
    * split commit that relabels the table under the doubled count (doubled
    * as many times as the overflow demands, so a huge backfill splits once,
    * not once per doubling). The split rides [[rewriteLive]], so it is also
    * a full compaction: LWW resolves, sorted runs re-establish, and the
    * physical bytes rewritten are exactly the amortized-2× doubling series.
    * Runs inline on the write path (appendBatch/overwriteBatch) — the
    * single-logical-writer contract means it never races its own writer;
    * an EXTERNAL concurrent split is caught by the commit-time count guard.
    * Returns the split snapshot, None when no bucket overflowed. */
  def maybeSplitBuckets(): Option[Snapshot] = {
    if (!isDynamicBucket) return None
    val snap = latestSnapshot.getOrElse(return None)
    if (snap.files.isEmpty) return None
    // a file without a provable label (legacy, row-level DML output) makes
    // the census unsound — wait for the next compaction to relabel it
    if (!snap.files.forall(_.bucket.isDefined)) return None
    val n = snap.bucketCount.getOrElse(dynBucketInitial)
    // rowCount (not LWW-resolved rows): conservative — duplicate versions
    // inflate the census and split slightly early, and the split itself is
    // the compaction that deflates them
    val maxLoad = snap.files.groupBy(_.bucket.get)
      .valuesIterator.map(_.map(_.liveRowCount).sum).max
    if (maxLoad <= dynBucketTargetRows) return None
    var next = n.toLong
    var load = maxLoad
    while (load > dynBucketTargetRows && next < DynMaxBuckets) {
      next *= 2; load = (load + 1) / 2 // hash-uniform halving per doubling
    }
    log.info(s"dynamic bucket split of $root: max bucket load $maxLoad > " +
      s"$dynBucketTargetRows, rescaling $n -> $next buckets")
    Some(rewriteLive(identity, recordBuckets = true,
      sortByKey = primaryKey.isDefined, clustered = true,
      bucketsOverride = Some(next.toInt)))
  }

  /** Z-order sort-compaction (Paimon's `sort-compact` with
    * `'sort-order'='zorder'`): rewrite the live set CLUSTERED on the
    * interleaved bit-order of two numeric columns, so the footer min/max
    * stats — and therefore [[readWhere]] file skipping — stay selective on
    * BOTH columns at once. A linear sort concentrates only its leading
    * column; a 2-D z-curve gives each file a tight bounding box in (a, b),
    * so a box predicate touches ~√(selectivity) of the files in either
    * dimension. That is the 100 TB story: skipping is metadata-only
    * (driver-side manifest work), and the one-off rewrite is a single
    * range-shuffle of the data — the same cost as plain compaction.
    *
    * Each column is rank-quantized to 16 bits against its observed
    * [min, max] (one cheap stats pass), then the bits are interleaved with
    * the classic mask-spread — all whole-stage-codegen arithmetic, no UDF. */
  def sortCompact(colA: String, colB: String, targetFileCount: Int): Snapshot = {
    require(bucketKey.isEmpty,
      "sortCompact replaces the clustering policy; a bucket-keyed table's " +
        "co-location contract would be silently lost — unset bucket-key first")
    // a PK table keeps the z-range per file, each file sorted by the key
    rewriteLive(sortByKey = primaryKey.isDefined, layout = { resolved =>
      val stats = resolved.agg(
        min(col(colA)).cast("double").as("amn"), max(col(colA)).cast("double").as("amx"),
        min(col(colB)).cast("double").as("bmn"), max(col(colB)).cast("double").as("bmx"))
        .head()
      def quant(c: String, mn: Double, mx: Double) = {
        val span = if (mx > mn) mx - mn else 1.0
        // 16-bit rank; clamp guards FP edge at the max
        least(lit(65535L),
          ((col(c).cast("double") - mn) / span * 65535.0).cast("long")).as("q")
      }
      // spread 16 bits to even positions (x_15..x_0 → bit 2i), then
      // interleave: z = spread(a) | spread(b) << 1 — pure long arithmetic
      def spread(c: org.apache.spark.sql.Column) = {
        val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
        val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
        val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
        s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
      }
      val z = spread(quant(colA, stats.getDouble(0), stats.getDouble(1)))
        .bitwiseOR(shiftleft(spread(quant(colB, stats.getDouble(2), stats.getDouble(3))), 1))
      resolved.withColumn("__graft_z", z)
        .repartitionByRange(targetFileCount, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
    })
  }

  /** Linear sort-compaction (Paimon's `sort-compact` with
    * `'sort-order'='order'`): rewrite the live set range-partitioned and
    * sorted on `cols` — the LEADING column's per-file [min, max] come out
    * DISJOINT, so its predicates skip file-exactly after arbitrarily long
    * unsorted ingest; trailing columns tighten within ties. The 1-D sibling
    * of [[sortCompact]]: use this when one column dominates the scan
    * predicates, the z-curve when two do. Same one-range-shuffle cost as a
    * plain compaction. A PK table keeps the ranges; each file is sorted by
    * the key (the sorted-run invariant). */
  def sortCompactOrder(cols: Seq[String], targetFileCount: Int): Snapshot = {
    require(cols.nonEmpty, "sortCompactOrder needs at least one column")
    require(bucketKey.isEmpty,
      "sortCompactOrder replaces the clustering policy; a bucket-keyed " +
        "table's co-location contract would be silently lost — unset " +
        "bucket-key first")
    rewriteLive(resolved => resolved
      .repartitionByRange(targetFileCount, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*),
      sortByKey = primaryKey.isDefined)
  }

  /** Materialize deletion vectors ONLY: rewrite exactly the files carrying
    * a vector (the read applies the suppression) and swap their manifest
    * entries — the surgical dual of [[compact]]: cost ∝ dv'd file BYTES,
    * every clean file survives byte-identical, and the scan's vectorized
    * path (plus SPJ on bucketed layouts) comes back without waiting for a
    * full compaction. Bucketed layouts rewrite through the clustered
    * writer so bucket labels survive. Returns (files materialized,
    * committed snapshot id); (0, -1) = no vectors — the probe is manifest
    * metadata only, zero file I/O. */
  def materializeDeletionVectors(): (Int, Long) = {
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    val dvd = live.filter(_.dvCount.exists(_ > 0))
    if (dvd.isEmpty) return (0, -1L)
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val raw = readFiles(dvd) // deletion-vector suppression applied here
    val clustered = bucketKey.isDefined && dvd.forall(_.bucket.isDefined)
    val moved: Seq[(String, Option[Int])] =
      if (clustered)
        writeClustered(raw, primaryKey, staging, dataCompact, s"dvm$snapId")
          .map { case (p, k) => (p, Some(k)) }
      else {
        StreamTable.withMicrosTimestamps(spark)(
          raw.write.mode("overwrite").parquet(staging))
        moveStagedParts(staging, dataCompact, s"dvm$snapId")
          .map { case (p, _) => (p, None) }
      }
    val metasAll = withPreservedCreation(dvd,
      fileMetas(spark, moved.map(_._1), level = 1,
        minSeq = dvd.map(_.minSeq).min, maxSeq = dvd.map(_.maxSeq).max)
        .zip(moved).map { case (m, (_, bkt)) => m.copy(bucket = bkt) })
    val (metas, empties) = metasAll.partition(_.rowCount > 0)
    empties.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
    val (inRows, outRows) =
      (dvd.map(_.liveRowCount).sum, metas.map(_.rowCount).sum)
    require(outRows == inRows,
      s"dv materialization must conserve live rows: $inRows -> $outRows")
    val touched = dvd.map(_.path).toSet
    // maintenance kind: the DELETE's change surface was the DV commit —
    // this rewrite is absorbed layout work, never re-emitted change
    val snap = commit({ liveNow =>
      val gone = touched -- liveNow.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) under dv materialization (e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(metas, touched,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, kind = "compact")
    (dvd.size, snap.id)
  }

  /** Shared rewrite machinery: read the live set, resolve merge semantics,
    * rewrite through `layout`, atomically swap the manifest. Conservation is
    * validated against the rewrite's own inputs/outputs (footer row counts),
    * never a re-read of the live table — a concurrent writer committing
    * mid-rewrite must not fail the check. */
  /** TARGETED small-file compaction (Paimon's per-bucket compaction
    * trigger, the `num-sorted-run.compaction-trigger` idea): rewrite ONLY
    * the groups whose small-file backlog reached `trigger`, leaving every
    * other live file byte-identical. At 100 TB a full-table [[compact]] is
    * not a maintenance plan — the job must touch the BACKLOG, not the
    * table. This is a MINOR compaction: no merge resolution runs — rows
    * pass through with their stamped sequences, tombstones, and per-field
    * provenance intact (read-time merging is unchanged; only a full
    * compaction may drop tombstone winners that still suppress older files)
    * — so row count is conserved EXACTLY on every engine. PK groups
    * rewrite key-sorted and flag the output a sorted run (exact
    * (sequence, commit) ties may re-resolve, the same arbitrary-tie
    * contract every merge site states). Groups are hash buckets when the
    * layout records them; unbucketed tables form one group. Returns None
    * when no group qualifies — the probe is manifest metadata only, zero
    * file I/O. */
  def compactSmallFiles(smallBytes: Long = 32L << 20,
      trigger: Int = 4): Option[Snapshot] = {
    val live = latestSnapshot.map(_.files).getOrElse(Seq.empty)
    if (live.isEmpty) return None
    val clustered = bucketKey.isDefined && live.forall(_.bucket.isDefined)
    // unbucketed layout: the single legacy group IS the whole table
    val groups: Seq[Seq[DataFileMeta]] =
      if (clustered) live.groupBy(_.bucket.get).values.toSeq else Seq(live)
    val targets = groups.map(_.filter(_.fileSizeInBytes < smallBytes))
      .filter(_.size >= trigger)
    if (targets.isEmpty) return None
    val before = targets.flatten
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val sortKey = primaryKey
    val raw = readFiles(before)
    val moved: Seq[(String, Option[Int])] =
      if (clustered)
        // one clustered job: content-derived bucket labels, one file per
        // qualifying bucket (only their rows are in the input)
        writeClustered(raw, sortKey, staging, dataCompact, s"m$snapId")
          .map { case (p, k) => (p, Some(k)) }
      else {
        val laid = sortKey match {
          case Some(pk) => raw.coalesce(1).sortWithinPartitions(pk.map(col): _*)
          case None     => raw.coalesce(1)
        }
        StreamTable.withMicrosTimestamps(spark)(
          laid.write.mode("overwrite").parquet(staging))
        moveStagedParts(staging, dataCompact, s"m$snapId")
          .map { case (p, _) => (p, None) }
      }
    val metasAll = withPreservedCreation(before,
      fileMetas(spark, moved.map(_._1), level = 1,
        minSeq = before.map(_.minSeq).min, maxSeq = before.map(_.maxSeq).max)
        .zip(moved).map { case (m, (_, bkt)) =>
          val b = m.copy(bucket = bkt)
          if (sortKey.isDefined) b.copy(sortedBy = sortKey) else b
        })
    val (metas, empties) = metasAll.partition(_.rowCount > 0)
    empties.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
    // strict conservation of LIVE rows: a minor compaction concatenates,
    // never resolves (deletion-vector suppression is materialization of an
    // already-committed delete, not resolution — the vectors purge here)
    val (inRows, outRows) =
      (before.map(_.liveRowCount).sum, metas.map(_.rowCount).sum)
    require(outRows == inRows,
      s"minor compaction must conserve rows: $inRows -> $outRows")
    val compactedPaths = before.map(_.path).toSet
    Some(commit({ liveNow =>
      val gone = compactedPaths -- liveNow.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) out from under this minor compaction " +
        s"(e.g. ${gone.take(2).mkString(", ")})")
      CommitChange(metas, compactedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, produced = clogAtWrite, kind = "compact"))
  }

  /** Preserve the newest SOURCE `creationTimeMs` (per partition on a
    * partitioned table) through a pure maintenance rewrite. Update-time
    * partition expiry ages a partition by the newest LOGICAL data arrival —
    * if compaction restamped rewritten files with the rewrite time, a table
    * under periodic maintenance would never expire any partition. Row-level
    * DML keeps the fresh stamp (it IS a logical update); only layout-neutral
    * rewrites (compact / rescale / small-file merge / DV materialization)
    * route through here. A file the tuple probe cannot prove single-valued
    * falls back to the GLOBAL source max — conservative: a partition can
    * only look younger (expire later), never older. */
  private def withPreservedCreation(sources: Seq[DataFileMeta],
      outputs: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    if (sources.isEmpty || outputs.isEmpty) return outputs
    val globalMax = sources.iterator.map(_.creationTimeMs).max
    partitionKeys match {
      case None => outputs.map(_.copy(creationTimeMs = globalMax))
      case Some(pks) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        def tupleOf(f: DataFileMeta): Option[Seq[Option[String]]] =
          scala.util.Try(
            StreamTable.partitionTupleOf(f, pks, conf, root)).toOption
        val perPart: Map[Seq[Option[String]], Long] = sources
          .flatMap(f => tupleOf(f).map(_ -> f.creationTimeMs))
          .groupMapReduce(_._1)(_._2)(math.max)
        outputs.map { m =>
          val kept = tupleOf(m).flatMap(perPart.get).getOrElse(globalMax)
          m.copy(creationTimeMs = kept)
        }
    }
  }

  /** `files` as sorted runs on `pk`, for a merge: a file written before
    * sorted runs were required is rewritten under `dir` sorted by the key,
    * stable on its row order, and named by its place in the merge's tie
    * order (`minSeq`, path), so exact ties keep their order; the others
    * pass through. The rewritten copies are merge inputs only — the table
    * keeps the original files until a compaction replaces them. */
  private def asSortedRuns(files: Seq[DataFileMeta], pk: Seq[String],
      dir: String): Seq[DataFileMeta] =
    files.sortBy(f => (f.minSeq, f.path)).zipWithIndex.flatMap { case (f, i) =>
      if (f.sortedBy.contains(pk)) Some(f)
      else {
        val out = f"$dir/$i%09d"
        StreamTable.withMicrosTimestamps(spark)(
          spark.read.schema(StreamTable.fileSchema(spark, Seq(f))).parquet(f.path)
            .withColumn("__graft_row", col("_metadata.row_index"))
            .coalesce(1).sortWithinPartitions((pk :+ "__graft_row").map(col): _*)
            .drop("__graft_row").write.parquet(out))
        // a file without rows may leave no part file: nothing to merge
        listDir(Paths.get(out)).find(_.getFileName.toString.endsWith(".parquet"))
          .map(p => f.copy(path = p.toString, fileSizeInBytes = Files.size(p),
            sortedBy = Some(pk)))
      }
    }

  private def rewriteLive(layout: DataFrame => DataFrame,
      recordBuckets: Boolean = false, sortByKey: Boolean = false,
      clustered: Boolean = false,
      /** Dynamic bucket SPLIT: relabel under this count and stamp it into
        * the commit (the one legitimate count change). */
      bucketsOverride: Option[Int] = None): Snapshot = {
    val head = latestSnapshot
    val before = head.map(_.files).getOrElse(Seq.empty)
    if (before.isEmpty) return head.orNull
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    val sortedRuns = s"$root/.staging-${UUID.randomUUID()}"
    val resolved = primaryKey match {
      case None => readFiles(before)
      // the connector's merge of every live file, with the commit sequence
      // and the per-field provenance kept: the rewritten rows keep merging
      // with later writes (aggregation tables PRE-MERGE — Paimon's
      // full-compaction materialization — into partial aggregates)
      case Some(pk) => graft.sources.v2.GraftV2Table.frame(
        graft.sources.v2.GraftV2Table.library(this, head.map(_.id), stored = true,
          files = Some(asSortedRuns(before, pk, sortedRuns)), bookkeeping = true))
    }
    val laid = layout(resolved)
    // compaction re-establishes the sorted-run invariant for PK tables
    // (see writeClustered) — the sort rides inside the clustered write, or
    // after the layout's own repartitioning otherwise
    val sortKey = if (sortByKey) primaryKey else None
    val snapId = latestSnapshot.map(_.id).getOrElse(0L)
    val moved = try {
      // a partitioned table's maintenance rewrites MUST keep the
      // single-valued-file clustering, whatever the layout callback did
      if (clustered || partitionKeys.isDefined)
        writeClustered(laid, sortKey, staging, dataCompact, s"c$snapId",
          bucketsOverride)
      else {
        val rewritten = sortKey match {
          case Some(pk) => laid.sortWithinPartitions(pk.map(col): _*)
          case None     => laid
        }
        StreamTable.withMicrosTimestamps(spark)(
          rewritten.write.mode("overwrite").parquet(staging))
        moveStagedParts(staging, dataCompact, s"c$snapId")
      }
    } finally deleteRecursively(Paths.get(sortedRuns))
    val maxSeq = before.map(_.maxSeq).max
    val metas = withPreservedCreation(before,
      fileMetas(spark, moved.map(_._1), level = 1,
        minSeq = before.map(_.minSeq).min, maxSeq = maxSeq)
        .zip(moved).map { case (m, (_, k)) =>
          val b = if (recordBuckets) m.copy(bucket = Some(k)) else m
          if (sortKey.isDefined) b.copy(sortedBy = sortKey) else b
        })
    // Conservation is validated against the rewrite's own inputs/outputs
    // (footer row counts), never a re-read of the live table — a concurrent
    // writer committing mid-compaction must not fail the check. PK tables
    // may legitimately shrink (last-writer-wins resolution + tombstones).
    // Append tables conserve LIVE rows (deletion vectors materialize away).
    val (inRows, outRows) =
      (before.map(_.liveRowCount).sum, metas.map(_.rowCount).sum)
    if (primaryKey.isEmpty) require(outRows == inRows,
      s"compaction must conserve rows: $inRows -> $outRows")
    else require(outRows <= inRows,
      s"PK compaction cannot grow rows: $inRows -> $outRows")
    val compactedPaths = before.map(_.path).toSet
    // Keep files appended concurrently since we snapshotted `before`. But if
    // a file we REWROTE is no longer live, another maintenance job (compact /
    // row-level rewrite) replaced it concurrently — committing our copy of
    // its rows on top of that job's would silently duplicate them, so fail
    // loudly instead (the safe contract is one maintenance job at a time;
    // concurrent APPENDS remain fine).
    // DEFERRED changelog production ('lookup' / 'full-compaction'): this
    // compaction also stages ONE netted changelog covering every commit
    // since the last covered snapshot — the write path stayed raw appends,
    // so the span's retractions are computed here, once, from the two
    // endpoint states (the deferred price; O(span delta) evidence +
    // touched-key resolves, not a per-commit walk)
    val (deferredClog, deferredFrom) =
      if (clogAtCompact && primaryKey.isDefined) {
        val heads = snapshotHeaders
        val headId = heads.last.id
        val from = heads.reverse.find(_.clogProduced).map(_.id)
          .getOrElse(heads.head.id)
        if (from >= headId) (Seq.empty[DataFileMeta], Some(from))
        else {
          val ops = changelogWithRetractions(from, headId)
          (persistChangelog(ops, latestSnapshot.map(_.batchId).getOrElse(0L),
            s"dcl$headId"), Some(from))
        }
      } else (Seq.empty[DataFileMeta], None)
    try commit({ live =>
      val gone = compactedPaths -- live.map(_.path).toSet
      require(gone.isEmpty, s"concurrent maintenance rewrote ${gone.size} " +
        s"file(s) out from under this compaction (e.g. ${gone.take(2).mkString(", ")})")
      // the deferred changelog's coverage claim (clogFromId, thisId] is
      // computed against the pre-compaction head: a WRITE landing during
      // the compaction would fall inside the claimed span without its
      // changes in the staged files — refuse (plain compaction tolerates
      // concurrent appends; a deferred PRODUCER is also the single logical
      // changelog writer, the same contract stageChangelog documents)
      if (deferredFrom.isDefined) {
        val extra = live.iterator.map(_.path).toSet -- compactedPaths
        if (extra.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"concurrent write during deferred-changelog compaction of $root " +
            s"(${extra.size} new file(s)) — rerun the compaction")
      }
      CommitChange(metas, compactedPaths,
        latestSnapshot.map(_.batchId).getOrElse(-1L))
    }, // a layout rewrite changes no logical row — an empty PRODUCED
       // changelog keeps CDC intervals spanning it on the delta fast path
       // ('input'); deferred modes attach the span's netted changelog here
      changelog = deferredClog,
      produced = clogAtWrite || deferredFrom.isDefined,
      clogFrom = deferredFrom,
      kind = "compact", buckets = bucketsOverride)
    catch { case e: Throwable =>
      // an aborted commit must not leak its staged output: the span
      // changelog AND the level-1 rewrite of the live set (a retried-and-
      // failed deferred compaction would otherwise accumulate a full-table
      // copy of orphan parquet per attempt) — same cleanup discipline as
      // the dynamic overwrite; nothing references either until the commit
      // publishes
      deferredClog.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
      metas.foreach(m => Files.deleteIfExists(Paths.get(m.path)))
      throw e
    }
  }

  /** Snapshot retention (ALTER TABLE … snapshot.num-retained / time-retained,
    * guide.md:180-184): keep the newest `numRetainedMax` snapshots and any
    * younger than `timeRetainedMs` (always ≥ `numRetainedMin`), delete expired
    * manifests and any data file no retained snapshot references (VACUUM).
    * Tags and registered consumers are retention roots: a consumer at
    * progress `next` still needs snapshot `next-1` (its [[changesBetween]]
    * base) and everything after, so those never expire — Paimon's
    * consumer-id contract. */
  /** Delete files NO retained snapshot references (Paimon's
    * `remove_orphan_files`): crash leftovers — abandoned `.staging-*` trees
    * from a writer that died mid-stage, data/changelog files whose commit
    * lost an id race and was retried under a new name. Only files older
    * than `olderThanMs` are touched, so an in-flight writer's staged-but-
    * uncommitted output survives (the grace period is the correctness
    * knob — keep it above the longest plausible stage-to-commit gap);
    * manifests are never deleted (that is [[expireSnapshots]]' job).
    * Returns the number of DATA files removed; unlinked delta-manifest JSONs
    * swept in the same pass are counted separately in
    * [[lastOrphanManifestsRemoved]] (metadata, not data — callers reporting
    * "orphan files cleaned" must not conflate the two). */
  /** Every data/changelog path a snapshot's METADATA references: the union
    * of its manifests' ADDED paths (⊇ the live set — removals never shrink
    * what the metadata mentions) plus legacy inline files and changelog
    * files. The ORPHAN sweep keys on this — O(distinct manifests), no
    * hydration, and safely over-approximate (a manifest-referenced file is
    * retention-managed, not a crash leftover; expiry reclaims it when its
    * referencing snapshots go). */
  private def refPaths(s: Snapshot): Iterator[String] = {
    // a meta references its data file AND its deletion-vector sidecar
    def both(f: DataFileMeta) = Iterator(f.path) ++ f.dvPath.iterator
    (if (s.manifestList.isEmpty) s.files.iterator.flatMap(both)
     else s.manifestList.iterator
       .flatMap(n => manifestDelta(n).added.iterator.flatMap(both))) ++
      s.changelog.iterator.map(_.path)
  }

  /** All manifest files a snapshot links (the fold list + its own delta). */
  private def linkedManifests(s: Snapshot): Iterator[String] =
    s.manifestList.iterator ++ s.deltaManifest.iterator

  /** EXACT live-path unions over `snaps`, split by `inKept`: (keptUnion,
    * otherUnion) — what retention/rollback deletion decisions key on
    * (changelog paths included). ONE incremental delta fold across the
    * id-ordered history: the running live set updates in O(each commit's
    * delta); only legacy snapshots and retention gaps re-fold. */
  private def liveUnions(snaps: Seq[Snapshot], inKept: Snapshot => Boolean)
      : (Set[String], Set[String]) = {
    val live = new java.util.LinkedHashSet[String]()
    val kept = scala.collection.mutable.HashSet.empty[String]
    val other = scala.collection.mutable.HashSet.empty[String]
    var prev: Option[Snapshot] = None
    // Within a contiguous run landing in the same target, the union of
    // per-version live sets is the run-start live set plus every path the
    // run's deltas ADD (removals never shrink a union) — so the fold's add
    // callback feeds the union directly, O(delta) per commit, and the full
    // O(live) re-seed happens only at kept↔other boundaries and fold
    // fallbacks (legacy snapshots, retention gaps).
    var prevTarget: scala.collection.mutable.HashSet[String] = null
    // deletion-vector sidecars ride with their meta: the fold's remove
    // callback names only the data path, so the data→dv association is
    // tracked here and the sidecar leaves `live` exactly when its meta is
    // removed/replaced — a replaced vector is reclaimed as soon as its
    // last referencing snapshot expires
    val dvOf = scala.collection.mutable.HashMap.empty[String, String]
    def addMeta(f: DataFileMeta, target: scala.collection.mutable.HashSet[String],
        sameRun: Boolean): Unit = {
      live.add(f.path)
      f.dvPath.foreach { d => live.add(d); dvOf(f.path) = d }
      if (sameRun) { target += f.path; f.dvPath.foreach(target += _) }
    }
    def dropMeta(p: String): Unit = {
      live.remove(p)
      dvOf.remove(p).foreach(live.remove(_))
    }
    snaps.foreach { s =>
      val target = if (inKept(s)) kept else other
      val sameRun = target eq prevTarget
      val folded = foldCommit(prev, s)(dropMeta, addMeta(_, target, sameRun))
      if (!folded) {
        live.clear(); dvOf.clear()
        hydrated(s).files.foreach { f =>
          live.add(f.path)
          f.dvPath.foreach { d => live.add(d); dvOf(f.path) = d }
        }
      }
      if (!folded || !sameRun) live.forEach(p => target += p)
      s.changelog.foreach(f => target += f.path)
      prevTarget = target
      prev = Some(s)
    }
    (kept.toSet, other.toSet)
  }

  /** Fully distributed orphan sweep of the data directories (see
    * [[removeOrphanFiles]]): executors list the candidate names, parse the
    * retained manifests into the referenced-path set, anti-join the two,
    * and unlink the orphans behind the grace check — the driver ships dir
    * paths plus O(retained × window) manifest names and receives one count.
    * A manifest vanishing under the sweep (concurrent expiry) contributes
    * no references — safe, because expiry already deleted exactly the files
    * only that manifest's snapshots referenced. */
  private def distributedOrphanSweep(snaps: Seq[Snapshot], cutoff: Long): Long = {
    import spark.implicits._
    val candidates = spark.createDataset(
      Seq(dataAppend, dataCompact, dataChangelog, dataDv))
      .repartition(4)
      .flatMap { d =>
        val p = java.nio.file.Paths.get(d)
        if (!java.nio.file.Files.isDirectory(p)) Iterator.empty
        else {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.map(_.toString).toVector.iterator
          finally s.close()
        }
      }
    val manifestPaths = snaps.iterator.flatMap(_.manifestList.iterator)
      .toSeq.distinct.map(nm => s"$manifestDir/$nm")
    val fromManifests = spark.createDataset(manifestPaths)
      .repartition(math.max(1, math.min(32, manifestPaths.size / 4)))
      .flatMap { mp =>
        try StreamTable.parseManifest(mp).added.iterator
          .flatMap(f => Iterator(f.path) ++ f.dvPath.iterator).toVector
        catch {
          case _: java.nio.file.NoSuchFileException |
              _: java.io.FileNotFoundException => Vector.empty[String]
        }
      }
    // legacy inline live sets and per-commit changelog files are already in
    // the parsed headers — small, and the only driver-held path lists
    val inline = spark.createDataset(snaps.flatMap(s =>
      (if (s.manifestList.isEmpty)
        s.files.flatMap(f => f.path +: f.dvPath.toSeq) else Seq.empty) ++
        s.changelog.map(_.path)))
    candidates.except(fromManifests.union(inline))
      .mapPartitions(it => Iterator.single(StreamTable.reapPaths(it, cutoff)))
      .reduce(_ + _)
  }

  /** Delete a maintenance batch of absolute `paths`, returning how many
    * actually went. Small batches delete serially; at
    * [[StreamTable.distributedDeleteMin]] and above the I/O runs as a
    * DISTRIBUTED pass — executors delete partitioned path lists and the
    * driver keeps only the count (at 100 TB an expiry can reclaim millions
    * of files; a serial driver unlink loop would be the maintenance
    * bottleneck). `mtimeBelow` restricts deletion to entries older than the
    * instant (the orphan-sweep grace check, executed next to the delete so
    * the stat I/O distributes too); already-vanished paths count as not
    * deleted. */
  /** Can executor tasks touch the table's files directly? True on a
    * single-JVM deployment (local[*]) and on shared/object-store schemes;
    * FALSE for plain file:// paths on a multi-node cluster, where each
    * executor would list/delete its OWN local disk — a silent no-op that
    * reads as "no orphans". The distributed maintenance branches fall back
    * to the driver loop then (correct, just serial); a deployment with a
    * genuinely shared mount opts back in via
    * `-Dgraft.maintenance.assume-shared-fs=true`. */
  private def executorsShareFs: Boolean = {
    val scheme = Option(
      new org.apache.hadoop.fs.Path(root).toUri.getScheme).getOrElse("file")
    spark.sparkContext.isLocal || scheme != "file" ||
      sys.props.get("graft.maintenance.assume-shared-fs").exists(_.toBoolean)
  }

  private[graft] def deletePaths(paths: Seq[String],
      mtimeBelow: Long = Long.MaxValue): Long = {
    if (paths.size < StreamTable.distributedDeleteMin || !executorsShareFs) {
      StreamTable.driverMaintenanceDeletes.addAndGet(paths.size.toLong)
      StreamTable.reapPaths(paths.iterator, mtimeBelow)
    } else {
      import spark.implicits._
      val cutoff = mtimeBelow
      spark.createDataset(paths)
        .repartition(math.max(1, math.min(32, paths.size / 16)))
        .mapPartitions(it => Iterator.single(StreamTable.reapPaths(it, cutoff)))
        .reduce(_ + _)
    }
  }

  def removeOrphanFiles(olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val snaps = snapshotHeaders
    // Below the threshold the sweep is a driver loop (tiny tables, tests);
    // above it EVERYTHING per-file distributes — executors list the data
    // dirs, parse the manifests into the referenced set, anti-join, and
    // reap — the driver holds only dir/manifest NAMES and counts, never a
    // path-per-file structure (at 100 TB the referenced set alone would be
    // millions of strings). The GATE itself must honor that: estimate the
    // live-file count from the manifest JSONs' byte sizes (one stat per
    // manifest, ≤ rebase-window many), never a hydration that materializes
    // O(live) metas on the driver just to decide.
    val headLive = snaps.lastOption.map { s =>
      if (s.manifestList.isEmpty) s.files.size.toLong
      else s.manifestList.iterator.map { n =>
        try Files.size(Paths.get(manifestDir, n))
        catch { case _: java.io.IOException => 0L }
      }.sum / StreamTable.ManifestBytesPerEntry
    }.getOrElse(0L)
    var n =
      if (headLive >= StreamTable.distributedOrphanMin && executorsShareFs)
        distributedOrphanSweep(snaps, cutoff).toInt
      else {
        val referenced = snaps.iterator.flatMap(refPaths).toSet
        // the driver only LISTS and name-filters (no per-file stat); the
        // grace mtime check rides next to the delete in the reclaim pass
        val candidates = Seq(dataAppend, dataCompact, dataChangelog, dataDv)
          .flatMap { d =>
            listDir(Paths.get(d)).map(_.toString).filterNot(referenced.contains)
          }
        deletePaths(candidates, mtimeBelow = cutoff).toInt
      }
    // delta manifests no snapshot links (a commit retry's loser, a crashed
    // committer): same grace period — an in-flight commit's freshly-written
    // manifest is not yet referenced but about to be. Counted SEPARATELY:
    // manifest JSONs are metadata, not orphan data files.
    val linked = snaps.iterator.flatMap(linkedManifests).toSet
    val mfCandidates = listDir(Paths.get(manifestDir)).collect {
      case p if p.getFileName.toString.startsWith("mf-") &&
          !linked.contains(p.getFileName.toString) => p.toString
    }
    // a committer that died between writing its tmp snapshot JSON and the
    // CAS link leaves `.tmp-*.json` in the snapshot dir forever (both CAS
    // branches clean up, a crash in between cannot) — metadata leftovers,
    // counted with the manifests, same grace period
    val tmpSnaps = listDir(Paths.get(snapDir)).collect {
      case p if p.getFileName.toString.startsWith(".tmp-") &&
          p.getFileName.toString.endsWith(".json") => p.toString
    }
    lastOrphanManifestsRemoved =
      deletePaths(mfCandidates ++ tmpSnaps, mtimeBelow = cutoff).toInt
    listDir(Paths.get(root))
      .filter(_.getFileName.toString.startsWith(".staging-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach { d =>
        val s = Files.walk(d)
        val staged = try s.iterator().asScala.count(Files.isRegularFile(_))
          finally s.close()
        StreamTable.deleteTree(d)
        n += staged
      }
    n
  }

  /** Unlinked delta-manifest JSONs the most recent [[removeOrphanFiles]]
    * swept (metadata cleanup, reported apart from the data-file count). */
  @volatile var lastOrphanManifestsRemoved: Int = 0

  def expireSnapshots(numRetainedMin: Int, numRetainedMax: Int, timeRetainedMs: Long): Int = {
    val snaps = snapshotHeaders
    if (snaps.size <= numRetainedMin) return 0
    val now = System.currentTimeMillis()
    // tags are retention roots; so are branch SEEDS — a live branch's whole
    // chain stands on the seed state's files
    val tagged = tags.map(_._2).toSet ++ branches.map(_._2)
    val consumerFloor: Long = consumers.map(_._2 - 1).reduceOption(_ min _)
      .getOrElse(Long.MaxValue)
    val keep = snaps.zipWithIndex.filter { case (s0, i) =>
      val fromNewest = snaps.size - i
      tagged.contains(s0.id) ||
        s0.id >= consumerFloor ||
        fromNewest <= numRetainedMin ||
        (fromNewest <= numRetainedMax && now - s0.committedAtMs <= timeRetainedMs)
    }.map(_._1)
    val expired = snaps.filterNot(s0 => keep.exists(_.id == s0.id))
    // exact per-version live sets via one incremental delta fold — no
    // per-snapshot hydration, and compacted-away files whose every
    // referencing version expired are physically reclaimed
    val keepIds = keep.map(_.id).toSet
    val (liveRefs, expiredRefs) = liveUnions(snaps, s0 => keepIds.contains(s0.id))
    val deletable = expiredRefs -- liveRefs
    // data files + expired snapshot JSONs + orphaned delta manifests all
    // reclaim through the (distributed at scale) delete pass — the driver
    // never serially unlinks a large expiry's file list
    deletePaths(deletable.toSeq)
    deletePaths(expired.map(s0 => s"$snapDir/snap-${s0.id}.json"))
    // delta manifests referenced only by expired snapshots go with them
    val keptManifests = keep.iterator.flatMap(linkedManifests).toSet
    deletePaths((expired.iterator.flatMap(linkedManifests).toSet -- keptManifests)
      .toSeq.map(n => s"$manifestDir/$n"))
    expired.size
  }
}

object StreamTable {
  /** Run a staging parquet write with zoned timestamps emitted as INT64
    * TIMESTAMP_MICROS (UTC-adjusted) instead of Spark's INT96 default, then
    * restore the session setting. INT96 is stats-less and
    * filter-incompatible — with MICROS the whole stats-skipping /
    * row-group-pruning / columnar machinery applies to `TIMESTAMP(3)`
    * columns (the reference's own event_time/updated_at type,
    * Readme.md:137, guide.md:26), THE dominant predicate at 100 TB.
    * Matches the V2 streaming sink's schema (V2StreamingSink.scala:
    * timestampType(true, MICROS)), so every graft write site agrees on one
    * physical layout; legacy INT96 files keep reading correctly and stay
    * residual-only via the per-file proofs. Set/restore on the shared
    * session conf: a concurrent non-graft write momentarily observing
    * MICROS gets the STANDARD parquet type (strictly better stats), never
    * a corruption. */
  /** Deletion-vector sidecar codec: sorted row positions as big-endian
    * longs. Written once (write-then-commit like data files — a sidecar is
    * immutable after the manifest references it); read by every reader that
    * serves its data file. Deliberately trivial — a per-delete cap
    * ([[dvMaxMatches]]) bounds cardinality, compaction purges, so a
    * roaring-bitmap encoding would optimize bytes nobody accumulates. */
  private[graft] def writeDv(path: String, positions: Array[Long]): Unit = {
    val buf = java.nio.ByteBuffer.allocate(positions.length * 8)
    positions.foreach(buf.putLong)
    Files.write(Paths.get(path), buf.array(),
      java.nio.file.StandardOpenOption.CREATE_NEW)
  }

  private[graft] def readDv(path: String): Array[Long] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong)
  }

  /** Per-DELETE cap on deletion-vector matches (`graft.dv.max-matches`,
    * 0 disables the DV route): above it the copy-on-write rewrite is the
    * better trade — the sidecars would approach the data in size and every
    * reader pays the suppression join. */
  private[graft] def dvMaxMatches: Int =
    sys.props.get("graft.dv.max-matches").flatMap(_.toIntOption).getOrElse(10000)

  /** Table-wide cap on ACCUMULATED deletion-vector positions before delta
    * DML falls back to copy-on-write (`graft.dv.max-backlog`, default 64×
    * [[dvMaxMatches]]): both the per-statement driver load and every
    * reader's suppression join grow with the backlog, so past the bound the
    * COW trade wins and `sys.materialize_deletes` is the remedy. */
  private[graft] def dvMaxBacklog: Long =
    sys.props.get("graft.dv.max-backlog").flatMap(_.toLongOption)
      .getOrElse(64L * dvMaxMatches)

  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Changed-key evidence for a changelog interval, walked COMMIT-BY-COMMIT
    * over `(from, to]` — THE rule shared by the library door
    * ([[StreamTable.changelogWithRetractions]]) and the V2 planner
    * (`ChangelogPlanning.planInterval`), factored so the two can never
    * drift. Returns `(addedLevel0, removedEvidence)`:
    *
    *  - level-0 files ADDED at each covered commit — even when a later
    *    in-interval compaction absorbed them (an end-state diff would
    *    silently lose that commit's changes);
    *  - files REMOVED (any level) by a commit that replaces state —
    *    `kind = "overwrite"` (or a legacy-manifest commit that removes
    *    files without adding any level>0 output, the pre-kind inference):
    *    keys the replacement dropped must emit `-D`. A compaction's
    *    removals are absorbed layout maintenance and contribute nothing.
    *
    * Per-commit evidence is served from the commit's own PERSISTED delta
    * manifest (`deltaOf` — O(this commit's change), no hydration); only
    * legacy history falls back to diffing the two hydrated live sets, so a
    * CDC trigger over a million-file table does O(interval delta) driver
    * work, not O(interval × live files). `snapAt` may return unhydrated
    * headers.
    */
  /** (re-added paths, added level-0 evidence) of ONE persisted delta: a path
    * both removed and re-added is an in-place meta replacement, not change
    * evidence (matching the hydrate-diff rule, which compares by path) — the
    * added half of the commit-evidence contract, single-sourced for
    * [[intervalEvidence]] and [[addedEvidence]]. */
  def deltaEvidence(d: ManifestDelta): (Set[String], Seq[DataFileMeta]) = {
    val readd = d.removed.filter(d.added.iterator.map(_.path).toSet).toSet
    (readd, d.added.filterNot(f => readd(f.path)).filter(_.level == 0))
  }

  /** One commit's ADDED level-0 evidence vs its predecessor: the persisted
    * delta when available (O(delta), re-adds excluded), the manifest-list
    * no-op check, then the legacy hydrate-diff fallback — THE added-file
    * classification `changeHistoryView` (the `$changelog`/`audit_log` door)
    * and the V2 change-history planner share, so the sites cannot drift. */
  def addedEvidence(deltaOf: Snapshot => Option[ManifestDelta],
      hydrate: Snapshot => Snapshot, cur: Snapshot,
      pred: Option[Snapshot]): Seq[DataFileMeta] =
    deltaOf(cur) match {
      case Some(d) => deltaEvidence(d)._2
      case None if cur.manifestList.nonEmpty &&
          pred.exists(_.manifestList == cur.manifestList) =>
        Seq.empty // no-op commit: nothing added
      case None =>
        val predPaths = pred.map(p => hydrate(p).files.map(_.path).toSet)
          .getOrElse(Set.empty[String])
        hydrate(cur).files.filterNot(f => predPaths(f.path)).filter(_.level == 0)
    }

  def intervalEvidence(snapAt: Long => Snapshot,
      deltaOf: Snapshot => Option[ManifestDelta],
      hydrate: Snapshot => Snapshot,
      from: Long, to: Long): (Seq[DataFileMeta], Seq[DataFileMeta]) = {
    val added = Seq.newBuilder[DataFileMeta]
    val removedEv = Seq.newBuilder[DataFileMeta]
    var prev = snapAt(from)
    ((from + 1) to to).foreach { id =>
      val cur = snapAt(id)
      // O(delta) fast path: the commit's own persisted delta manifest IS its
      // evidence — no snapshot hydration, however many files are live.
      // Identical manifest lists ⇒ a no-op commit ⇒ empty evidence. Legacy
      // snapshots (and pre-evidence deltas) fall back to diffing the two
      // hydrated live sets, exactly the pre-delta rule.
      val fast: Option[(Seq[DataFileMeta], Seq[DataFileMeta])] =
        deltaOf(cur) match {
          case Some(d) if cur.kind.nonEmpty =>
            val (readd, addedEv) = deltaEvidence(d)
            if (cur.kind == "compact") Some((addedEv, Seq.empty))
            else d.removedMetas match {
              case Some(ms) => Some((addedEv, ms))
              case None if d.removed.forall(readd) => Some((addedEv, Seq.empty))
              case None => None // pre-evidence delta: hydrate-diff fallback
            }
          case Some(_) => None
          case None if cur.manifestList.nonEmpty &&
              cur.manifestList == prev.manifestList =>
            Some((Seq.empty, Seq.empty))
          case None => None
        }
      fast match {
        case Some((a, r)) =>
          added ++= a
          removedEv ++= r
        case None =>
          val prevH = hydrate(prev)
          val curH = hydrate(cur)
          val prevPaths = prevH.files.map(_.path).toSet
          val curPaths = curH.files.map(_.path).toSet
          val addedAll = curH.files.filterNot(f => prevPaths(f.path))
          val removed = prevH.files.filterNot(f => curPaths(f.path))
          added ++= addedAll.filter(_.level == 0)
          val isCompaction = curH.kind == "compact" ||
            (curH.kind.isEmpty && addedAll.exists(_.level > 0))
          if (!isCompaction && removed.nonEmpty) removedEv ++= removed
      }
      prev = cur
    }
    (added.result().distinct, removedEv.result().distinct)
  }

  /** Internal per-row commit-sequence column on disk (Paimon sequence-number
    * analog, guide.md:206). Hidden from readers. */
  val SeqColName = "__graft_seq"

  /** Internal delete-tombstone marker column (the `-D` changelog op). */
  val TombstoneColName = "__graft_tomb"

  /** Prefix of the throwaway partition-directory COPY columns: partitionBy
    * rides on these (and drops them from the files) so the original
    * partition columns stay in the payload. */
  val PdirColPrefix = "__graft_pdir_"

  /** Synthetic staging-only column carrying each row's computed bucket id
    * (`pmod(murmur3(key), numBuckets)`, the [[graft.sources.v2.GraftBucketFunction]]
    * layout) — written as a `partitionBy` directory so the manifest's bucket
    * label derives from row content, then dropped (never lands inside a
    * data file). */
  val BucketColName = "__graft_bucket"

  /** Prefix of the per-field winning-sequence columns partial-update
    * compaction persists (struct of user seq + commit seq); hidden from
    * readers like [[SeqColName]]. */
  val FieldSeqPrefix = "__graft_fseq_"

  /** Prefix of the per-field CONTRIBUTION-LIST columns the ordered list
    * aggregation functions (`listagg` / `collect`) persist at compaction:
    * `array<struct<s1,s2,v>>` — every contribution keeps its (sequence,
    * commit) provenance, so a compacted row re-merges with out-of-order
    * arrivals to the same seq-ordered fold (the sequence-group closure,
    * [[FieldSeqPrefix]] generalized from one winner to a list). */
  val FieldListPrefix = "__graft_flist_"

  /** Engine bookkeeping columns of a data file (commit sequence, tombstone
    * marker, per-field sequence and contribution-list companions): stored,
    * never part of a reader's schema. */
  def isBookkeepingCol(name: String): Boolean =
    name == SeqColName || name == TombstoneColName ||
      name.startsWith(FieldSeqPrefix) || name.startsWith(FieldListPrefix)

  /** Dynamic bucket mode defaults: Paimon's `dynamic-bucket.target-row-num`
    * default (2M rows ≈ a few hundred MB per bucket at typical row widths),
    * and a count ceiling far above any real layout (2^20 buckets × 2M rows
    * ≈ 2×10^12 rows) — a runaway-split backstop, not a sizing dial. */
  val DynDefaultTargetRows: Long = 2000000L
  val DynMaxBuckets: Long = 1L << 20

  /** One `WHEN …` arm of a [[StreamTable.mergeInto]] (ANSI MERGE clause
    * shapes; `cond` is the optional `AND` guard, evaluated over the joined
    * (source, target) row). */
  sealed trait MergeClause
  final case class MatchedUpdate(cond: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]) extends MergeClause
  final case class MatchedDelete(cond: Option[org.apache.spark.sql.Column])
    extends MergeClause
  final case class NotMatchedInsert(cond: Option[org.apache.spark.sql.Column],
      values: Seq[(String, org.apache.spark.sql.Column)]) extends MergeClause

  /** Per-action row counts a merge committed. */
  final case class MergeResult(updated: Long, deleted: Long, inserted: Long)

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** Parse one delta-manifest file — the executor-side read the distributed
    * `$files` scan performs per manifest partition. */
  private[graft] def parseManifest(path: String): ManifestDelta =
    mapper.readValue(Files.readAllBytes(Paths.get(path)), classOf[ManifestDelta])

  private def deleteRecursively(p: JPath): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }

  /** Recursively delete a directory tree (shared maintenance helper). */
  def deleteTree(p: JPath): Unit = deleteRecursively(p)

  /** `input_file_name()` renders local paths as `file:///…` URIs while the
    * manifest stores plain paths — normalize for the touched-file lookup. */
  private def stripScheme(uri: String): String =
    if (uri.startsWith("file:")) Paths.get(java.net.URI.create(uri)).toString
    else uri

  /** List a directory's entries, CLOSING the underlying stream — a bare
    * `Files.list(...).iterator()` leaks one directory fd per call until GC,
    * which adds up in long-running streaming jobs that list per batch. */
  def listDir(p: JPath): Seq[JPath] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Commits with at least this many staged files capture their stats in a
    * DISTRIBUTED footer pass (one task per file) instead of a driver loop —
    * a compaction/rescale rewriting 10k files must not serialize 10k footer
    * opens on the driver. Small micro-batch commits stay driver-side: a
    * Spark job's scheduling overhead would dominate a 1-2 file commit. */
  private val DistributedStatsThreshold = 8

  private def fileMetas(spark: SparkSession, paths: Seq[String], level: Int,
      minSeq: Long, maxSeq: Long): Seq[DataFileMeta] = {
    // ONE footer open per file, at commit time — the stats live in the
    // manifest from here on, so no query plan ever re-opens this footer
    val captured: Seq[(String, CapturedStats, Long)] =
      if (paths.size < DistributedStatsThreshold) {
        val conf = new org.apache.hadoop.conf.Configuration()
        paths.map(p =>
          (p, footerColumnStats(p, conf, seedSchema = true), Files.size(Paths.get(p))))
      } else {
        // distributed capture: executors open the footers they can reach on
        // the shared table filesystem (the same contract every read path
        // already relies on); order restored below
        val byPath = spark.sparkContext
          .parallelize(paths, math.min(paths.size, 64))
          .map { p =>
            val conf = new org.apache.hadoop.conf.Configuration()
            (p, footerColumnStats(p, conf, seedSchema = true), Files.size(Paths.get(p)))
          }.collect().map(x => x._1 -> x).toMap
        paths.map(byPath)
      }
    val now = System.currentTimeMillis()
    captured.map { case (p, st, size) =>
      DataFileMeta(p, st.rows, size, minSeq, maxSeq, level, now,
        minStats = Some(st.mins), maxStats = Some(st.maxs),
        fileCols = Some(st.cols), badStats = Some(st.bad),
        nullStats = Some(st.nulls.map { case (k, v) => k -> v.toString }))
    }
  }

  /** Plan-time footer opens (the fallback path for legacy manifests without
    * persisted stats). Commit-time capture is NOT counted — that read is
    * paid once per file ever; this counter exists so specs can assert a
    * stats-pruned plan over a current-format manifest performs ZERO footer
    * I/O on the driver. */
  val planFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Driver footer opens made by [[fileSchema]] for a file its memo has not
    * seen (a sink-committed file, or one committed by another JVM). A
    * second read of the same files leaves this untouched. */
  val schemaFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Footer metadata (parquet schema + key/value metadata) per data file,
    * keyed by (path, size). Table files are immutable and UUID-named, so an
    * entry never goes stale. BOUNDED (LRU) like the manifest cache: a
    * long-running writer commits new files forever; a miss costs one
    * footer open. */
  private val FileSchemaMemoSize = 8192
  private val fileSchemaMemo = new java.util.LinkedHashMap[(String, Long),
      org.apache.parquet.hadoop.metadata.FileMetaData](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Long),
        org.apache.parquet.hadoop.metadata.FileMetaData]): Boolean =
      size > FileSchemaMemoSize
  }

  private def memoFileMeta(path: String, size: Long,
      m: org.apache.parquet.hadoop.metadata.FileMetaData): Unit =
    fileSchemaMemo.synchronized(fileSchemaMemo.put((path, size), m))

  /** The Spark schema of a set of table data files — exactly what
    * `spark.read.option("mergeSchema","true").parquet(paths).schema` infers,
    * with no Spark job: each file's footer converts as Spark's parquet
    * inference converts it (the session's converter settings), and the
    * schemas merge on the driver in Spark's own order (files sorted by path
    * string, a left fold of `StructType.merge` under
    * `spark.sql.caseSensitive`), so column order matches the inferred one.
    * Footers come from the (path, size) memo; a miss opens the footer once.
    * Every read of table files passes this as its `.schema(...)`: tombstone
    * files carry only key + sequence columns and evolved files differ, and
    * the merged schema null-fills what a file lacks. */
  private[graft] def fileSchema(spark: SparkSession,
      files: Seq[DataFileMeta]): org.apache.spark.sql.types.StructType =
    pathSchema(spark, files.map(f => (f.path, f.fileSizeInBytes)))

  /** [[fileSchema]] over (path, size) pairs. */
  private[graft] def pathSchema(spark: SparkSession,
      files: Seq[(String, Long)]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.graft.SchemaMerge
    require(files.nonEmpty, "no data files to take a schema from")
    val sqlConf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    val schemas = files.distinct.sortBy(_._1).map { case (path, size) =>
      val meta = fileSchemaMemo.synchronized(
        Option(fileSchemaMemo.get((path, size)))).getOrElse {
        schemaFooterReads.incrementAndGet()
        val m = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path), hadoopConf),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS).getFileMetaData
        memoFileMeta(path, size, m)
        m
      }
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(path),
          new org.apache.parquet.hadoop.metadata.ParquetMetadata(meta,
            java.util.Collections.emptyList())), converter)
    }
    val caseSensitive = sqlConf.caseSensitiveAnalysis
    SchemaMerge.asNullable(
      schemas.reduceLeft((a, b) => SchemaMerge.merge(a, b, caseSensitive)))
  }

  /** Paths deleted BY THE DRIVER during maintenance (expiry / rollback /
    * orphan sweep) — large batches run as a distributed pass instead
    * ([[StreamTable.deletePaths]]), so specs can assert a many-file reclaim
    * performs ~zero serial driver deletes. */
  val driverMaintenanceDeletes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Batch size at which maintenance deletion goes distributed. Override
    * for tests/small executors: -Dgraft.maintenance.distributed-delete-min. */
  def distributedDeleteMin: Int =
    Integer.getInteger("graft.maintenance.distributed-delete-min", 64)

  /** Head live-file count at which the orphan sweep distributes its whole
    * per-file pipeline (listing, referenced-set, anti-join, reap). Override
    * for tests: -Dgraft.maintenance.distributed-orphan-min. */
  def distributedOrphanMin: Int =
    Integer.getInteger("graft.maintenance.distributed-orphan-min", 100000)

  /** Rough bytes-per-entry of a delta-manifest JSON, used ONLY to estimate
    * live-file counts from manifest file sizes for threshold gates (a real
    * count would hydrate O(live) metas on the driver — the very thing the
    * gated path avoids). Deliberately LOW so the estimate errs toward
    * distributing: per-entry JSON runs ~300-600 bytes with stats. */
  val ManifestBytesPerEntry = 256L

  /** Unlink one partition's worth of maintenance paths (driver or executor
    * side): entries failing the `mtimeBelow` grace check, already vanished,
    * or not regular files are skipped, never errors — a reclaim pass races
    * other maintenance without failing the job, and never deletes a
    * directory (an in-flight writer's staging dir listed as a candidate
    * must survive; every legitimate target here is a file). */
  private[table] def reapPaths(it: Iterator[String], mtimeBelow: Long): Long = {
    var n = 0L
    it.foreach { s =>
      val p = java.nio.file.Paths.get(s)
      val eligible = java.nio.file.Files.isRegularFile(p) &&
        (mtimeBelow == Long.MaxValue ||
          (try java.nio.file.Files.getLastModifiedTime(p).toMillis < mtimeBelow
           catch { case _: java.io.IOException => false }))
      if (eligible &&
          (try java.nio.file.Files.deleteIfExists(p)
           catch { case _: java.io.IOException => false })) n += 1
    }
    n
  }

  /** Manifest-list FOLDS (full live-set materializations; cache hits don't
    * count) — the observability change-surface specs assert on: a CDC
    * trigger / incremental read over a delta-manifest table must plan from
    * the per-commit deltas, hydrating at most its interval ENDPOINTS, never
    * one fold per covered commit. */
  val hydrateFolds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rendered per-file [min,max] maps for stats skipping: manifest-served
    * when the commit captured them (zero I/O), footer fallback for legacy
    * manifests. The two sources render identically (same typed-comparator
    * `minAsString`), so [[graft.sources.v2.FileSkip]] semantics are
    * unchanged either way. */
  private[graft] def skipStats(f: DataFileMeta,
      conf: org.apache.hadoop.conf.Configuration)
      : (Map[String, String], Map[String, String]) =
    (f.minStats, f.maxStats) match {
      case (Some(mn), Some(mx)) => (mn, mx)
      case _ =>
        val (_, mn, mx) = footerStats(f.path, conf)
        (mn, mx)
    }

  /** The rendered label of the all-NULL partition component (Paimon's
    * `__DEFAULT_PARTITION__` convention, under a graft-owned name): NULL
    * renders DISTINCTLY from the literal string "null", so the `$partitions`
    * label stays injective. */
  private[graft] val NullPartitionLabel = "__GRAFT_NULL__"

  /** A file's partition tuple, per key: None = the NULL partition (or the
    * key post-dates the file), Some(v) = the single rendered value v.
    * Throws when the file cannot PROVE single-valuedness (row-level-DML
    * output that was never compacted) — an approximate census/expiry would
    * silently misattribute rows. Executor-safe: everything rides the
    * manifest's captured stats (footer fallback only for legacy entries). */
  private[graft] def partitionTupleOf(f: DataFileMeta, pks: Seq[String],
      conf: org.apache.hadoop.conf.Configuration, root: String)
      : Seq[Option[String]] = {
    val (mins, maxs) = skipStats(f, conf)
    def nullCount(c: String): Option[Long] =
      f.nullStats.flatMap(_.get(c)).flatMap(_.toLongOption)
    pks.map { c =>
      if (f.fileCols.exists(!_.contains(c))) None // predates the key: NULL
      else if (nullCount(c).contains(f.rowCount)) None
      else if (nullCount(c).contains(0L) &&
          !f.badStats.exists(_.contains(c)) &&
          mins.get(c).exists(maxs.get(c).contains))
        Some(mins(c))
      else throw new IllegalStateException(
        s"$root: ${f.path} is not provably single-valued in partition " +
          s"key '$c' — `$$partitions` needs partition-clustered files " +
          "(run CALL sys.compact first)")
    }
  }

  /** INJECTIVE rendering of a partition tuple: NULL gets its own token
    * ([[NullPartitionLabel]]) and rendered values backslash-escape the
    * structural characters (and a literal value equal to the NULL token
    * escapes its first character), so two distinct tuples can never share a
    * label — a census/expiry filtering on the label must never match the
    * wrong partition. */
  private[graft] def renderPartitionLabel(t: Seq[Option[String]]): String =
    t.map {
      case None => NullPartitionLabel
      case Some(v) =>
        val esc = v.replace("\\", "\\\\").replace(",", "\\,")
          .replace("{", "\\{").replace("}", "\\}")
        if (esc == NullPartitionLabel) "\\" + esc else esc
    }.mkString("{", ", ", "}")

  /** Parse a rendered partition value as an event time for values-time
    * expiry: the formatter may carry time fields (datetime) or not (date,
    * taken at start-of-day UTC). None when the value doesn't parse —
    * callers must treat that as "never expires", not an error. */
  private[graft] def parsePartitionTimeMs(v: String, pattern: String)
      : Option[Long] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern)
    def dt = java.time.LocalDateTime.parse(v, fmt)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    def d = java.time.LocalDate.parse(v, fmt)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    try Some(dt) catch { case _: Exception =>
      try Some(d) catch { case _: Exception => None } }
  }

  /** Rendered stats cap: a column whose min/max render longer than this
    * (huge binary/text values) is dropped from the manifest maps and marked
    * unusable — bounds manifest bytes; conservative for every consumer.
    * Far above any numeric/date rendering, so typed pruning never degrades. */
  private val StatsRenderCap = 256

  /** Everything a commit captures from one file's footer (see
    * [[footerColumnStats]]) — the [[DataFileMeta]] stats payload, shaped so
    * WRITER TASKS can capture it executor-side and ship it to the driver
    * commit in their commit messages. */
  case class CapturedStats(rows: Long, mins: Map[String, String],
      maxs: Map[String, String], cols: Seq[String], bad: Seq[String],
      nulls: Map[String, Long] = Map.empty)

  /** One externally-staged sink file: path + layout labels + the stats its
    * writer task captured at write time — the driver commit builds the
    * manifest entry with ZERO footer opens. */
  case class StagedSinkFile(path: String, bucket: Option[Int], sorted: Boolean,
      stats: CapturedStats)

  /** Commit-time footer opens performed ON THE DRIVER (the small-commit
    * path below [[StreamTable.DistributedStatsThreshold]]). Sink epochs and
    * large rewrites must leave this untouched — their stats arrive from
    * writer tasks / the distributed pass; specs assert the zero. */
  val driverCommitFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Commit-time footer capture: rows + per-column merged min/max +
    * presence/usability — everything [[DataFileMeta]] persists. Stricter
    * than [[footerStats]]: a column chunk with rows but null or unprovable
    * stats poisons the COLUMN (`bad`) instead of being silently skipped, so
    * manifest-served pruning can trust an entry's absence. */
  private[graft] def footerColumnStats(path: String,
      conf: org.apache.hadoop.conf.Configuration,
      seedSchema: Boolean = false): CapturedStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    if (org.apache.spark.TaskContext.get() == null)
      driverCommitFooterReads.incrementAndGet()
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      // a committed file's schema is known from this open: reads of it
      // then plan without a footer open of their own ([[fileSchema]])
      if (seedSchema) memoFileMeta(path, in.getLength, reader.getFooter.getFileMetaData)
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      type AnyStats = org.apache.parquet.column.statistics.Statistics[_ <: Comparable[_]]
      def merge[T <: Comparable[T]](a: AnyStats, b: AnyStats): Unit =
        a.asInstanceOf[org.apache.parquet.column.statistics.Statistics[T]]
          .mergeStatistics(
            b.asInstanceOf[org.apache.parquet.column.statistics.Statistics[T]])
      val acc = scala.collection.mutable.LinkedHashMap[String, AnyStats]()
      val bad = scala.collection.mutable.LinkedHashSet[String]()
      val cols = scala.collection.mutable.LinkedHashSet[String]()
      val nullsAcc = scala.collection.mutable.LinkedHashMap[String, Long]()
      val nullsUnknown = scala.collection.mutable.HashSet[String]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (name != SeqColName && name != TombstoneColName) {
          cols += name
          val st = c.getStatistics
          // null counts accumulate independently of value stats: every
          // chunk must prove its count or the column's entry is dropped
          if (st != null && st.isNumNullsSet)
            nullsAcc(name) = nullsAcc.getOrElse(name, 0L) + st.getNumNulls
          else nullsUnknown += name
          if (st != null && st.hasNonNullValue) acc.get(name) match {
            case Some(prev) => merge(prev, st)
            case None       => acc(name) = st.copy()
          } else if (b.getRowCount > 0 &&
              (st == null || !st.isNumNullsSet || st.getNumNulls < b.getRowCount)) {
            // rows exist but the chunk can't prove they're all null
            bad += name
          }
        }
      }
      val mins = scala.collection.mutable.LinkedHashMap[String, String]()
      val maxs = scala.collection.mutable.LinkedHashMap[String, String]()
      acc.foreach { case (k, s) =>
        if (bad.contains(k)) () // a poisoned column serves no stats at all
        else {
          val (mn, mx) = (s.minAsString(), s.maxAsString())
          if (mn == null || mx == null ||
              mn.length > StatsRenderCap || mx.length > StatsRenderCap) bad += k
          else { mins(k) = mn; maxs(k) = mx }
        }
      }
      CapturedStats(rows, mins.toMap, maxs.toMap, cols.toSeq, bad.toSeq,
        nulls = (nullsAcc -- nullsUnknown -- bad).toMap)
    } finally reader.close()
  }

  /** (rowCount, min_value_stats, max_value_stats) from a parquet footer —
    * the stats Paimon surfaces in `$files` (guide.md:205, :212) and what
    * parquet predicate-pushdown data skipping reads. */
  private[graft] def footerStats(path: String, conf: org.apache.hadoop.conf.Configuration)
      : (Long, Map[String, String], Map[String, String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    planFooterReads.incrementAndGet()
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      // Merge per-row-group stats with the column's TYPED comparator (the
      // parquet Statistics object), never lexicographically — '9' > '10' as
      // strings but not as numbers; stringify only for display.
      type AnyStats = org.apache.parquet.column.statistics.Statistics[_ <: Comparable[_]]
      def merge[T <: Comparable[T]](a: AnyStats, b: AnyStats): Unit =
        a.asInstanceOf[org.apache.parquet.column.statistics.Statistics[T]]
          .mergeStatistics(
            b.asInstanceOf[org.apache.parquet.column.statistics.Statistics[T]])
      val acc = scala.collection.mutable.Map[String, AnyStats]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val st = c.getStatistics
        if (st != null && st.hasNonNullValue && name != SeqColName &&
            name != TombstoneColName) {
          acc.get(name) match {
            case Some(prev) => merge(prev, st)
            case None       => acc(name) = st.copy()
          }
        }
      }
      val mins = acc.map { case (k, s) => k -> s.minAsString() }.toMap
      val maxs = acc.map { case (k, s) => k -> s.maxAsString() }.toMap
      (rows, mins, maxs)
    } finally reader.close()
  }
}

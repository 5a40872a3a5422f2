package graft

import java.nio.file.Files

import graft.table.StreamTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming-table layer: append/upsert semantics, $files metadata,
  * compaction row conservation (the reference's own invariant,
  * tutorial/guide.md:212-231 → :258-259), retention, idempotent commits. */
class StreamTableSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_tbl_").toString

  test("append batches, read back, idempotent batch replay") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0)
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), batchId = 1)
    assert(t.read.count() == 3)
    // replaying an already-committed batch must be a no-op (exactly-once)
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), batchId = 1)
    assert(t.read.count() == 3)
    assert(t.latestSnapshot.get.id == 1)
  }

  test("primary-key table resolves last-writer-wins (sensor_info semantics)") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"), bucketKey = Some("id"), numBuckets = 2)
    t.appendBatch(Seq((1L, 10L, "x1"), (2L, 11L, "y1")).toDF("id", "seq", "v"), 0)
    t.appendBatch(Seq((1L, 20L, "x2"), (3L, 21L, "z1")).toDF("id", "seq", "v"), 1)
    val got = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq == Seq((1L, "x2"), (2L, "y1"), (3L, "z1")))
  }

  test("$files view: counts, sizes, footer min/max stats") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")), 0)
    t.appendBatch(spark.range(100, 150).select(col("id"), (col("id") * 2).as("v")), 1)
    val files = t.filesView.collect()
    assert(files.map(_.getAs[Long]("record_count")).sum == 150)
    assert(files.forall(_.getAs[Long]("file_size_in_bytes") > 0))
    assert(files.forall(_.getAs[Int]("level") == 0))
    val mins = files.map(_.getAs[Map[String, String]]("min_value_stats"))
    assert(mins.exists(_.get("id").contains("0")))
  }

  test("$snapshots view: one row per commit, totals from manifest metadata") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")), 0)
    t.appendBatch(spark.range(100, 150).select(col("id"), (col("id") * 2).as("v")), 1)
    val snaps = t.snapshotsView.collect()
    assert(snaps.length == 2)
    assert(snaps.map(_.getAs[Long]("snapshot_id")).toSeq == Seq(0L, 1L))
    assert(snaps.map(_.getAs[Long]("batch_id")).toSeq == Seq(0L, 1L))
    // totals are cumulative per snapshot (each manifest lists ALL live files)
    assert(snaps.map(_.getAs[Long]("total_record_count")).toSeq == Seq(100L, 150L))
    assert(snaps.forall(_.getAs[Long]("total_file_size_in_bytes") > 0))
    assert(snaps.forall(r => !r.isNullAt(r.fieldIndex("committed_at"))))
  }

  test("compaction conserves rows and reduces file count; PK compact resolves") {
    val t = new StreamTable(tmp(), spark)
    for (b <- 0 until 8)
      t.appendBatch(spark.range(b * 10, b * 10 + 10).toDF("id"), b)
    val before = t.latestSnapshot.get.files.size
    assert(before >= 8)
    val rowsBefore = t.read.count()
    t.compact(targetFileCount = 2)
    assert(t.latestSnapshot.get.files.size == 2)
    assert(t.read.count() == rowsBefore) // the guide.md:258-259 invariant
    assert(t.latestSnapshot.get.files.forall(_.level == 1))

    // bucketed table: compaction preserves the per-key clustering — every
    // key's rows land in exactly one post-compaction file
    val bt = new StreamTable(tmp(), spark, bucketKey = Some("id"), numBuckets = 2)
    for (b <- 0 until 4)
      bt.appendBatch(spark.range(0, 20).toDF("id"), b)
    bt.compact(targetFileCount = 2)
    val filesPerKey = spark.read
      .parquet(bt.latestSnapshot.get.files.map(_.path): _*)
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .groupBy("id").agg(countDistinct("f").as("nf"))
    assert(filesPerKey.filter(col("nf") > 1).count() == 0,
      "compaction must keep each key clustered in one bucket file")

    val pk = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    pk.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    pk.appendBatch(Seq((1L, "a2")).toDF("id", "v"), 1)
    pk.compact(1)
    // full compaction materializes LWW: physically 2 rows remain
    assert(spark.read.parquet(pk.latestSnapshot.get.files.map(_.path): _*).count() == 2)
    assert(pk.read.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a2", "b"))
  }

  test("snapshot retention expires manifests and unreferenced files") {
    val t = new StreamTable(tmp(), spark)
    for (b <- 0 until 5) t.appendBatch(Seq((b.toLong, "v")).toDF("id", "v"), b)
    t.compact(1)
    assert(t.snapshots.size == 6)
    val removed = t.expireSnapshots(numRetainedMin = 1, numRetainedMax = 1, timeRetainedMs = 0)
    assert(removed == 5)
    assert(t.snapshots.size == 1)
    assert(t.read.count() == 5) // latest snapshot still fully readable
    // compacted-away level-0 files physically deleted
    val live = t.latestSnapshot.get.files.map(_.path).toSet
    val onDisk = Files.list(java.nio.file.Paths.get(s"${t.root}/data/append"))
      .iterator()
    assert(!onDisk.hasNext || live.exists(_.contains("append")))
  }

  test("changelog producer ≡ changelogWithRetractions per commit (randomized, all engines)") {
    // the fused one-shuffle producer must persist EXACTLY the per-commit
    // slice the interval diff computes — randomized batches with key
    // collisions, out-of-order sequences, nulls (partial-update), and
    // deletes (deduplicate) pin the equivalence per engine
    val rnd = new scala.util.Random(421)
    val engines = Seq(
      ("deduplicate", Map("merge-engine" -> "deduplicate")),
      ("first-row", Map("merge-engine" -> "first-row")),
      ("partial-update", Map("merge-engine" -> "partial-update")),
      ("aggregation", Map("fields.a.aggregate-function" -> "sum",
        "fields.b.aggregate-function" -> "max")),
      // the round-13 alphabet: boolean folds + the ordered function racing
      // on its persisted per-field provenance (needs the sequence field)
      ("aggregation_lnn", Map("fields.flag.aggregate-function" -> "bool_or",
        "fields.status.aggregate-function" -> "last_non_null_value")))
    for ((name, extra) <- engines) {
      val opts = Map("primary-key" -> "id", "bucket" -> "2",
        "changelog-producer" -> "input") ++
        (if (name == "aggregation") Map.empty
         else Map("sequence.field" -> "ver")) ++ extra
      val wh = tmp()
      val cat = new graft.table.GraftCatalog(spark, wh)
      val t = cat.createTable("db", s"rand_$name", opts)
      var batch = 0L
      // unique sequence values per run: an exact (id, ver, commit) tie
      // resolves ARBITRARILY by contract on both sides, so the equivalence
      // check must not manufacture one
      val usedVer = scala.collection.mutable.Set[Long]()
      def freshVer(): Long = {
        var v = rnd.nextInt(1000).toLong
        while (usedVer(v)) v = rnd.nextInt(1000).toLong
        usedVer += v; v
      }
      for (_ <- 0 until 4) {
        val n = 3 + rnd.nextInt(6)
        val df =
          if (name == "aggregation")
            (0 until n).map(_ => (rnd.nextInt(8).toLong,
              rnd.nextInt(100).toLong, rnd.nextInt(1000).toLong))
              .toDF("id", "a", "b")
          else if (name == "aggregation_lnn")
            (0 until n).map { _ =>
              val status: String =
                if (rnd.nextBoolean()) null else s"s${rnd.nextInt(9)}"
              (rnd.nextInt(8).toLong, freshVer(), rnd.nextBoolean(), status)
            }.toDF("id", "ver", "flag", "status")
          else
            (0 until n).map { _ =>
              val v: String =
                if (name == "partial-update" && rnd.nextBoolean()) null
                else s"v${rnd.nextInt(99)}"
              (rnd.nextInt(8).toLong, freshVer(), v)
            }.toDF("id", "ver", "v")
        t.appendBatch(df, batch); batch += 1
        if (name == "deduplicate" && rnd.nextBoolean()) {
          t.deleteBatch(Seq(Tuple1(rnd.nextInt(8).toLong)).toDF("id"), batch)
          batch += 1
        }
        // mid-history compaction: the next commits diff against COMPACTED
        // state (partial-update's persisted fseq provenance, aggregation's
        // re-merged partial folds), and the compaction commit itself must
        // contribute an EMPTY produced changelog
        if (rnd.nextBoolean()) t.compact(2)
      }
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val cols = df.columns.sorted
        df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      }
      for (s <- t.snapshots; if s.id > 0 && s.clogProduced) {
        val produced =
          if (s.changelog.isEmpty) Seq.empty
          else canon(spark.read.parquet(s.changelog.map(_.path): _*))
        val oracle = canon(t.changelogWithRetractions(s.id - 1, s.id)
          .drop()) // no-op, keeps DataFrame type
        assert(produced == oracle,
          s"engine=$name snapshot=${s.id}\nproduced=$produced\noracle=$oracle")
      }
    }
  }

  test("retraction changelog: -U old/+U new for updates, -D old, +I new") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), 0)
    // batch 1: update key 1, delete key 2, insert key 4
    t.appendBatch(Seq((1L, "a2"), (4L, "d")).toDF("id", "v"), 1)
    t.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 2)
    val ch = t.changelogWithRetractions(0, 2).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("id"), r.getAs[String]("v")))
      .toSet
    assert(ch == Set(
      ("-U", 1L, "a"),  // retraction of key 1's old image
      ("+U", 1L, "a2"), // key 1's new image
      ("-D", 2L, "b"),  // delete carries the OLD image
      ("+I", 4L, "d")), // fresh insert
      s"got $ch")
  }

  test("retraction changelog maintains a downstream aggregate incrementally") {
    // the reason -U/-D carry OLD images: a consumer can keep sum(amount)
    // per group correct under updates/deletes by adding +rows and
    // subtracting -rows — no recompute, the Flink dynamic-table model
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "grp", "amount"), 0)
    val base = t.read.groupBy("grp").agg(sum("amount").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromSnap = t.latestSnapshot.get.id

    // update id 1 (a: 10→17), move id 3 to grp a (b loses 5, a gains 7),
    // delete id 2 (a loses 20), insert id 4 in b
    t.appendBatch(Seq((1L, "a", 17L), (3L, "a", 7L), (4L, "b", 9L))
      .toDF("id", "grp", "amount"), 1)
    t.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 2)

    val deltas = t.changelogWithRetractions(fromSnap, t.latestSnapshot.get.id)
      .withColumn("delta",
        when(col("op").isin("+I", "+U"), col("amount")).otherwise(-col("amount")))
      .groupBy("grp").agg(sum("delta").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maintained = (base.keySet ++ deltas.keySet).map(g =>
      g -> (base.getOrElse(g, 0L) + deltas.getOrElse(g, 0L))).toMap

    val recomputed = t.read.groupBy("grp").agg(sum("amount").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained.filter(_._2 != 0L) == recomputed,
      s"maintained=$maintained recomputed=$recomputed")
  }

  test("retraction changelog honors sequence.field: a stale arrival nets zero") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"))
    t.appendBatch(Seq((1L, 10L, 100L)).toDF("id", "seq", "amount"), 0)
    val from = t.latestSnapshot.get.id
    // later batch carrying a SMALLER sequence: loses last-writer-wins
    t.appendBatch(Seq((1L, 5L, 999L)).toDF("id", "seq", "amount"), 1)
    assert(t.read.collect().map(_.getLong(2)).toSeq == Seq(100L),
      "read view must keep the larger-sequence row")
    val ch = t.changelogWithRetractions(from, t.latestSnapshot.get.id).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("seq"), r.getAs[Long]("amount")))
    // both images are the LIVE row — a delta consumer nets zero, never the
    // stale 999 and never a retraction of the surviving 100
    assert(ch.toSet == Set(("-U", 10L, 100L), ("+U", 10L, 100L)), s"got ${ch.toSeq}")
  }

  test("delete tombstones: -D changelog, rows gone from reads, purged by compact") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), 0)
    t.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 1)
    assert(t.read.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // changelog renders the delete as -D
    val ch = t.changesBetween(0, 1).collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("op")))
    assert(ch.toSeq == Seq((2L, "-D")))
    // re-inserting the key after the delete wins again
    t.appendBatch(Seq((2L, "b2")).toDF("id", "v"), 2)
    assert(t.read.filter($"id" === 2L).collect().map(_.getString(1)).toSeq == Seq("b2"))
    // full compaction physically purges tombstones and dead versions
    t.compact(1)
    assert(spark.read.option("mergeSchema", "true")
      .parquet(t.latestSnapshot.get.files.map(_.path): _*).count() == 3)
    assert(t.read.count() == 3)
  }

  test("changesBetween over a delete-only commit returns every column") {
    // tombstone files carry only key + sequence columns; the interval read
    // still has the table's full value schema, NULL on the -D rows
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("updated_at"), bucketKey = Some("id"), numBuckets = 2)
    t.appendBatch(Seq((1L, 10L, "a", 1.5), (2L, 11L, "b", 2.5), (3L, 12L, "c", 3.5))
      .toDF("id", "updated_at", "name", "lat"), 0)
    t.deleteBatch(Seq((2L, 20L), (3L, 21L)).toDF("id", "updated_at"), 1)
    val ch = t.changesBetween(0, 1)
    assert(ch.columns.toSet == Set("id", "updated_at", "name", "lat", "op"),
      ch.columns.toSeq)
    val got = ch.orderBy("id").select("id", "updated_at", "name", "lat", "op")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2), r.isNullAt(3),
        r.getString(4)))
    assert(got.toSeq == Seq((2L, 20L, true, true, "-D"), (3L, 21L, true, true, "-D")))
  }

  test("time travel: readAt earlier snapshots sees the table as of then") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "v1")).toDF("id", "v"), 0)
    t.appendBatch(Seq((1L, "v2"), (2L, "w1")).toDF("id", "v"), 1)
    assert(t.readAt(0).collect().map(_.getString(1)).toSeq == Seq("v1"))
    val now = t.readAt(1).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(now == Seq("v2", "w1"))
    assert(t.read.orderBy("id").collect().map(_.getString(1)).toSeq == now)
  }

  test("incremental changelog read tags +I for new keys, +U for updates") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    t.appendBatch(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), 1)
    val ch = t.changesBetween(0, 1).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[String]("op")))
    assert(ch.toSeq == Seq((1L, "a2", "+U"), (3L, "c", "+I")))
    // compaction adds no logical changes
    t.compact(1)
    assert(t.changesBetween(1, t.latestSnapshot.get.id).count() == 0)
  }

  test("ingest throughput beats the reference's 1000 rows/s sustained target") {
    // Reference parity: Flink datagen sustains 1000 rows/s into Paimon
    // (Readme.md:94 + 20 s commits, guide.md:3). Replay 10k events through
    // the full writeStream → manifest-commit path and require ≥ 1000 rows/s
    // end-to-end (typical observed: well over 10x that).
    val t = new StreamTable(tmp(), spark)
    val src = spark.range(0, 100000)
      .select(col("id").as("event_id"), pmod(col("id"), lit(150)).as("user_id"),
        (col("id") % 1000 / 10.0).as("value"))
    val srcDir = Files.createTempDirectory("graft_thr_src_").toString
    src.write.parquet(s"$srcDir/in")
    val n = src.count()
    val t0 = System.nanoTime()
    val q = t.writeStream(
      spark.readStream.schema(src.schema).parquet(s"$srcDir/in"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(t.read.count() == n)
    val rate = n / secs
    info(f"ingest rate: $rate%.0f rows/s over $n rows")
    assert(rate >= 1000, f"rate $rate%.0f rows/s below the 1000 rows/s target")
  }

  test("legacy checkpoint (no epoch file) replays under offset 0, not latest+1") {
    val dir = tmp()
    val t = new StreamTable(dir, spark)
    val srcDir = Files.createTempDirectory("graft_epoch_src_").toString
    val a = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    a.write.mode("append").parquet(srcDir)
    val q1 = t.writeStream(
      spark.readStream.schema(a.schema).parquet(srcDir), Trigger.AvailableNow())
    q1.awaitTermination()
    assert(t.read.count() == 3)

    // Simulate a checkpoint from BEFORE the epoch file existed (offsets
    // committed, epoch file absent) plus the crash window: batch 1 committed
    // to the TABLE but the stream died before its checkpoint offset landed.
    Files.delete(java.nio.file.Paths.get(s"$dir/_checkpoint/graft-writer-epoch"))
    val b = Seq((4L, "d"), (5L, "e")).toDF("id", "v")
    b.write.mode("append").parquet(srcDir)
    t.appendBatch(b, 1) // the table-side commit the checkpoint never saw
    assert(t.read.count() == 5)

    // Restart: the file source replays batch 1 (= file b). A legacy layout
    // must re-derive offset 0 so appendBatch(b, 0+1) dedupes against the
    // already-committed batch 1 — latest+1 would commit it AGAIN as batch 2.
    val q2 = t.writeStream(
      spark.readStream.schema(a.schema).parquet(srcDir), Trigger.AvailableNow())
    q2.awaitTermination()
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_checkpoint/graft-writer-epoch"))).trim == "0")
    assert(t.read.count() == 5, "crash-window batch must not double-commit")
  }

  test("readWhere skips files by footer min/max stats, result identical to full scan") {
    val t = new StreamTable(tmp(), spark)
    // three batches with disjoint value ranges → three skippable files
    t.appendBatch((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"), 0)
    t.appendBatch((101L to 200L).map(i => (i, i * 1.0)).toDF("id", "v"), 1)
    t.appendBatch((201L to 300L).map(i => (i, i * 1.0)).toDF("id", "v"), 2)
    val skipped = t.readWhere("v", 120.0, 150.0)
    val full = t.read.where(col("v") >= 120.0 && col("v") <= 150.0)
    assert(skipped.orderBy("id").collect().toSeq ==
      full.orderBy("id").collect().toSeq)
    val (kept, total) = t.lastSkip.get
    assert(kept < total, s"expected pruning, read $kept of $total files")
    assert(skipped.count() == 31)
    // a range outside every file's stats reads (at most) one probe file
    assert(t.readWhere("v", 1e9, 2e9).count() == 0)
    // PK tables refuse (file pruning would break last-writer-wins)
    val pk = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    pk.appendBatch(Seq((1L, 1.0)).toDF("id", "v"), 0)
    intercept[IllegalArgumentException] { pk.readWhere("v", 0.0, 10.0) }
  }

  test("tags pin snapshots through retention; readAtTime travels by wall clock") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0)
    Thread.sleep(15) // separate commit timestamps for the wall-clock travel
    t.appendBatch(Seq((2L, "b")).toDF("id", "v"), 1)
    Thread.sleep(15)
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), 2)

    val s0 = t.snapshots.head
    t.createTag("cut-0", Some(s0.id))
    assert(t.tags == Seq("cut-0" -> s0.id))
    assert(t.readTag("cut-0").collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] { t.createTag("cut-0") } // immutable
    intercept[IllegalArgumentException] { t.readTag("nope") }

    // wall-clock travel: AS OF each commit instant sees that commit's state
    assert(t.readAtTime(s0.committedAtMs).count() == 1)
    assert(t.readAtTime(System.currentTimeMillis()).count() == 3)
    intercept[IllegalArgumentException] { t.readAtTime(s0.committedAtMs - 1) }

    // retention keeps ONLY the latest + the tagged root; the tag stays
    // readable because its snapshot is a retention root (files + manifest)
    val expired = t.expireSnapshots(1, 1, 0L)
    assert(expired == 1, s"expected only the untagged middle snapshot gone")
    assert(t.readTag("cut-0").collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(t.read.count() == 3)
    assert(t.snapshots.map(_.id).toSet == Set(s0.id, s0.id + 2))

    // the $tags system table mirrors the tag store
    val tv = t.tagsView.collect()
    assert(tv.length == 1 && tv(0).getString(0) == "cut-0" &&
      tv(0).getLong(1) == s0.id)

    // deleting the tag releases the root: the next expire removes it
    assert(t.deleteTag("cut-0") && !t.deleteTag("cut-0"))
    assert(t.expireSnapshots(1, 1, 0L) == 1)
    assert(t.snapshots.map(_.id) == Seq(s0.id + 2))
  }

  test("sortCompact z-orders the layout: readWhere skips on BOTH columns") {
    val t = new StreamTable(tmp(), spark)
    // 64k rows over a 2-D grid, appended in hash order so the incoming
    // layout clusters NEITHER column (every file's [min,max] spans ~all)
    val rows = (0L until 65536L).map { i =>
      val h = i * 2654435761L % 65536L  // Fibonacci-hash scramble
      (h, (h % 256L) * 1.0, (h / 256L) * 1.0)
    }
    rows.grouped(16384).zipWithIndex.foreach { case (g, b) =>
      t.appendBatch(g.toDF("id", "x", "y"), b.toLong)
    }
    val preSkip = { t.readWhere("y", 10.0, 25.0); t.lastSkip.get }
    assert(preSkip._1 == preSkip._2, "hash-ordered input must not prune")

    t.sortCompact("x", "y", targetFileCount = 16)
    assert(t.read.count() == 65536L, "sort-compact must conserve rows")

    // a narrow box in EITHER dimension now prunes: each file's z-range is a
    // tight 2-D bounding box, so ~√(1/16) of the 16 files match, not all 16
    val xSkip = { t.readWhere("x", 10.0, 25.0); t.lastSkip.get }
    val ySkip = { t.readWhere("y", 10.0, 25.0); t.lastSkip.get }
    assert(xSkip._2 == 16 && ySkip._2 == 16)
    assert(xSkip._1 <= 8, s"x skipping too weak: read ${xSkip._1}/16")
    assert(ySkip._1 <= 8, s"y skipping too weak: read ${ySkip._1}/16")

    // values are untouched by the re-layout
    assert(t.readWhere("y", 10.0, 25.0).agg(sum("id")).head().getLong(0) ==
      rows.filter(r => r._3 >= 10.0 && r._3 <= 25.0).map(_._1).sum)
  }

  test("sorted runs: a commit adding an unsorted PK data file is refused") {
    import org.apache.spark.sql.types._
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val before = t.latestSnapshot.get.id
    // a file staged by a writer that did not check the key order
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val w = new graft.sources.v2.GraftStreamingDataWriter(t.root, schema,
      "unsorted", 0L, 0, bucketPlan = None, numBuckets = 0, stamp = Some(1L))
    Seq(3L -> "c", 2L -> "B").foreach { case (id, v) =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(v)))
    }
    val staged = w.commit().asInstanceOf[graft.sources.v2.GraftSinkCommitMessage].files
    assert(staged.size == 1 && !staged.head.sorted)
    val err = intercept[IllegalStateException](
      t.commitExternalFiles(staged, "unsorted", 0L, stampedSeq = Some(1L)))
    assert(err.getMessage.contains("must be a sorted run"), err.getMessage)
    assert(t.latestSnapshot.get.id == before, "nothing may commit")
    assert(t.read.count() == 2L)
  }

  test("sorted runs: sortCompact and sortCompactOrder keep them on a PK table") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("ver"))
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { b =>
      t.appendBatch((0 until 200).map { _ =>
        (rnd.nextInt(300).toLong, rnd.nextInt(5).toLong,
          rnd.nextInt(1000) * 1.0, rnd.nextInt(1000) * 1.0)
      }.distinctBy(_._1).toDF("id", "ver", "x", "y"), b.toLong)
    }
    def answers = t.read.select("id", "ver", "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sorted.toSeq
    val want = answers
    def assertSortedRuns(what: String): Unit = {
      val files = t.latestSnapshot.get.files
      assert(files.size > 1 && files.forall(_.sortedBy.contains(Seq("id"))), s"$what: $files")
      files.foreach { f =>
        val ids = spark.read.parquet(f.path).select("id").collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted, s"$what: ${f.path} is not sorted by the key")
      }
      assert(answers == want, s"$what changed the answers")
    }
    t.sortCompact("x", "y", targetFileCount = 3)
    assertSortedRuns("sortCompact")
    t.sortCompactOrder(Seq("x"), targetFileCount = 3)
    assertSortedRuns("sortCompactOrder")
    // the x ranges of the files stay disjoint: the range layout is kept
    val ranges = t.latestSnapshot.get.files.map(f =>
      spark.read.parquet(f.path).agg(min("x"), max("x")).head())
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
      assert(a._2 <= b._1, s"overlapping x ranges: $ranges") }
  }

  test("sorted runs: a layout without sortedBy refuses the library read but " +
      "takes appends until compaction sorts it, exact ties kept") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    def open() = new StreamTable(root, spark, primaryKey = Some(Seq("id")),
      numBuckets = 1, changelogProducer = true)
    val t = open()
    // a key repeated inside one batch: an exact (commit) tie, resolved by
    // row order within the file
    t.appendBatch((0 until 200).map(i => (i % 50L, s"v$i")).toDF("id", "v"), 0)
    t.appendBatch(Seq((3L, "late"), (3L, "later")).toDF("id", "v"), 1)
    def answers(x: StreamTable) =
      x.read.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val before = answers(t)
    // strip the sorted-run flags: a table written before they were required
    Files.list(java.nio.file.Paths.get(root, "_manifests")).iterator().asScala.foreach { p =>
      val s = new String(Files.readAllBytes(p))
      Files.write(p, s.replace("\"sortedBy\":[\"id\"]", "\"sortedBy\":null").getBytes)
    }
    val legacy = open()
    require(legacy.latestSnapshot.get.files.forall(_.sortedBy.isEmpty))
    val err = intercept[Exception](legacy.read.collect())
    def messages(e: Throwable): Seq[String] =
      if (e == null) Nil else String.valueOf(e.getMessage) +: messages(e.getCause)
    assert(messages(err).exists(_.contains("CALL sys.compact")), messages(err))
    // the 'input' producer diffs key-sorted copies of the legacy files: the
    // old images are the ones the sorted layout resolved, exact ties included
    legacy.appendBatch(Seq((3L, "new3"), (10L, "new10"), (70L, "fresh")).toDF("id", "v"), 2)
    val ops = spark.read.parquet(legacy.latestSnapshot.get.changelog.map(_.path): _*)
      .select("op", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val old = before.toMap
    assert(ops == Seq(("+I", 70L, "fresh"), ("+U", 3L, "new3"), ("+U", 10L, "new10"),
      ("-U", 3L, old(3L)), ("-U", 10L, old(10L))), ops)
    assert(!Files.list(java.nio.file.Paths.get(root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".staging-")), "sorted copies left behind")
    legacy.compact(targetFileCount = 1)
    assert(legacy.latestSnapshot.get.files.forall(_.sortedBy.contains(Seq("id"))))
    assert(answers(legacy) == (old ++ Seq(3L -> "new3", 10L -> "new10", 70L -> "fresh"))
      .toSeq.sorted, "the upgrade must not change answers")
  }

  test("plan shape: read and readAt plan one GraftPkScan and no Exchange or " +
      "Window, every merge engine") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def table(engine: String) = engine match {
      case "aggregation" => new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
        seqCol = Some("seq"), aggSpec = Some(Seq("n" -> "sum", "v" -> "listagg")))
      case e => new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
        seqCol = Some("seq"), mergeEngine = e)
    }
    for (engine <- Seq("deduplicate", "first-row", "aggregation", "partial-update")) {
      val t = table(engine)
      t.appendBatch(Seq((1L, 2L, 5L, "a"), (2L, 1L, 7L, "b")).toDF("id", "seq", "n", "v"), 0)
      t.appendBatch(Seq((1L, 1L, 3L, "c"), (3L, 4L, 1L, "d")).toDF("id", "seq", "n", "v"), 1)
      for ((what, df) <- Seq("read" -> t.read, "readAt(0)" -> t.readAt(0))) {
        assert(df.collect().nonEmpty)
        val plan = df.queryExecution.executedPlan
        val scans = plans.collect(plan) {
          case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.v2.GraftPkScan] => b }
        val exchanges = plans.collect(plan) {
          case e: Exchange => e
          case e: ReusedExchangeExec => e }
        val windows = plans.collect(plan) { case w if w.nodeName.contains("Window") => w }
        assert((scans.size, exchanges.size, windows.size) == ((1, 0, 0)),
          s"$engine $what:\n$plan")
      }
    }
  }

  test("read and readAt stay pinned to the snapshot current at call time") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    val df = t.read
    val at0 = t.readAt(0)
    t.appendBatch(Seq((1L, "z"), (3L, "c")).toDF("id", "v"), 1)
    t.compact(targetFileCount = 1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(df) == Seq((1L, "a"), (2L, "b")))
    assert(rows(at0) == Seq((1L, "a"), (2L, "b")))
    assert(rows(t.read) == Seq((1L, "z"), (2L, "b"), (3L, "c")))
  }

  test("aggregation merge-engine: blind appends merge by declared functions") {
    val t = new StreamTable(tmp(), spark,
      primaryKey = Some(Seq("k")),
      aggSpec = Some(Seq("total" -> "sum", "hi" -> "max", "n" -> "count")))
    t.appendBatch(Seq((1L, 10L, 3L, 1L), (2L, 5L, 9L, 1L)).toDF("k", "total", "hi", "n"), 0)
    t.appendBatch(Seq((1L, 7L, 8L, 1L), (1L, 1L, 1L, 1L)).toDF("k", "total", "hi", "n"), 1)
    val m1 = t.read.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // k=1 summed 10+7+1, max(3,8,1), count over 3 partial rows
    assert(m1(0) == ((1L, 18L, 8L, 3L)))
    assert(m1(1) == ((2L, 5L, 9L, 1L)))

    // compaction PRE-MERGES (Paimon full-compaction materialization) and the
    // view survives: partial aggregates + fresh appends re-merge identically
    t.compact(targetFileCount = 1)
    assert(t.latestSnapshot.get.files.size == 1)
    t.appendBatch(Seq((2L, 2L, 20L, 1L)).toDF("k", "total", "hi", "n"), 2)
    val m2 = t.read.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m2(0) == ((1L, 18L, 8L, 3L)))
    assert(m2(1) == ((2L, 7L, 20L, 2L)))

    // deletes are refused (no retract support) and bad specs fail fast
    intercept[UnsupportedOperationException] {
      t.deleteBatch(Seq(1L).toDF("k"), 3)
    }
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
        aggSpec = Some(Seq("total" -> "avg")))
    }
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, aggSpec = Some(Seq("total" -> "sum")))
    }
  }

  test("aggregation merge-engine: bool_and/bool_or fold and survive re-merge") {
    val t = new StreamTable(tmp(), spark,
      primaryKey = Some(Seq("k")),
      aggSpec = Some(Seq("all_ok" -> "bool_and", "any_hot" -> "bool_or")))
    t.appendBatch(Seq((1L, true, false), (2L, true, true))
      .toDF("k", "all_ok", "any_hot"), 0)
    t.appendBatch(Seq((1L, false, false), (2L, true, false))
      .toDF("k", "all_ok", "any_hot"), 1)
    def got() = t.read.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got().toSeq == Seq((1L, false, false), (2L, true, true)))
    // closure under re-merge: compaction pre-folds, later appends fold on
    // (bool_and of bool_ands = bool_and — same argument as sum-of-sums)
    t.compact(targetFileCount = 1)
    t.appendBatch(Seq((1L, true, true), (2L, false, false))
      .toDF("k", "all_ok", "any_hot"), 2)
    assert(got().toSeq == Seq((1L, false, true), (2L, false, true)))
  }

  test("aggregation merge-engine: last_non_null_value races on its sequence group, " +
      "out-of-order after compaction included") {
    val t = new StreamTable(tmp(), spark,
      primaryKey = Some(Seq("k")), seqCol = Some("seq"),
      aggSpec = Some(Seq("total" -> "sum", "status" -> "last_non_null_value")))
    def row(k: Long, seq: Long, total: Long, status: Option[String]) =
      (k, seq, total, status.orNull)
    val cols = Seq("k", "seq", "total", "status")
    t.appendBatch(Seq(row(1, 10, 5, Some("new")), row(2, 10, 1, Some("a")))
      .toDF(cols: _*), 0)
    // a NULL status never overwrites (last NON-NULL), the sum still folds
    t.appendBatch(Seq(row(1, 20, 3, None)).toDF(cols: _*), 1)
    // the aggregation view carries pk + the declared aggregate fields only
    def got() = t.read.select("k", "total", "status").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got().toSeq == Seq((1L, 8L, "new"), (2L, 1L, "a")))
    // the read view must not leak the per-field provenance columns
    assert(!t.read.columns.exists(_.startsWith(StreamTable.FieldSeqPrefix)))
    // compaction persists the field's WINNING sequence (10), not the
    // merged row's inflated one (20): an out-of-order arrival at seq 15
    // must still overwrite status — the partial-update provenance argument
    t.compact(targetFileCount = 1)
    // a COMPACTED-ONLY read works: the merged view dropped the sequence
    // column, so the resolve must ride the persisted provenance alone
    // (regression: baseOrd used to reference the absent seq column)
    assert(got().toSeq == Seq((1L, 8L, "new"), (2L, 1L, "a")))
    assert(t.changesBetween(0, t.latestSnapshot.get.id).count() >= 0)
    t.appendBatch(Seq(row(1, 15, 2, Some("mid"))).toDF(cols: _*), 2)
    assert(got().toSeq == Seq((1L, 10L, "mid"), (2L, 1L, "a")))
    // and a genuinely newer value wins over everything
    t.appendBatch(Seq(row(1, 30, 0, Some("done"))).toDF(cols: _*), 3)
    assert(got().toSeq == Seq((1L, 10L, "done"), (2L, 1L, "a")))
    // the ordered function refuses without an explicit sequence group
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
        aggSpec = Some(Seq("status" -> "last_non_null_value")))
    }
  }

  test("aggregation merge-engine: listagg/collect fold in SEQUENCE order under " +
      "a sequence group — re-merge associative, out-of-order after compaction") {
    val t = new StreamTable(tmp(), spark,
      primaryKey = Some(Seq("k")), seqCol = Some("seq"),
      aggSpec = Some(Seq("log" -> "listagg", "tags" -> "collect")))
    def row(k: Long, seq: Long, log: Option[String], tags: Option[Seq[String]]) =
      (k, seq, log.orNull, tags.orNull)
    val cols = Seq("k", "seq", "log", "tags")
    t.appendBatch(Seq(row(1, 10, Some("start"), Some(Seq("a"))),
      row(2, 10, Some("x"), None)).toDF(cols: _*), 0)
    t.appendBatch(Seq(row(1, 30, Some("stop"), Some(Seq("c")))).toDF(cols: _*), 1)
    def got() = t.read.orderBy("k").collect().map(r => (r.getLong(0),
      r.getString(1), Option(r.getSeq[String](2)).map(_.toSeq).orNull))
    // the VIEW folds by sequence; nulls contribute nothing
    assert(got().toSeq == Seq((1L, "start,stop", Seq("a", "c")),
      (2L, "x", null)))
    // the read view hides the provenance companion columns
    assert(!t.read.columns.exists(_.startsWith(StreamTable.FieldListPrefix)))
    // compaction persists per-CONTRIBUTION provenance: an out-of-order
    // arrival at seq 20 must land BETWEEN the compacted contributions,
    // not after them — arrival order would append it to the end
    t.compact(targetFileCount = 1)
    assert(got().toSeq == Seq((1L, "start,stop", Seq("a", "c")),
      (2L, "x", null)), "a compacted-only read must reproduce the fold")
    t.appendBatch(Seq(row(1, 20, Some("mid"), Some(Seq("b")))).toDF(cols: _*), 2)
    assert(got().toSeq == Seq((1L, "start,mid,stop", Seq("a", "b", "c")),
      (2L, "x", null)),
      "sequence order must survive compaction (re-merge closure)")
    // a second compaction and another arrival: closure holds repeatedly
    t.compact(targetFileCount = 1)
    t.appendBatch(Seq(row(1, 5, Some("pre"), None),
      row(2, 20, Some("y"), Some(Seq("z")))).toDF(cols: _*), 3)
    assert(got().toSeq == Seq((1L, "pre,start,mid,stop", Seq("a", "b", "c")),
      (2L, "x,y", Seq("z"))))
    // the ordered list functions refuse without an explicit sequence group
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
        aggSpec = Some(Seq("log" -> "listagg")))
    }
    // ...and refuse wrong types loudly at first merge
    val bad = new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
      seqCol = Some("seq"), aggSpec = Some(Seq("n" -> "listagg")))
    bad.appendBatch(Seq((1L, 1L, 5L)).toDF("k", "seq", "n"), 0)
    val e = intercept[IllegalArgumentException] { bad.read.collect() }
    assert(e.getMessage.contains("needs a STRING field"), e.getMessage)
  }

  test("aggregation merge-engine: merge_map — later-by-SEQUENCE entries win " +
      "per map key, out-of-order after compaction included") {
    val t = new StreamTable(tmp(), spark,
      primaryKey = Some(Seq("k")), seqCol = Some("seq"),
      aggSpec = Some(Seq("attrs" -> "merge_map")))
    def got(): Map[Long, Map[String, String]] = t.read.collect()
      .map(r => r.getLong(r.fieldIndex("k")) ->
        Option(r.getMap[String, String](r.fieldIndex("attrs")))
          .map(_.toMap).orNull).toMap
    t.appendBatch(Seq(
      (1L, 10L, Map("color" -> "red", "size" -> "S")),
      (2L, 10L, Map("color" -> "blue"))).toDF("k", "seq", "attrs"), 0)
    t.appendBatch(Seq(
      (1L, 30L, Map("color" -> "green"))).toDF("k", "seq", "attrs"), 1)
    // later sequence overwrites per KEY; untouched keys survive
    assert(got() == Map(1L -> Map("color" -> "green", "size" -> "S"),
      2L -> Map("color" -> "blue")))
    // compaction persists provenance: a LATE arrival at seq 20 must lose
    // 'color' to the compacted seq-30 entry yet win its fresh key
    t.compact(targetFileCount = 1)
    assert(got() == Map(1L -> Map("color" -> "green", "size" -> "S"),
      2L -> Map("color" -> "blue")),
      "a compacted-only read must reproduce the merged map")
    t.appendBatch(Seq(
      (1L, 20L, Map("color" -> "yellow", "trim" -> "gold")))
      .toDF("k", "seq", "attrs"), 2)
    assert(got() == Map(
      1L -> Map("color" -> "green", "size" -> "S", "trim" -> "gold"),
      2L -> Map("color" -> "blue")),
      "per-key sequence order must survive compaction (re-merge closure)")
    // wrong type refuses loudly at first merge
    val bad = new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
      seqCol = Some("seq"), aggSpec = Some(Seq("n" -> "merge_map")))
    bad.appendBatch(Seq((1L, 1L, 5L)).toDF("k", "seq", "n"), 0)
    val e2 = intercept[IllegalArgumentException] { bad.read.collect() }
    assert(e2.getMessage.contains("needs a MAP field"), e2.getMessage)
  }

  test("first-row merge-engine: earliest sequence wins at every merge site") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"), mergeEngine = "first-row")
    t.appendBatch(Seq((1L, 10L, "first"), (2L, 11L, "b1")).toDF("id", "seq", "v"), 0)
    t.appendBatch(Seq((1L, 20L, "later"), (3L, 5L, "c1")).toDF("id", "seq", "v"), 1)
    def got() = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got().toSeq == Seq((1L, "first"), (2L, "b1"), (3L, "c1")))
    // compaction materializes the winner; a LATE arrival with a SMALLER
    // sequence still beats it on re-merge (seq order, not arrival order)
    t.compact(targetFileCount = 1)
    t.appendBatch(Seq((1L, 1L, "earliest"), (2L, 99L, "late")).toDF("id", "seq", "v"), 2)
    assert(got().toSeq == Seq((1L, "earliest"), (2L, "b1"), (3L, "c1")))
    intercept[UnsupportedOperationException] { t.deleteBatch(Seq(1L).toDF("id"), 3) }
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, mergeEngine = "first-row") // no PK
    }
  }

  test("partial-update merge-engine: per-field last non-null, associative under compaction") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"), mergeEngine = "partial-update")
    def row(id: Long, seq: Long, a: Option[String], b: Option[Long]) =
      (id, seq, a.orNull, b.map(Long.box).orNull)
    val cols = Seq("id", "seq", "a", "b")
    // key 1: a set at seq 10, b set at seq 20 by a different partial row
    t.appendBatch(Seq(row(1, 10, Some("a10"), None), row(2, 10, Some("x"), Some(7)))
      .toDF(cols: _*), 0)
    t.appendBatch(Seq(row(1, 20, None, Some(42))).toDF(cols: _*), 1)
    def got() = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got().toSeq == Seq((1L, "a10", 42L), (2L, "x", 7L)))
    // the read view must not leak the per-field seq metadata columns
    assert(!t.read.columns.exists(_.startsWith(StreamTable.FieldSeqPrefix)))

    // compaction persists per-field sequences: an OUT-OF-ORDER arrival at
    // seq 15 (between a's seq 10 and the compacted row's own seq 20) must
    // still overwrite a (set at 10) — without per-field provenance the
    // compacted row's inflated sequence would wrongly win
    t.compact(targetFileCount = 1)
    t.appendBatch(Seq(row(1, 15, Some("a15"), None)).toDF(cols: _*), 2)
    assert(got().toSeq == Seq((1L, "a15", 42L), (2L, "x", 7L)))
    // ...and a genuinely newer update still wins over everything
    t.appendBatch(Seq(row(1, 30, Some("a30"), None)).toDF(cols: _*), 3)
    assert(got().toSeq == Seq((1L, "a30", 42L), (2L, "x", 7L)))
    intercept[UnsupportedOperationException] { t.deleteBatch(Seq(1L).toDF("id"), 4) }
  }

  test("changelog-producer 'full-compaction': deferred span production at compaction, " +
      "interval reads stay correct across mixed-producer history") {
    val cat = new graft.table.GraftCatalog(spark,
      Files.createTempDirectory("graft_dclwh_").toString)
    val t = cat.createTable("default", "dcl", Map(
      "primary-key" -> "id", "sequence.field" -> "seq",
      "changelog-producer" -> "full-compaction"))
    t.appendBatch(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v"), 0L)
    t.appendBatch(Seq((1L, 2L, "a2"), (3L, 2L, "c")).toDF("id", "seq", "v"), 1L)
    // writes stay RAW under a deferred producer: no changelog staged
    assert(t.latestSnapshot.get.changelog.isEmpty &&
      !t.latestSnapshot.get.clogProduced,
      "deferred producer must not pay the write-time resolve")
    // a CDC interval between compactions falls back to the state diff —
    // correct ops, just not the persisted fast path
    val mid = t.changelogWithRetractions(0, 1).groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mid == Map("-U" -> 1L, "+U" -> 1L, "+I" -> 1L), mid.toString)
    // compaction PRODUCES: one netted changelog covering (0, compactId]
    t.compact(targetFileCount = 1)
    val cs = t.latestSnapshot.get
    assert(cs.clogProduced && cs.clogFromId.contains(0L), cs.toString)
    assert(cs.changelog.nonEmpty, "the span's netted ops must be persisted")
    val span = spark.read.parquet(cs.changelog.map(_.path): _*)
      .groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(span == Map("-U" -> 1L, "+U" -> 1L, "+I" -> 1L),
      s"span (0, ${cs.id}] nets exactly the mid-interval ops: $span")
    // $changelog history: snapshot 0's +I rows, then the deferred span ONCE
    // (covered write snapshots contribute nothing at their own position)
    val hist1 = t.changeHistoryView.groupBy("rowkind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist1 == Map("+I" -> 3L, "-U" -> 1L, "+U" -> 1L), hist1.toString)
    // the uncompacted TAIL serves per-commit diffs (no throw, no gap)
    t.appendBatch(Seq((2L, 3L, "b2")).toDF("id", "seq", "v"), 2L)
    val hist2 = t.changeHistoryView.groupBy("rowkind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist2 == Map("+I" -> 3L, "-U" -> 2L, "+U" -> 2L), hist2.toString)
    // a second compaction's span covers exactly the tail
    t.compact(targetFileCount = 1)
    val cs2 = t.latestSnapshot.get
    assert(cs2.clogProduced && cs2.clogFromId.contains(cs.id), cs2.toString)
    assert(t.changeHistoryView.groupBy("rowkind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == hist2,
      "producing the tail's span must not change the history, only its source")
    // a CDC trigger whose interval lands EXACTLY on the deferred coverage
    // chain rides the persisted-changelog fast path (delta partitions, no
    // state resolve); one that starts mid-span falls back to the state diff
    val onChain = graft.sources.v2.ChangelogPlanning.planInterval(
      t, t.snapshotHeaders, 0L, cs.id)
    assert(onChain.nonEmpty && onChain.forall(
      _.isInstanceOf[graft.sources.v2.GraftChangelogDeltaPartition]),
      s"chain-aligned interval must ride the changelog files: ${onChain.toSeq}")
    val midSpan = graft.sources.v2.ChangelogPlanning.planInterval(
      t, t.snapshotHeaders, 1L, cs.id)
    assert(midSpan.exists(
      !_.isInstanceOf[graft.sources.v2.GraftChangelogDeltaPartition]),
      "a mid-span start cannot slice the deferred files: state diff")
    // the V2 `$changelog` door mirrors the library view row-for-row
    // across the mixed-producer history
    val catName = s"graft_dcl_${Integer.toHexString(cat.warehouse.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", cat.warehouse)
    val v2 = spark.sql(s"SELECT rowkind, count(*) AS n FROM " +
      s"$catName.default.`dcl$$changelog` GROUP BY rowkind").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 == hist2, s"V2 door must mirror the library view: $v2 vs $hist2")
    // unknown producer values refuse loudly
    intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
        changelogMode = Some("bogus"))
    }
    // dynamic bucket mode (Paimon bucket = -1) is a REAL mode since round
    // 14 (see the dedicated dynamic-bucket test); it still refuses loudly
    // without a bucket key to hash on
    assert(new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      bucketKey = Some("id"), numBuckets = -1).isDynamicBucket)
    val e = intercept[IllegalArgumentException] {
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
        numBuckets = -1)
    }
    assert(e.getMessage.contains("bucket-key"), e.getMessage)

    // the chain SURVIVES retention expiring the covered mid-span write
    // snapshots (they age out first — changelog files are self-contained):
    // only cs2 retained, a consumer at cs.id still rides the fast path
    t.expireSnapshots(numRetainedMin = 1, numRetainedMax = 1,
      timeRetainedMs = 0L)
    assert(t.snapshotHeaders.map(_.id) == Seq(cs2.id))
    val afterExpiry = graft.sources.v2.ChangelogPlanning.planInterval(
      t, t.snapshotHeaders, cs.id, cs2.id)
    assert(afterExpiry.forall(
      _.isInstanceOf[graft.sources.v2.GraftChangelogDeltaPartition]),
      s"retained covering snapshot must still serve its span: ${afterExpiry.toSeq}")
    // while a consumer below the chain base gets the retention error (the
    // diff would truly need an expired snapshot)
    val gone = intercept[IllegalStateException] {
      graft.sources.v2.ChangelogPlanning.planInterval(
        t, t.snapshotHeaders, 0L, cs2.id)
    }
    assert(gone.getMessage.contains("retention-expired"), gone.getMessage)
  }

  test("a LONG uncompacted deferred tail nets as ONE interval diff per run: " +
      "history is identical before and after the covering compaction") {
    val cat = new graft.table.GraftCatalog(spark, tmp())
    val t = cat.createTable("default", "tnet", Map(
      "primary-key" -> "id", "sequence.field" -> "seq",
      "changelog-producer" -> "full-compaction"))
    t.appendBatch(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v"), 0L)
    // a three-commit tail: key 1 updated TWICE, key 3 added
    t.appendBatch(Seq((1L, 2L, "a2")).toDF("id", "seq", "v"), 1L)
    t.appendBatch(Seq((1L, 3L, "a3")).toDF("id", "seq", "v"), 2L)
    t.appendBatch(Seq((3L, 4L, "c")).toDF("id", "seq", "v"), 3L)
    val before = t.changeHistoryView.groupBy("rowkind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the tail NETS: key 1's two updates collapse to one -U/+U pair —
    // exactly the rows the covering compaction's span will persist (and one
    // endpoint resolve for the whole run, not one per tail commit)
    assert(before == Map("+I" -> 3L, "-U" -> 1L, "+U" -> 1L), before.toString)
    // the netted image pair is oldest-to-newest across the run
    val k1 = t.changeHistoryView.filter("id = 1").collect()
      .map(r => r.getString(0) -> r.getString(3)).toSet
    assert(k1 == Set("+I" -> "a", "-U" -> "a", "+U" -> "a3"), k1.toString)
    t.compact(targetFileCount = 1)
    val after = t.changeHistoryView.groupBy("rowkind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before,
      "producing the span must not change the history, only its source")
    // the V2 door mirrors the netted tail row-for-row
    val catName = s"graft_tnet_${Integer.toHexString(cat.warehouse.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", cat.warehouse)
    val v2 = spark.sql(s"SELECT rowkind, count(*) AS n FROM " +
      s"$catName.default.`tnet$$changelog` GROUP BY rowkind").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 == after, s"V2 door must mirror the library view: $v2 vs $after")
  }

  test("deferred producer history stays op-balanced per key under randomized " +
      "write/delete/compaction interleavings") {
    // the $changelog of a deferred table mixes three sources — snapshot 0's
    // resolve, compaction-produced spans, and per-commit diffs for the
    // uncompacted tail. Whatever the interleaving, each key's retained ops
    // must BALANCE: a live key nets one assertion (+I/+U minus -U/-D = 1),
    // a dead key nets zero — double emission (a span re-delivering a
    // covered commit) or a gap (a covered commit skipped without its span)
    // breaks the balance immediately
    val rnd = new scala.util.Random(1303)
    for (trial <- 0 until 3) {
      val cat = new graft.table.GraftCatalog(spark, tmp())
      val t = cat.createTable("db", s"bal$trial", Map(
        "primary-key" -> "id", "sequence.field" -> "ver",
        "changelog-producer" -> "full-compaction"))
      var batch = 0L
      var ver = 0L
      for (_ <- 0 until 5) {
        val n = 2 + rnd.nextInt(4)
        val rows = (0 until n).map { _ =>
          ver += 1; (rnd.nextInt(6).toLong, ver, s"v$ver")
        }
        t.appendBatch(rows.toDF("id", "ver", "v"), batch); batch += 1
        if (rnd.nextBoolean()) {
          ver += 1
          t.deleteBatch(Seq((rnd.nextInt(6).toLong, ver)).toDF("id", "ver"),
            batch)
          batch += 1
        }
        if (rnd.nextBoolean()) t.compact(2)
      }
      val net = t.changeHistoryView.groupBy("id").agg(
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
          .when(org.apache.spark.sql.functions.col("rowkind")
            .isin("+I", "+U"), 1).otherwise(-1)).as("net"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val live = t.read.select("id").collect().map(_.getLong(0)).toSet
      for ((k, n) <- net)
        assert(n == (if (live(k)) 1L else 0L),
          s"trial=$trial key=$k net=$n live=${live(k)}")
      // every key that ever appeared is accounted for in the history
      assert(live.subsetOf(net.keySet), s"trial=$trial missing live keys")
    }
  }

  test("catalog parses merge-engine and fields.*.aggregate-function options") {
    val cat = new graft.table.GraftCatalog(spark,
      Files.createTempDirectory("graft_mewh_").toString)
    val fr = cat.createTable("default", "m_first", Map(
      "primary-key" -> "id", "sequence.field" -> "seq", "merge-engine" -> "first-row"))
    fr.appendBatch(Seq((1L, 2L, "keep"), (1L, 9L, "drop")).toDF("id", "seq", "v"), 0)
    assert(cat.getTable("default", "m_first").read.collect()
      .map(_.getString(2)).toSeq == Seq("keep"))
    val ag = cat.createTable("default", "m_agg", Map(
      "primary-key" -> "k", "fields.total.aggregate-function" -> "sum"))
    ag.appendBatch(Seq((1L, 5L), (1L, 6L)).toDF("k", "total"), 0)
    assert(cat.getTable("default", "m_agg").read.collect()
      .map(_.getLong(1)).toSeq == Seq(11L))
  }

  test("catalog views make tables SQL-queryable") {
    val cat = new graft.table.GraftCatalog(spark,
      Files.createTempDirectory("graft_sqlwh_").toString)
    val t = cat.createTable("default", "m_sql", Map.empty)
    t.appendBatch(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), 0)
    cat.registerViews("default")
    assert(spark.sql("SELECT sum(v) FROM default_m_sql").first().getDouble(0) == 5.0)
  }

  test("streaming write (AvailableNow) lands exactly the input, then duality read") {
    val dir = tmp()
    val t = new StreamTable(dir, spark)
    val src = Tables.events(spark, SparkFixture.sf).select("event_id", "user_id", "value")
    // replay the batch table as a stream through the table's writeStream
    val tmpSrc = Files.createTempDirectory("graft_src_").toString
    src.write.parquet(s"$tmpSrc/in")
    val stream = spark.readStream.schema(src.schema).parquet(s"$tmpSrc/in")
    val q = t.writeStream(stream, Trigger.AvailableNow())
    q.awaitTermination()
    assert(t.read.count() == src.count())
    // duality: the same table is streaming-readable again
    val back = t.readStream(src.schema)
    val name = s"dual_${System.nanoTime()}"
    val q2 = back.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table(name).count() == src.count())
  }

  test("mergeInto: ANSI clause semantics in one commit on a PK table") {
    import graft.table.StreamTable.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"))
    t.appendBatch(Seq((1L, 10L, "a", 100L), (2L, 10L, "b", 200L),
      (3L, 10L, "c", 300L), (4L, 10L, "d", 400L)).toDF("id", "seq", "v", "amt"), 0)
    val src = Seq((2L, 20L, "B", -1L), (3L, 20L, "C", 50L), (9L, 20L, "I", 900L))
      .toDF("id", "seq", "v", "amt")
    val snapsBefore = t.snapshots.size

    val r = t.mergeInto(src, expr("t.id = s.id"), Seq(
      // first-clause-wins: the delete guard shadows the update for amt < 0
      MatchedDelete(Some(expr("s.amt < 0"))),
      MatchedUpdate(None, Seq(
        "v" -> expr("s.v"), "amt" -> expr("t.amt + s.amt"))),
      NotMatchedInsert(None, Seq(
        "id" -> expr("s.id"), "seq" -> expr("s.seq"),
        "v" -> expr("s.v"), "amt" -> expr("s.amt")))))
    assert(r == graft.table.StreamTable.MergeResult(1, 1, 1))
    // exactly ONE new snapshot: all three actions committed atomically
    assert(t.snapshots.size == snapsBefore + 1)
    val got = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", 100L), (3L, "C", 350L),
      (4L, "d", 400L), (9L, "I", 900L)))

    // updated row keeps its seq; a later higher-seq upsert still wins
    t.appendBatch(Seq((3L, 30L, "c3", 0L)).toDF("id", "seq", "v", "amt"), 99)
    assert(t.read.filter(col("id") === 3L).collect()(0).getString(2) == "c3")

    // a target row matched by two source rows is rejected
    val dupSrc = Seq((4L, 20L, "x", 1L), (4L, 21L, "y", 2L))
      .toDF("id", "seq", "v", "amt")
    intercept[IllegalArgumentException] {
      t.mergeInto(dupSrc, expr("t.id = s.id"),
        Seq(MatchedUpdate(None, Seq("v" -> expr("s.v")))))
    }
    // assigning the key or sequence column is rejected
    intercept[IllegalArgumentException] {
      t.mergeInto(src, expr("t.id = s.id"),
        Seq(MatchedUpdate(None, Seq("seq" -> expr("s.seq")))))
    }
    // append tables are out of contract (Paimon merge-into is PK-only)
    intercept[UnsupportedOperationException] {
      new StreamTable(tmp(), spark).mergeInto(src, expr("t.id = s.id"),
        Seq(MatchedDelete(None)))
    }
  }

  test("mergeInto: guarded clauses leave unguarded rows untouched") {
    import graft.table.StreamTable.{MatchedUpdate, NotMatchedInsert}
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    val src = Seq((1L, "A"), (2L, "B"), (7L, "new"), (8L, "skip"))
      .toDF("id", "v")
    val r = t.mergeInto(src, expr("t.id = s.id"), Seq(
      MatchedUpdate(Some(expr("t.id = 1")), Seq("v" -> expr("s.v"))),
      NotMatchedInsert(Some(expr("s.v <> 'skip'")),
        Seq("id" -> expr("s.id"), "v" -> expr("s.v")))))
    // id=2 matched but fails the guard → no clause fires → untouched
    assert(r == graft.table.StreamTable.MergeResult(1, 0, 1))
    val got = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "A"), (2L, "b"), (7L, "new")))
  }

  test("deleteWhere on an append table: pruned copy-on-write rewrite") {
    // pin the COPY-ON-WRITE contract (the over-cap route): small deletes
    // take the deletion-vector fast path by default (V2ConnectorSpec), so
    // disable it here to exercise the rewrite machinery directly
    System.setProperty("graft.dv.max-matches", "0")
    try {
    val t = new StreamTable(tmp(), spark)
    // 4 files with disjoint id ranges → footer stats make the predicate's
    // touched set provably a strict subset
    for (b <- 0 until 4)
      t.appendBatch(spark.range(b * 100, b * 100 + 100)
        .select(col("id"), (col("id") % 7).as("v")).coalesce(1), b)
    val before = t.latestSnapshot.get.files
    assert(before.size == 4)
    // matches rows only in file b1 (ids 100-199)
    val n = t.deleteWhere(col("id") >= 120 && col("id") < 150)
    assert(n == 30)
    assert(t.read.count() == 370)
    assert(t.read.filter(col("id") >= 120 && col("id") < 150).count() == 0)
    val after = t.latestSnapshot.get.files
    // the 3 untouched files survive verbatim — their PATHS are unchanged
    val untouched = before.filterNot(f =>
      after.forall(_.path != f.path)).map(_.path).toSet
    assert(untouched.size == 3, s"expected 3 untouched files, got $untouched")
    // the rewrite output is level-1 maintenance files, named u<snap>-
    val rewritten = after.filterNot(f => untouched.contains(f.path))
    assert(rewritten.nonEmpty && rewritten.forall(f =>
      f.level == 1 && f.path.contains("/u")))
    // time travel still sees the pre-delete rows
    assert(t.readAt(t.latestSnapshot.get.id - 1).count() == 400)
    // no-match delete commits nothing
    val snapBefore = t.latestSnapshot.get.id
    assert(t.deleteWhere(col("id") === 99999) == 0)
    assert(t.latestSnapshot.get.id == snapBefore)
    // an all-matching file disappears without leaving an empty output file
    val n2 = t.deleteWhere(col("id") >= 300)
    assert(n2 == 100 && t.read.count() == 270)
    assert(t.latestSnapshot.get.files.forall(_.rowCount > 0))
    } finally System.clearProperty("graft.dv.max-matches")
  }

  test("updateWhere on an append table: assignments hit only matching rows") {
    val t = new StreamTable(tmp(), spark)
    for (b <- 0 until 3)
      t.appendBatch(spark.range(b * 10, b * 10 + 10)
        .select(col("id"), (col("id") * 2).as("v"), lit("keep").as("s"))
        .coalesce(1), b)
    val before = t.latestSnapshot.get.files
    val n = t.updateWhere(col("id") < 5,
      Seq("v" -> lit(-1), "s" -> lit("scrubbed")))
    assert(n == 5)
    assert(t.read.count() == 30) // conservation
    val got = t.read.orderBy("id").collect()
    assert(got.take(5).forall(r => r.getLong(1) == -1L && r.getString(2) == "scrubbed"))
    assert(got.drop(5).forall(r => r.getLong(1) == r.getLong(0) * 2 && r.getString(2) == "keep"))
    // below the DV cap the update is merge-on-read: EVERY original file
    // survives verbatim (b0 carries a 5-position vector; the 5 updated
    // images appended as a level-1 file); the assignment's int literal was
    // cast back to the column's long type (schema is stable under UPDATE)
    val after = t.latestSnapshot.get.files
    assert(before.forall(f => after.exists(_.path == f.path)))
    assert(after.map(_.dvCount.getOrElse(0L)).sum == 5L)
    assert(after.filterNot(f => before.exists(_.path == f.path))
      .map(_.rowCount).sum == 5L)
    assert(t.read.schema("v").dataType == org.apache.spark.sql.types.LongType)
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") < 5, Seq("nope" -> lit(1)))
    }
    // above the cap the same update falls back to copy-on-write: the file
    // now holding the matches (the image file) rewrites; results stay exact
    System.setProperty("graft.dv.max-matches", "3")
    try {
      val n2 = t.updateWhere(col("id") < 5, Seq("v" -> lit(-2)))
      assert(n2 == 5)
      assert(t.read.where(col("id") < 5).collect().forall(_.getLong(1) == -2L))
      assert(t.read.count() == 30)
    } finally System.clearProperty("graft.dv.max-matches")
  }

  test("deleteWhere/updateWhere on a PK table: merge-on-read, no file rewritten") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"))
    t.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("id", "seq", "v"), 0)
    t.appendBatch(Seq((2L, 20L, "b2")).toDF("id", "seq", "v"), 1)
    val dataBefore = t.latestSnapshot.get.files.map(_.path).toSet

    val nd = t.deleteWhere(col("v") === "a")
    assert(nd == 1)
    assert(t.read.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // MOR: every pre-existing data file is still live (tombstones appended)
    assert(dataBefore.subsetOf(t.latestSnapshot.get.files.map(_.path).toSet))

    val nu = t.updateWhere(col("id") === 2L, Seq("v" -> lit("B2")))
    assert(nu == 1)
    val rows = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == Seq((2L, "B2"), (3L, "c")))
    // key/sequence columns are not assignable
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 2L, Seq("id" -> lit(9L)))
    }
    // compaction purges the tombstone and keeps the updated image
    t.compact(targetFileCount = 1)
    val after = t.read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(after.toSeq == Seq((2L, "B2"), (3L, "c")))
  }

  test("overwriteBatch replaces atomically and is idempotent on batch id") {
    import spark.implicits._
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    t.overwriteBatch(Seq((9L, "z")).toDF("id", "v"), 1L)
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // replay of the same batch id commits nothing (exactly-once)
    t.overwriteBatch(Seq((7L, "x"), (8L, "y")).toDF("id", "v"), 1L)
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(t.snapshots.size == 2)
    // the pre-overwrite version remains readable
    assert(t.readAt(0L).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("delta manifests: commit metadata is O(delta), rebased periodically") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    val t = new StreamTable(root, spark)
    val snapDir = java.nio.file.Paths.get(root, "_snapshots")
    val mfDir = java.nio.file.Paths.get(root, "_manifests")
    def mfNames() = java.nio.file.Files.list(mfDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    val n = 40
    var nonRebaseMax = 0L
    var rebases = 0
    (0 until n).foreach { b =>
      val before = mfNames()
      t.appendBatch(Seq((b.toLong, s"value-$b")).toDF("id", "v").coalesce(1),
        b.toLong)
      val snap = t.latestSnapshot.get
      val fresh = snap.manifestList.filterNot(before.contains)
      assert(fresh.size == 1, s"commit $b must write exactly one manifest")
      val written = fresh.map(f =>
        java.nio.file.Files.size(mfDir.resolve(f))).sum +
        java.nio.file.Files.size(snapDir.resolve(s"snap-${snap.id}.json"))
      if (snap.manifestList.size == 1 && b > 0) { rebases += 1 }
      else nonRebaseMax = math.max(nonRebaseMax, written)
    }
    // a delta commit's metadata is bounded by ITS change, not the live set:
    // with 40 live stat-carrying files an inline manifest would be >10 KB
    assert(nonRebaseMax < 2500,
      s"per-commit manifest bytes must stay delta-sized, got $nonRebaseMax")
    assert(rebases >= 1 && rebases <= 4,
      s"periodic rebase expected (~n/16), got $rebases")
    val head = t.latestSnapshot.get
    assert(head.manifestList.size <= 17)
    assert(head.files.size == n && t.read.count() == n.toLong)
    // the snapshot JSON itself never carries the live set again
    assert(java.nio.file.Files.size(
      snapDir.resolve(s"snap-${head.id}.json")) < 2000)
    // time travel folds any historical list correctly
    assert(t.readAt(4L).count() == 5)
    // expiry drops the manifests only expired snapshots referenced
    val beforeExpiry = mfNames().size
    assert(t.expireSnapshots(2, 2, 0L) > 0)
    assert(mfNames().size < beforeExpiry, "expired deltas must be deleted")
    assert(t.read.count() == n.toLong)
    // a LEGACY inline snapshot converts on the next commit (one rebase)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val t2root = tmp()
    val t2 = new StreamTable(t2root, spark)
    t2.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val inline = t2.latestSnapshot.get.copy(manifestList = Seq.empty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t2root, "_snapshots", s"snap-${inline.id}.json"),
      mapper.writeValueAsBytes(inline))
    val t3 = new StreamTable(t2root, spark)
    assert(t3.latestSnapshot.get.files.size == 2, "inline snapshot reads as-is")
    t3.appendBatch(Seq((3L, "c")).toDF("id", "v"), 1L)
    val converted = t3.latestSnapshot.get
    assert(converted.manifestList.size == 1, "legacy base must rebase")
    assert(t3.read.count() == 3)
  }

  test("in-place meta replacement (remove+re-add) is not re-delivered by addedBetween") {
    import spark.implicits._
    import graft.table.ManifestDelta
    val root = tmp()
    val t = new StreamTable(root, spark)
    t.appendBatch(Seq((1L, "a")).toDF("id", "v").coalesce(1), 0L)
    t.appendBatch(Seq((2L, "b")).toDF("id", "v").coalesce(1), 1L)
    val snap1 = t.latestSnapshot.get
    val f0 = t.snapshotAt(0L).get.files.head // live since snapshot 0
    val f1Path = (snap1.files.map(_.path).toSet - f0.path).head
    // hand-craft snapshot 2 as a remove+re-add of f0's path with refreshed
    // meta — the shape commit()'s already-live safety net produces (no
    // current writer does: paths are fresh UUIDs). The incremental fold
    // must classify it as an in-place replacement, not a new file, exactly
    // as the endpoint-diff fallback (path comparison) would.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val mfName = "mf-readd-pin.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_manifests", mfName),
      mapper.writeValueAsBytes(ManifestDelta(
        added = Seq(f0.copy(creationTimeMs = f0.creationTimeMs + 1)),
        removed = Seq(f0.path))))
    val snap2 = snap1.copy(id = 2L, batchId = 2L, files = Seq.empty,
      manifestList = snap1.manifestList :+ mfName,
      deltaManifest = Some(mfName), kind = "append")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_snapshots", "snap-2.json"),
      mapper.writeValueAsBytes(snap2))
    val t2 = new StreamTable(root, spark)
    // delta fold ≡ endpoint diff: only snapshot 1's file is new over (0, 2]
    assert(t2.addedBetween(0L, 2L).map(_.path) == Seq(f1Path))
    // and the replacement commit alone delivers nothing
    assert(t2.addedBetween(1L, 2L).isEmpty,
      "a meta replacement must not re-deliver its file's rows")
    // the live view still folds the refreshed meta (replacement applied)
    assert(t2.latestSnapshot.get.files.map(_.path).toSet ==
      snap1.files.map(_.path).toSet)
  }

  test("change surfaces plan from delta manifests: zero per-commit hydrations") {
    import spark.implicits._
    // PK producer table: 6 commits touching overlapping keys
    val root = tmp()
    def handle() = new StreamTable(root, spark, primaryKey = Some(Seq("id")),
      bucketKey = Some("id"), numBuckets = 2, changelogProducer = true)
    val t = handle()
    (0 until 6).foreach { b =>
      t.appendBatch(Seq((b.toLong % 4, s"v$b")).toDF("id", "v").coalesce(1),
        b.toLong)
    }
    // count manifest-list FOLDS a fresh handle performs (fresh = empty
    // hydration cache, so the count is the surface's real hydration demand)
    def folds[A](f: => A): (A, Long) = {
      val before = StreamTable.hydrateFolds.get()
      val r = f
      (r, StreamTable.hydrateFolds.get() - before)
    }
    // CDC trigger planning (the exact function GraftChangelogStream calls
    // per micro-batch): every covered commit produced, so the plan reads
    // ONLY per-commit changelog file lists from the headers — ZERO live-set
    // folds however many files are live
    val t2 = handle()
    val (parts, nProducer) = folds(
      graft.sources.v2.ChangelogPlanning.planInterval(
        t2, t2.snapshotHeaders, 1L, 5L))
    assert(parts.nonEmpty)
    assert(nProducer == 0,
      s"producer CDC trigger must plan with zero hydrations, folded $nProducer")
    // the full-alphabet state walk hydrates AT MOST its two endpoints —
    // per-commit evidence comes from the interval's delta manifests
    val t3 = handle()
    val (clog, nWalk) = folds(t3.changelogWithRetractions(1L, 5L).collect())
    assert(clog.nonEmpty)
    assert(nWalk <= 2,
      s"interval walk must hydrate at most its endpoints, folded $nWalk")

    // append table: incremental file diff folds the delta manifests, zero
    // snapshot hydrations on a steady-state trigger
    val rootA = tmp()
    val ta = new StreamTable(rootA, spark)
    (0 until 6).foreach { b =>
      ta.appendBatch(Seq((b.toLong, s"a$b")).toDF("id", "v").coalesce(1),
        b.toLong)
    }
    ta.compact(1) // an in-interval compaction must not surface its rewrites
    val taf = new StreamTable(rootA, spark)
    val (addedA, nAdd) = folds(taf.addedBetween(1L, 6L))
    assert(nAdd == 0,
      s"append incremental diff must fold deltas only, hydrated $nAdd")
    // commits 2..5 added one level-0 file each; the compaction (snapshot 6)
    // replaced them with a level-1 file — the END-STATE diff is just that
    assert(addedA.map(_.level).toSet == Set(1),
      s"end-state diff after compaction: ${addedA.map(f => (f.path, f.level))}")
    // per-commit ADDED evidence (incremental-between semantics) still
    // surfaces the absorbed level-0 commits, also with zero hydrations
    val taf2 = new StreamTable(rootA, spark)
    val byId = taf2.snapshotHeaders.map(s => s.id -> s).toMap
    val (ev, nEv) = folds(StreamTable.intervalEvidence(
      byId(_), taf2.deltaOf, taf2.hydrated, 1L, 6L))
    assert(nEv == 0, s"evidence walk must read deltas only, hydrated $nEv")
    assert(ev._1.size == 4 && ev._1.forall(_.level == 0),
      s"absorbed level-0 commits must stay evidence: ${ev._1.map(_.path)}")
  }

  test("empty commit on a LEGACY inline base still rebases (no data loss)") {
    import spark.implicits._
    // BUCKETED table: an empty micro-batch's partitionBy write stages zero
    // files, so the commit is a genuine NO-OP — on a legacy inline base the
    // snapshot JSON persists files=[], and skipping the conversion rebase
    // would publish a head that reads as an EMPTY table
    val root = tmp()
    val t = new StreamTable(root, spark, bucketKey = Some("id"), numBuckets = 2)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val inline = t.latestSnapshot.get.copy(
      manifestList = Seq.empty, deltaManifest = None)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_snapshots", s"snap-${inline.id}.json"),
      mapper.writeValueAsBytes(inline))
    val t2 = new StreamTable(root, spark, bucketKey = Some("id"), numBuckets = 2)
    t2.appendBatch(spark.emptyDataset[(Long, String)].toDF("id", "v"), 1L)
    val head = t2.latestSnapshot.get
    assert(head.id == inline.id + 1 && head.manifestList.nonEmpty,
      s"legacy no-op must rebase: $head")
    if (head.files.isEmpty || t2.read.count() != 2)
      fail(s"live rows must survive the empty commit: $head")
    assert(new StreamTable(root, spark, bucketKey = Some("id"), numBuckets = 2)
      .read.count() == 2)
    // the UNBUCKETED shape (one staged 0-row part) must also convert safely
    val root2 = tmp()
    val u = new StreamTable(root2, spark)
    u.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val inline2 = u.latestSnapshot.get.copy(
      manifestList = Seq.empty, deltaManifest = None)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root2, "_snapshots", s"snap-${inline2.id}.json"),
      mapper.writeValueAsBytes(inline2))
    val u2 = new StreamTable(root2, spark)
    u2.appendBatch(spark.emptyDataset[(Long, String)].toDF("id", "v"), 1L)
    assert(u2.latestSnapshot.get.manifestList.nonEmpty)
    assert(u2.read.count() == 2)
  }

  test("interval evidence: delta-served ≡ hydrated diff over a random history") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val root = tmp()
    val t = new StreamTable(root, spark, primaryKey = Some(Seq("id")),
      bucketKey = Some("id"), numBuckets = 2)
    var batch = 0L
    def someRows(n: Int) =
      (0 until n).map(_ => (rnd.nextInt(30).toLong, s"v${rnd.nextInt(999)}"))
        .toDF("id", "v").coalesce(1)
    // 24 random commits (appends, tombstone deletes, compactions, one
    // overwrite) — crosses the 16-entry manifest rebase boundary
    (0 until 24).foreach { i =>
      rnd.nextInt(5) match {
        case 0 | 1 | 2 =>
          t.appendBatch(someRows(1 + rnd.nextInt(3)), batch); batch += 1
        case 3 =>
          t.deleteBatch(Seq(Tuple1(rnd.nextInt(30).toLong)).toDF("id"), batch)
          batch += 1
        case 4 if i == 11 =>
          t.overwriteBatch(someRows(6), batch); batch += 1
        case _ => t.compact(2)
      }
    }
    // independent oracle: the pre-delta rule, diffing fully hydrated pairs
    def diffEvidence(byId: Map[Long, graft.table.Snapshot], from: Long, to: Long)
        : (Set[String], Set[String]) = {
      var prev = t.hydrated(byId(from))
      val added = Set.newBuilder[String]; val removedEv = Set.newBuilder[String]
      ((from + 1) to to).foreach { id =>
        val cur = t.hydrated(byId(id))
        val prevPaths = prev.files.map(_.path).toSet
        val curPaths = cur.files.map(_.path).toSet
        val addedAll = cur.files.filterNot(f => prevPaths(f.path))
        val removed = prev.files.filterNot(f => curPaths(f.path))
        added ++= addedAll.filter(_.level == 0).map(_.path)
        val isCompaction = cur.kind == "compact"
        if (!isCompaction && removed.nonEmpty) removedEv ++= removed.map(_.path)
        prev = cur
      }
      (added.result(), removedEv.result())
    }
    val heads = t.snapshotHeaders
    val byId = heads.map(s => s.id -> s).toMap
    val maxId = heads.last.id
    rnd.setSeed(7)
    val pairs = (0 until 12).map { _ =>
      val a = rnd.nextInt(maxId.toInt + 1).toLong
      val b = a + rnd.nextInt((maxId - a).toInt + 1)
      (a, b)
    } :+ (0L, maxId)
    pairs.foreach { case (from, to) =>
      val (a1, r1) = StreamTable.intervalEvidence(byId(_), t.deltaOf, t.hydrated,
        from, to)
      val (a2, r2) = diffEvidence(byId, from, to)
      assert(a1.map(_.path).toSet == a2, s"added evidence diverged on ($from, $to]")
      assert(r1.map(_.path).toSet == r2, s"removed evidence diverged on ($from, $to]")
      // the incremental end-state diff agrees with the hydrated one too
      val endDiff = {
        val oldPaths = t.hydrated(byId(from)).files.map(_.path).toSet
        t.hydrated(byId(to)).files.filterNot(f => oldPaths(f.path)).map(_.path).toSet
      }
      assert(t.addedBetween(from, to).map(_.path).toSet == endDiff,
        s"addedBetween diverged on ($from, $to]")
    }
  }

  test("$snapshots over a long history: one incremental fold, not per-snapshot") {
    import spark.implicits._
    val root = tmp()
    val t = new StreamTable(root, spark)
    (0 until 24).foreach { b => // crosses a manifest rebase (cap 16)
      t.appendBatch(Seq((b.toLong, s"v$b")).toDF("id", "v").coalesce(1),
        b.toLong)
    }
    t.compact(2)
    val fresh = new StreamTable(root, spark)
    val before = StreamTable.hydrateFolds.get()
    val view = fresh.snapshotsView.collect()
    val folds = StreamTable.hydrateFolds.get() - before
    assert(folds <= 1,
      s"the view must fold incrementally (≤1 full hydration), folded $folds")
    assert(view.length == 25) // 24 appends + 1 compaction
    // totals agree with full per-snapshot hydration (ids, counts, rows)
    val slow = fresh.snapshots.map(s =>
      (s.id, s.files.length.toLong, s.files.map(_.rowCount).sum))
    assert(view.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
      == slow, "incremental totals must equal hydrated totals")
  }

  test("legacy manifests without the bucket field still deserialize") {
    import spark.implicits._
    val root = tmp()
    val t = new StreamTable(root, spark, bucketKey = Some("id"), numBuckets = 2)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    // a bucketed write records its bucket ids
    assert(t.latestSnapshot.get.files.forall(_.bucket.isDefined))
    // simulate a pre-bucket-era manifest: strip the field from every
    // metadata JSON (snapshot + the delta manifests carrying file entries)
    import scala.jdk.CollectionConverters._
    Seq("_snapshots", "_manifests").foreach { d =>
      java.nio.file.Files.list(java.nio.file.Paths.get(root, d))
        .iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).foreach { p =>
          val legacy = new String(java.nio.file.Files.readAllBytes(p))
            .replaceAll(",?\\s*\"bucket\":\\s*\\d+", "")
          java.nio.file.Files.write(p, legacy.getBytes)
        }
    }
    val t2 = new StreamTable(root, spark, bucketKey = Some("id"), numBuckets = 2)
    // missing field → None (never 0 — 0 is a real bucket id), reads intact
    assert(t2.latestSnapshot.get.files.forall(_.bucket.isEmpty))
    assert(t2.read.count() == 2)
  }

  test("dynamic bucket mode: extendible doubling, LWW across the split") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
      bucketKey = Some("k"), numBuckets = -1,
      dynBucketTargetRows = 10L, dynBucketInitial = 1)
    assert(t.isDynamicBucket && t.currentBuckets == 1)
    // 40 keys into a 10-row target: the inline split fires and relabels
    t.appendBatch((1L to 40L).map(k => (k, k * 10)).toDF("k", "v"), 0L)
    val n1 = t.currentBuckets
    assert(n1 > 1 && Integer.bitCount(n1) == 1,
      s"expected a power-of-two split, got $n1")
    val head1 = t.latestSnapshot.get
    assert(head1.bucketCount.contains(n1) &&
      head1.files.forall(_.bucket.isDefined))
    // the labels really are the layout hash under the NEW count: every
    // file's recorded id matches pmod(murmur3(k), n1) of its own rows
    val byBucket = t.latestSnapshot.get.files.map(_.bucket.get).toSet
    assert(byBucket.forall(b => b >= 0 && b < n1))
    // an UPSERT whose old version predates the split resolves LWW — the
    // split relabeled the old generation, so versions co-locate
    t.appendBatch((1L to 20L).map(k => (k, k * 10 + 1)).toDF("k", "v"), 1L)
    val out = t.read.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 40 && out(5L) == 51L && out(30L) == 300L)
    // growth is monotone along the doubling chain and stamped per snapshot
    val n2 = t.currentBuckets
    assert(n2 >= n1 && n2 % n1 == 0)
    // time travel reads the pre-split generation under its own stamped count
    assert(t.readAt(0L).count() == 40)
    assert(t.bucketCountAt(Some(0L)).contains(1))
    assert(t.bucketCountAt(None).contains(n2))
    // under-target table never splits: the probe is a no-op
    val small = new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
      bucketKey = Some("k"), numBuckets = -1,
      dynBucketTargetRows = 1000L, dynBucketInitial = 2)
    small.appendBatch((1L to 40L).map(k => (k, k)).toDF("k", "v"), 0L)
    assert(small.currentBuckets == 2 && small.maybeSplitBuckets().isEmpty)
    // refusals: -1 without any key; a non-power-of-two initial count
    intercept[IllegalArgumentException](
      new StreamTable(tmp(), spark, numBuckets = -1))
    intercept[IllegalArgumentException](
      new StreamTable(tmp(), spark, primaryKey = Some(Seq("k")),
        bucketKey = Some("k"), numBuckets = -1, dynBucketInitial = 3))
  }
}

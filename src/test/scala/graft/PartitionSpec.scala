package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.table.StreamTable

/** PARTITIONED BY (identity) tables — table/StreamTable.scala writeClustered
  * + sources/v2 partitioning()/SupportsOverwrite: every batch-written file
  * is SINGLE-VALUED in each partition key (the split rides on dropped
  * copies, values stay in the payload), so partition pruning and static
  * `INSERT OVERWRITE … PARTITION (p = v)` are exact from manifest stats —
  * no new read path, no directory parsing. */
class PartitionSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def freshCatalog(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"v2_${tag}_wh_").toString
    val catName = s"graft_${tag}_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    (catName, wh)
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.v2.GraftScan]

  test("partitioned writes are single-valued per file; pruning is exact") {
    val (cat, wh) = freshCatalog("part")
    spark.sql(s"CREATE TABLE $cat.d.p (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.d.p " +
      "SELECT id, concat('s', id % 5), id * 1.5 FROM range(0, 1000)")
    val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/p")
    assert(t.partitionKeys.contains(Seq("seg")))
    val files = t.latestSnapshot.get.files
    assert(files.size >= 5, files.size.toString)
    files.foreach { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      assert(mins.get("seg").exists(maxs.get("seg").contains),
        s"file not single-valued in seg: ${f.path}")
    }
    // exact pruning: one partition's files and no others
    val one = spark.sql(s"SELECT id, x FROM $cat.d.p WHERE seg = 's3'")
    val desc = scanOf(one).description()
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    val s3Files = files.count { f =>
      val (mins, _) = StreamTable.skipStats(f)
      mins.get("seg").contains("s3")
    }
    assert(kept.toInt == s3Files && kept.toInt < total.toInt, desc)
    assert(one.count() == 200)
    // the partition columns live IN the files (never path-reconstructed):
    // a plain parquet read of one data file still carries seg
    assert(spark.read.parquet(files.head.path).columns.contains("seg"))
    // DESCRIBE surfaces the partitioning
    assert(spark.sql(s"DESCRIBE TABLE $cat.d.p").collect()
      .exists(_.getString(0).contains("Partitioning")) ||
      spark.table(s"$cat.d.p").schema.fieldNames.contains("seg"))
  }

  test("INSERT OVERWRITE PARTITION replaces exactly the named partition") {
    val (cat, wh) = freshCatalog("pow")
    spark.sql(s"CREATE TABLE $cat.d.o (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.d.o " +
      "SELECT id, concat('s', id % 4), 1.0 FROM range(0, 400)")
    val t0 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/o")
    def segOf(f: graft.table.DataFileMeta): String =
      StreamTable.skipStats(f)._1("seg")
    val before = t0.latestSnapshot.get.files
      .map(f => (f.path, segOf(f),
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path))))
    // replace s2 with 10 rows at x = -1
    spark.sql(s"INSERT OVERWRITE $cat.d.o PARTITION (seg = 's2') " +
      "SELECT id + 5000, -1.0 FROM range(0, 10)")
    val t1 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/o")
    val after = t1.latestSnapshot.get.files
    // every OTHER partition's file survived byte-identical
    val survivors = before.filterNot(_._2 == "s2")
    assert(survivors.forall { case (p, _, mtime) =>
      after.exists(_.path == p) &&
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == mtime
    }, "untouched partitions must survive verbatim")
    // s2's old files are gone from the live set
    assert(!after.map(_.path).exists(before.filter(_._2 == "s2").map(_._1).toSet))
    val got = spark.sql(s"SELECT seg, count(*) AS n, min(x) AS mn " +
      s"FROM $cat.d.o GROUP BY seg ORDER BY seg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("s0", 100L, 1.0), ("s1", 100L, 1.0),
      ("s2", 10L, -1.0), ("s3", 100L, 1.0)), got.mkString(", "))
    // pre-overwrite snapshot intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.o VERSION AS OF 0 " +
      "WHERE seg = 's2'").head().getLong(0) == 100L)
    // rows outside the named partition refuse loudly (the DataFrame door
    // can smuggle them; the SQL PARTITION clause injects the constant)
    val bad = intercept[Exception] {
      spark.range(5).selectExpr("id", "'s9' AS seg", "0.0 AS x")
        .writeTo(s"$cat.d.o").overwrite(
          org.apache.spark.sql.functions.col("seg") === "s1")
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(bad).exists(_.contains("outside the named partition")), bad.toString)
    // a non-partition-key overwrite filter refuses
    val bad2 = intercept[Exception] {
      spark.range(5).selectExpr("id", "'s1' AS seg", "0.0 AS x")
        .writeTo(s"$cat.d.o").overwrite(
          org.apache.spark.sql.functions.col("id") === 1L)
    }
    assert(msgs(bad2).exists(_.contains("not a partition key")), bad2.toString)
  }

  test("partitioned + bucketed tables compose; compaction keeps clustering") {
    val (cat, wh) = freshCatalog("pbk")
    spark.sql(s"CREATE TABLE $cat.d.b (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg) " +
      "TBLPROPERTIES ('bucket-key'='id', 'bucket'='2')")
    spark.sql(s"INSERT INTO $cat.d.b " +
      "SELECT id, concat('s', id % 3), id * 1.0 FROM range(0, 300)")
    val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/b")
    val files = t.latestSnapshot.get.files
    assert(files.forall(_.bucket.isDefined), "bucket labels must survive")
    files.foreach { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      assert(mins.get("seg").exists(maxs.get("seg").contains), f.path)
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.b WHERE seg = 's1'")
      .head().getLong(0) == 100L)
    // a compaction rewrite keeps the partition clustering (and with it the
    // exact-overwrite capability)
    t.compact(targetFileCount = 2)
    val t2 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/b")
    t2.latestSnapshot.get.files.foreach { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      assert(mins.get("seg").exists(maxs.get("seg").contains),
        s"compaction must keep partition clustering: ${f.path}")
    }
    spark.sql(s"INSERT OVERWRITE $cat.d.b PARTITION (seg = 's0') " +
      "SELECT 1, 9.9")
    assert(spark.sql(s"SELECT count(*), sum(x) FROM $cat.d.b WHERE seg = 's0'")
      .head() == org.apache.spark.sql.Row(1L, 9.9))
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.b").head().getLong(0) == 201L)
  }

  test("the null partition survives an overwrite of a value partition") {
    val (cat, wh) = freshCatalog("pnul")
    spark.sql(s"CREATE TABLE $cat.d.n (id BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.d.n " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE NULL END FROM range(0, 100)")
    spark.sql(s"INSERT OVERWRITE $cat.d.n PARTITION (seg = 'a') SELECT 999")
    val got = spark.sql(s"SELECT count(*), count(seg) FROM $cat.d.n").head()
    // 50 null-partition rows survived; the 'a' partition is now one row
    assert(got == org.apache.spark.sql.Row(51L, 1L), got.toString)
    assert(spark.sql(s"SELECT id FROM $cat.d.n WHERE seg = 'a'")
      .head().getLong(0) == 999L)
  }

  test("partition-aligned DELETE is a metadata-only file drop") {
    val (cat, wh) = freshCatalog("pdel")
    spark.sql(s"CREATE TABLE $cat.d.del (id BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.d.del " +
      "SELECT id, concat('s', id % 4) FROM range(0, 400)")
    val t0 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/del")
    val before = t0.latestSnapshot.get.files.map(f => (f.path,
      java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path))))
    // drop a whole partition: no data file is read or written — every
    // surviving file is byte-identical and no new file appears
    spark.sql(s"DELETE FROM $cat.d.del WHERE seg = 's1'")
    val t1 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/del")
    val after = t1.latestSnapshot.get.files
    assert(after.map(_.path).toSet.subsetOf(before.map(_._1).toSet),
      "a partition drop must add no files")
    assert(after.forall { f =>
      before.find(_._1 == f.path).exists(_._2 ==
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path)))
    }, "survivors must be byte-identical")
    assert(after.forall(_.dvCount.forall(_ == 0L)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.del").head().getLong(0) == 300L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.del WHERE seg = 's1'")
      .head().getLong(0) == 0L)
    // the dropped partition stays time-travelable
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.del VERSION AS OF 0 " +
      "WHERE seg = 's1'").head().getLong(0) == 100L)
    // a NON-partition-aligned delete still works (falls back to the exact
    // row-level path — here the DV route)
    spark.sql(s"DELETE FROM $cat.d.del WHERE id = 2")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.del").head().getLong(0) == 299L)
  }

  test("DML output mixing a partition value with NULLs never licenses " +
      "a metadata-only drop or overwrite") {
    import spark.implicits._
    val (cat, wh) = freshCatalog("pnul")
    spark.sql(s"CREATE TABLE $cat.d.n (id BIGINT, seg STRING) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.d.n VALUES (1, 's1'), (2, 's2'), (3, NULL)")
    val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/n")
    // simulate row-level-DML output (COW replacements / delta insert files
    // bypass writeClustered): ONE live file mixing seg='s1' rows with
    // seg=NULL rows — parquet min/max ignore nulls, so its stats read
    // min==max=='s1'
    val staging = java.nio.file.Files.createTempDirectory("pnul_stage_")
    Seq((10L, "s1"), (11L, null.asInstanceOf[String])).toDF("id", "seg")
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = java.nio.file.Files.list(staging).iterator()
    var staged: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) staged = p
    }
    t.commitDeltaDml(Map.empty, Seq(staged.toString), "MERGE")
    val mixed = t.latestSnapshot.get.files.filter(_.rowCount == 2L)
    assert(mixed.size == 1 && StreamTable.skipStats(mixed.head)
      ._1.get("seg").contains("s1"), "fixture must be a mixed stats=s1 file")
    // partition-aligned DELETE must NOT drop the mixed file metadata-only:
    // the exact row path runs and the NULL-partition row survives
    spark.sql(s"DELETE FROM $cat.d.n WHERE seg = 's1'")
    val ids = spark.sql(s"SELECT id FROM $cat.d.n ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(2L, 3L, 11L),
      s"NULL-partition rows must survive a seg='s1' delete: $ids")
    // INSERT OVERWRITE PARTITION over a mixed file refuses loudly instead
    // of silently removing the NULL rows
    spark.sql(s"INSERT INTO $cat.d.n VALUES (20, 's1')")
    val staging2 = java.nio.file.Files.createTempDirectory("pnul_stage2_")
    Seq((21L, "s1"), (22L, null.asInstanceOf[String])).toDF("id", "seg")
      .coalesce(1).write.mode("overwrite").parquet(staging2.toString)
    val it2 = java.nio.file.Files.list(staging2).iterator()
    var staged2: java.nio.file.Path = null
    while (it2.hasNext) {
      val p = it2.next()
      if (p.getFileName.toString.endsWith(".parquet")) staged2 = p
    }
    t.commitDeltaDml(Map.empty, Seq(staged2.toString), "MERGE")
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    val bad = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.d.n PARTITION (seg = 's1') " +
        "SELECT id + 100 FROM range(3)")
    }
    assert(msgs(bad).exists(_.contains("null-free")), bad.toString)
  }

  test("row-level DML output is partition-clustered: proofs survive UPDATE") {
    def singleValued(t: graft.table.StreamTable): Unit =
      t.latestSnapshot.get.files.foreach { f =>
        val (mins, maxs) = StreamTable.skipStats(f)
        val nulls = f.nullStats.flatMap(_.get("seg")).flatMap(_.toLongOption)
        assert(nulls.contains(0L) && mins.get("seg").exists(maxs.get("seg").contains) ||
          nulls.contains(f.rowCount),
          s"DML output must stay single-valued+null-proven in seg: ${f.path}")
      }
    for (mode <- Seq("cow", "dv")) {
      val (cat, wh) = freshCatalog(s"pdml$mode")
      spark.sql(s"CREATE TABLE $cat.d.m (id BIGINT, seg STRING, x DOUBLE) " +
        "PARTITIONED BY (seg) " +
        s"TBLPROPERTIES ('rowlevel.mode' = '$mode')")
      // 3 value partitions + the NULL partition
      spark.sql(s"INSERT INTO $cat.d.m SELECT id, " +
        "CASE WHEN id % 4 = 3 THEN NULL ELSE concat('s', id % 4) END, 1.0 " +
        "FROM range(0, 400)")
      // an UPDATE touching EVERY partition (incl. NULL) — pre-round the
      // replacement/image files mixed partitions and poisoned the proofs
      spark.sql(s"UPDATE $cat.d.m SET x = -1.0 WHERE id % 7 = 0")
      val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/m")
      singleValued(t)
      // every partition proof still works on the DML'd table:
      // the $partitions census folds (no refusal)...
      val census = spark.sql(s"SELECT partition, record_count FROM " +
        s"$cat.d.`m$$partitions` ORDER BY partition").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(census == Seq(("{__GRAFT_NULL__}", 100L), ("{s0}", 100L),
        ("{s1}", 100L), ("{s2}", 100L)), s"[$mode] $census")
      // ...the dynamic overwrite still proves its replaced set...
      spark.range(5).selectExpr("id + 900 AS id", "'s1' AS seg", "9.0 AS x")
        .writeTo(s"$cat.d.m").overwritePartitions()
      assert(spark.sql(s"SELECT count(*) FROM $cat.d.m WHERE seg = 's1'")
        .head().getLong(0) == 5L, s"[$mode]")
      // ...and the partition-aligned DELETE stays metadata-only-eligible
      // (it must not silently touch the NULL partition either way)
      spark.sql(s"DELETE FROM $cat.d.m WHERE seg = 's2'")
      val left = spark.sql(s"SELECT coalesce(seg, '<null>') AS s, count(*) " +
        s"FROM $cat.d.m GROUP BY 1 ORDER BY 1").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(left == Seq(("<null>", 100L), ("s0", 100L), ("s1", 5L)),
        s"[$mode] $left")
      singleValued(graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/m"))
    }
  }

  test("CTAS with PARTITIONED BY stages partition-clustered") {
    val (cat, wh) = freshCatalog("pct")
    spark.sql(s"CREATE TABLE $cat.d.c PARTITIONED BY (seg) AS " +
      "SELECT id, concat('s', id % 3) AS seg FROM range(0, 90)")
    val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/c")
    assert(t.partitionKeys.contains(Seq("seg")))
    t.latestSnapshot.get.files.foreach { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      assert(mins.get("seg").exists(maxs.get("seg").contains), f.path)
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.c WHERE seg = 's2'")
      .head().getLong(0) == 30L)
  }

  test("dynamic overwrite replaces exactly the staged partitions; NULL partition exact") {
    val (cat, wh) = freshCatalog("dyn")
    spark.sql(s"CREATE TABLE $cat.d.y (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg)")
    // 4 value partitions + the NULL partition
    spark.sql(s"INSERT INTO $cat.d.y SELECT id, " +
      "CASE WHEN id % 5 = 4 THEN NULL ELSE concat('s', id % 5) END, 1.0 " +
      "FROM range(0, 500)")
    def segOf(f: graft.table.DataFileMeta): Option[String] = {
      val nulls = f.nullStats.flatMap(_.get("seg")).flatMap(_.toLongOption)
      if (nulls.contains(f.rowCount)) None
      else StreamTable.skipStats(f)._1.get("seg")
    }
    val t0 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/y")
    val before = t0.latestSnapshot.get.files.map(f => (f.path, segOf(f),
      java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path))))
    assert(before.exists(_._2.isEmpty), "the NULL partition must have a file")
    // ONE statement rewrites s1 and s3 (rows define the replaced set)
    spark.range(20).selectExpr("id + 9000 AS id",
      "concat('s', 1 + 2 * (id % 2)) AS seg", "-1.0 AS x")
      .writeTo(s"$cat.d.y").overwritePartitions()
    val t1 = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/y")
    val after = t1.latestSnapshot.get.files
    // untouched partitions (s0, s2, NULL) survive byte-identical
    val untouched = before.filterNot(b => b._2.contains("s1") || b._2.contains("s3"))
    assert(untouched.nonEmpty)
    assert(untouched.forall { case (p, _, mtime) =>
      after.exists(_.path == p) &&
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == mtime
    }, "untouched partitions must survive verbatim")
    // replaced partitions' old files left the live set
    val replaced = before.filter(b => b._2.contains("s1") || b._2.contains("s3"))
      .map(_._1).toSet
    assert(replaced.nonEmpty && !after.map(_.path).exists(replaced))
    val got = spark.sql(s"SELECT coalesce(seg, '<null>') AS seg, " +
      s"count(*) AS n, min(x) AS mn FROM $cat.d.y GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("<null>", 100L, 1.0), ("s0", 100L, 1.0),
      ("s1", 10L, -1.0), ("s2", 100L, 1.0), ("s3", 10L, -1.0)),
      got.mkString(", "))
    // the NULL partition is itself dynamically replaceable: staged NULL rows
    // swap exactly the NULL partition's files
    spark.range(7).selectExpr("id + 9900 AS id",
      "CAST(NULL AS STRING) AS seg", "-2.0 AS x")
      .writeTo(s"$cat.d.y").overwritePartitions()
    val counts = spark.sql(s"SELECT coalesce(seg, '<null>') AS seg, " +
      s"count(*) AS n FROM $cat.d.y GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(counts.toSeq == Seq(("<null>", 7L), ("s0", 100L), ("s1", 10L),
      ("s2", 100L), ("s3", 10L)), counts.mkString(", "))
    // both dynamic snapshots are "overwrite" commits; time travel intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.y VERSION AS OF 0")
      .head().getLong(0) == 500L)
  }

  test("streamed partitioned sink: single-valued files, exact pruning, overwrite works") {
    import org.apache.spark.sql.streaming.Trigger
    // fresh partitioned table + its own stream (never the shared registry
    // staging — this test OVERWRITES a partition at the end)
    val (cat, wh) = freshCatalog("psk")
    spark.sql(s"CREATE TABLE $cat.d.sk (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg)")
    val dst = s"$wh/d.db/sk"
    val srcRoot = java.nio.file.Files.createTempDirectory("psk_src_").toString
    val src = new StreamTable(srcRoot, spark)
    src.appendBatch(spark.range(0, 500)
      .selectExpr("id", "concat('s', id % 5) AS seg", "CAST(id AS DOUBLE) AS x"), 0L)
    val q = spark.readStream.format("graft").load(srcRoot)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", s"$dst/_chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t = graft.table.GraftCatalog.openPath(spark, dst)
    assert(t.partitionKeys.contains(Seq("seg")))
    val files = t.latestSnapshot.get.files
    assert(files.size >= 5, s"expected ≥1 file per segment, got ${files.size}")
    files.foreach { f =>
      val (mins, maxs) = StreamTable.skipStats(f)
      assert(mins.get("seg").exists(maxs.get("seg").contains),
        s"sink file not single-valued in the partition key: ${f.path}")
      val nulls = f.nullStats.flatMap(_.get("seg")).flatMap(_.toLongOption)
      assert(nulls.contains(0L), s"sink file lost the null-count proof: ${f.path}")
    }
    // partition predicate prunes file-exactly on the SINK-FED table
    val one = spark.read.format("graft").load(dst)
      .where(org.apache.spark.sql.functions.col("seg") === "s3")
    val desc = scanOf(one).description()
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    val s3Files = files.count(f =>
      StreamTable.skipStats(f)._1.get("seg").contains("s3"))
    assert(kept.toInt == s3Files && kept.toInt < total.toInt, desc)
    assert(one.count() == 100L)
    // a partition overwrite works on the sink-fed table (the proofs held):
    // dynamically replace s3, every other sink file byte-identical
    val beforeOther = files.filterNot(f =>
      StreamTable.skipStats(f)._1.get("seg").contains("s3"))
      .map(_.path).toSet
    spark.range(3).selectExpr("id + 8000 AS id", "'s3' AS seg", "0.0 AS x")
      .writeTo(s"$cat.d.sk").overwritePartitions()
    val t2 = graft.table.GraftCatalog.openPath(spark, dst)
    val after = t2.latestSnapshot.get.files.map(_.path).toSet
    assert(beforeOther.subsetOf(after), "non-s3 sink files must survive")
    assert(spark.read.format("graft").load(dst)
      .where(org.apache.spark.sql.functions.col("seg") === "s3")
      .count() == 3L)
    // static PARTITION overwrite also lands on the sink-fed layout
    spark.sql(s"INSERT OVERWRITE $cat.d.sk PARTITION (seg = 's1') " +
      "SELECT id + 8100, -1.0 FROM range(0, 4)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d.sk WHERE seg = 's1'")
      .head().getLong(0) == 4L)
  }

  test("overwritePartitions() on an UNPARTITIONED table = atomic truncate-overwrite " +
      "(Paimon's posture; Spark's dynamic-overwrite exec has no V1 fallback)") {
    val (cat, wh) = freshCatalog("pdyn0")
    spark.sql(s"CREATE TABLE $cat.d.u (id BIGINT, x DOUBLE)")
    spark.sql(s"INSERT INTO $cat.d.u SELECT id, 1.0 FROM range(0, 100)")
    val t = graft.table.GraftCatalog.openPath(spark, s"$wh/d.db/u")
    val snapBefore = t.latestSnapshot.get.id
    // the staged rows are "the whole table": one atomic swap
    spark.range(5).selectExpr("id + 500 AS id", "2.0 AS x")
      .writeTo(s"$cat.d.u").overwritePartitions()
    assert(spark.sql(s"SELECT count(*), min(id), max(id) FROM $cat.d.u")
      .head().toSeq == Seq(5L, 500L, 504L))
    // exactly one commit; the pre-overwrite snapshot stays time-travelable
    assert(t.latestSnapshot.get.id == snapBefore + 1)
    assert(t.readAt(snapBefore).count() == 100L)
  }
}

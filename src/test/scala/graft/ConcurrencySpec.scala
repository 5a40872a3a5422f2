package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.table.StreamTable
import org.scalatest.funsuite.AnyFunSuite

/** The hardest invariant (SURVEY.md §7): exactly-once commits under a
  * CONCURRENT streaming writer and compactor. The manifest's atomic-rename +
  * optimistic-retry commit must never lose an append or double-count rows,
  * regardless of interleaving. */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("concurrent appender + compactor: no lost rows, consistent manifests") {
    val t = new StreamTable(Files.createTempDirectory("graft_conc_").toString, spark)
    val nBatches = 12
    val rowsPerBatch = 50
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    @volatile var writerErr: Throwable = null
    @volatile var compactorErr: Throwable = null

    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (b <- 0 until nBatches) {
            val df = spark.range(b * rowsPerBatch, (b + 1) * rowsPerBatch).toDF("id")
            t.appendBatch(df, b.toLong)
          }
        } catch { case e: Throwable => writerErr = e }
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (_ <- 0 until 5) {
            Thread.sleep(150)
            t.compact(targetFileCount = 2)
          }
        } catch { case e: Throwable => compactorErr = e }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "threads did not finish")
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(compactorErr == null, s"compactor failed: $compactorErr")

    // every appended row present exactly once, under any interleaving
    val got = t.read.orderBy("id").collect().map(_.getLong(0))
    assert(got.length == nBatches * rowsPerBatch,
      s"expected ${nBatches * rowsPerBatch} rows, got ${got.length}")
    assert(got.toSeq == (0L until (nBatches * rowsPerBatch).toLong))
    // snapshot ids are a contiguous sequence (no torn commits)
    val ids = t.snapshots.map(_.id)
    assert(ids == (ids.min to ids.max))
  }

  test("changelog producer + concurrent compactor: per-commit changelog stays correct") {
    // the producer computes each commit's diff against the CURRENT resolved
    // state; an interleaved compaction never changes that state, so the
    // concatenated per-commit changelogs must replay to the final table no
    // matter which snapshots the compactor rewrote mid-stream
    import org.apache.spark.sql.functions._
    val t = new StreamTable(Files.createTempDirectory("graft_conc_cl_").toString,
      spark, primaryKey = Some(Seq("id")), bucketKey = Some("id"), numBuckets = 2,
      changelogProducer = true)
    val nBatches = 10
    val keys = 15L
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    @volatile var writerErr: Throwable = null
    @volatile var compactorErr: Throwable = null
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (b <- 0 until nBatches) {
            val df = spark.range(keys).select(col("id"),
              concat(lit(s"b$b-"), col("id")).as("v"))
              .where(col("id") % (b % 3 + 1) === 0)
            t.appendBatch(df, b.toLong)
          }
        } catch { case e: Throwable => writerErr = e }
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (_ <- 0 until 4) {
            Thread.sleep(120)
            t.compact(targetFileCount = 2)
          }
        } catch { case e: Throwable => compactorErr = e }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "threads did not finish")
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(compactorErr == null, s"compactor failed: $compactorErr")
    // every logical commit produced; compaction commits produced-empty
    assert(t.snapshots.forall(_.clogProduced))
    // replay = the catch-up image (snapshot 0's resolved state — its
    // changelog is skipped as unreachable) + the concatenated changelog in
    // commit order: the final image per key must equal the resolved view
    val clog = t.snapshots.flatMap(_.changelog).sortBy(_.minSeq)
    assert(clog.nonEmpty)
    val replayed = scala.collection.mutable.Map[Long, String]()
    t.readAt(0L).collect().foreach(r =>
      replayed(r.getAs[Long]("id")) = r.getAs[String]("v"))
    clog.foreach { f =>
      spark.read.parquet(f.path).orderBy("op") // -D/-U before +I/+U per commit
        .collect().foreach { r =>
          val id = r.getAs[Long]("id")
          r.getAs[String]("op") match {
            case "+I" | "+U" => replayed(id) = r.getAs[String]("v")
            case "-D"        => replayed.remove(id)
            case "-U"        => () // retraction of the pre-commit image
          }
        }
    }
    val table = t.read.orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(replayed.toMap == table,
      s"replayed=${replayed.toMap.toSeq.sorted} table=${table.toSeq.sorted}")
  }

  test("concurrent partial-update appender + compactor: per-field winners survive races") {
    // the compactor's pre-merged rows (carrying __graft_fseq_* provenance)
    // race fresh partial appends; the final read must equal the sequential
    // per-field fold no matter which snapshots the compactor rewrote
    val t = new StreamTable(Files.createTempDirectory("graft_conc_pu_").toString,
      spark, primaryKey = Some(Seq("id")), seqCol = Some("seq"),
      mergeEngine = "partial-update")
    val nBatches = 10
    val keys = 20L
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    @volatile var writerErr: Throwable = null
    @volatile var compactorErr: Throwable = null
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (b <- 0 until nBatches) {
            // even batches set a (b as seq), odd batches set c — per key,
            // the final a is from the last even batch, c from the last odd
            val df = spark.range(0, keys).toDF("id")
              .select(org.apache.spark.sql.functions.col("id"),
                org.apache.spark.sql.functions.lit(b.toLong).as("seq"),
                (if (b % 2 == 0) org.apache.spark.sql.functions.concat(
                    org.apache.spark.sql.functions.lit(s"a$b-"),
                    org.apache.spark.sql.functions.col("id"))
                 else org.apache.spark.sql.functions.lit(null).cast("string")).as("a"),
                (if (b % 2 == 1) org.apache.spark.sql.functions.col("id") * b
                 else org.apache.spark.sql.functions.lit(null).cast("long")).as("c"))
            t.appendBatch(df, b.toLong)
          }
        } catch { case e: Throwable => writerErr = e }
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          for (_ <- 0 until 4) { Thread.sleep(120); t.compact(targetFileCount = 1) }
        } catch { case e: Throwable => compactorErr = e }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "threads did not finish")
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(compactorErr == null, s"compactor failed: $compactorErr")
    val lastEven = ((nBatches - 1) / 2) * 2       // 8
    val lastOdd = ((nBatches - 2) / 2) * 2 + 1    // 9
    val got = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(got.length == keys)
    for ((id, a, c) <- got) {
      assert(a == s"a$lastEven-$id", s"key $id a=$a")
      assert(c == id * lastOdd, s"key $id c=$c")
    }
  }

  test("committer shim: lost races and duplicate publishes converge, no lost or doubled rows") {
    import graft.table.{PosixLinkCommitter, SnapshotCommitter}
    val root = Files.createTempDirectory("graft_cas_").toString
    val t = new StreamTable(root, spark)

    // Injection shim over the POSIX CAS:
    //  - `loseRaces` remaining > 0: before delegating, publish a COMPETING
    //    committer's snapshot at the same target (the lost-race shape) —
    //    the delegate then correctly returns false and the retry loop must
    //    re-read the competitor's state and commit ABOVE it;
    //  - `dropAcks` remaining > 0: delegate (the publish genuinely lands)
    //    but report false — the retried-conditional-put-with-lost-response
    //    shape; the retry recomputes against our own now-visible snapshot
    //    and must not duplicate rows.
    val shim = new SnapshotCommitter {
      @volatile var loseRaces = 1
      @volatile var dropAcks = 1
      var competitorContent: Array[Byte] = null
      override def publish(target: java.nio.file.Path,
          content: Array[Byte]): Boolean = {
        if (loseRaces > 0) {
          loseRaces -= 1
          require(PosixLinkCommitter.publish(target, competitorContent),
            "injector: competitor publish must land first")
        }
        val landed = PosixLinkCommitter.publish(target, content)
        if (landed && dropAcks > 0) { dropAcks -= 1; false } // lost response
        else landed
      }
    }

    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), 0L)
    val snap0 = t.latestSnapshot.get
    // competitor state: what a concurrent writer racing us WOULD publish —
    // a commit based on snapshot 0 adding its own file (produced on a twin
    // table, its delta manifest spliced into our manifest dir)
    val twinRoot = Files.createTempDirectory("graft_cas_twin_").toString
    val twin = new StreamTable(twinRoot, spark)
    twin.appendBatch(Seq((100L, "x")).toDF("id", "v").coalesce(1), 0L)
    val mfName = twin.latestSnapshot.get.manifestList.head
    Files.copy(java.nio.file.Paths.get(twinRoot, "_manifests", mfName),
      java.nio.file.Paths.get(root, "_manifests", mfName))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    shim.competitorContent = mapper.writeValueAsBytes(snap0.copy(
      id = 1L, batchId = 1L, files = Seq.empty,
      manifestList = snap0.manifestList :+ mfName,
      deltaManifest = Some(mfName), kind = "append"))

    t.committer = shim
    try {
      // one appendBatch rides through BOTH injections: first attempt loses
      // the race to the competitor (id 1), the retry's publish at id 2
      // lands but the ack drops, the third attempt sees its own snapshot
      // and must converge without re-appending
      t.appendBatch(Seq((3L, "c")).toDF("id", "v").coalesce(1), 2L)
    } finally t.committer = PosixLinkCommitter
    assert(shim.loseRaces == 0 && shim.dropAcks == 0, "both injections fired")

    val reread = new StreamTable(root, spark)
    // every commit survived: ours (1,2), the competitor's (100), the
    // post-race append (3) — exactly once each
    assert(reread.read.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (100L, "x")),
      "lost-race retry must commit above the competitor, duplicate publish must not double rows")
    // the duplicate-publish retry's snapshot exists and is a pure
    // replacement (no new level-0 evidence → nothing re-delivered)
    val head = reread.latestSnapshot.get
    assert(reread.addedBetween(head.id - 1, head.id).isEmpty,
      "the post-ack-loss commit must classify as an in-place replacement")
  }

  test("commitReplace: concurrent appends survive; concurrent maintenance fails loudly") {
    import spark.implicits._
    import graft.table.StreamTable
    val root = java.nio.file.Files.createTempDirectory("graft_crpl_").toString
    val t = new StreamTable(root, spark)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val before = t.latestSnapshot.get.files.map(_.path)

    // stage a replacement file the way the row-level write does
    def stage(rows: Seq[(Long, String)]): String = {
      val p = s"$root/.staged-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val one = java.nio.file.Files.createTempDirectory("crpl_one_")
      rows.toDF("id", "v").repartition(1).write.mode("overwrite").parquet(one.toString)
      val part = StreamTable.listDir(one).find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(p))
      p
    }

    // a file appended AFTER the scan snapshot survives the swap untouched
    t.appendBatch(Seq((9L, "z")).toDF("id", "v"), 1L)
    t.commitReplace(before.toSet, Seq(stage(Seq((1L, "A"), (2L, "B")))), "UPDATE")
    assert(t.read.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "A"), (2L, "B"), (9L, "z")))

    // replacing files that are no longer live = concurrent maintenance: refuse
    val e = intercept[IllegalArgumentException] {
      t.commitReplace(before.toSet, Seq(stage(Seq((1L, "X"), (2L, "X")))), "UPDATE")
    }
    assert(e.getMessage.contains("not live"), e.getMessage)

    // UPDATE row-conservation: a replacement that drops rows is refused
    val liveNow = t.latestSnapshot.get.files.map(_.path).toSet
    val e2 = intercept[IllegalArgumentException] {
      t.commitReplace(liveNow, Seq(stage(Seq((1L, "only")))), "UPDATE")
    }
    assert(e2.getMessage.contains("conserve"), e2.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("partition overwrite: a racing append survives; stale drops refuse") {
    import spark.implicits._
    import graft.table.StreamTable
    val root = java.nio.file.Files.createTempDirectory("graft_powc_").toString
    val t = new StreamTable(root, spark, partitionKeys = Some(Seq("seg")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "seg"), 0L)
    def segOf(f: graft.table.DataFileMeta): Option[String] =
      StreamTable.skipStats(f)._1.get("seg")
    // a concurrent append lands BETWEEN the overwrite's staging and its
    // commit: the CAS retry re-evaluates removedOf against the fresh live
    // set, so the racer's rows (another partition) survive the swap
    var injected = false
    t.commitPartitionOverwrite(
      Seq((10L, "a"), (11L, "a")).toDF("id", "seg"),
      removedOf = { live =>
        if (!injected) {
          injected = true
          t.appendBatch(Seq((3L, "b")).toDF("id", "seg"), 1L)
        }
        live.filter(f => segOf(f).contains("a"))
      },
      validateStaged = _ => (),
      batchId = 2L)
    assert(t.read.as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "b"), (10L, "a"), (11L, "a")))
    // a metadata-only drop of files another job already rewrote refuses
    val old = t.latestSnapshot.get.files.map(_.path)
    t.compact(targetFileCount = 1)
    val e3 = intercept[IllegalArgumentException] {
      t.dropFiles(old.toSet)
    }
    assert(e3.getMessage.contains("not live"), e3.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("dynamic overwrite CAS retry: untouched-partition racer survives, " +
      "touched-partition racer is replaced (overwrite wins its partitions)") {
    import spark.implicits._
    import graft.table.StreamTable
    val root = java.nio.file.Files.createTempDirectory("graft_dynrc_").toString
    val t = new StreamTable(root, spark, partitionKeys = Some(Seq("seg")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "seg"), 0L)
    val conf = new org.apache.hadoop.conf.Configuration()
    def segOf(f: graft.table.DataFileMeta): Option[String] =
      StreamTable.skipStats(f)._1.get("seg")
    // an externally-staged replacement for partition 'a' (the dynamic
    // BatchWrite's shape: parquet + task-captured stats, stamped rows)
    def stageFile(rows: Seq[(Long, String)], seq: Long): StreamTable.StagedSinkFile = {
      val dir = java.nio.file.Files.createTempDirectory("dynrc_stage_")
      rows.toDF("id", "seg")
        .withColumn(StreamTable.SeqColName, org.apache.spark.sql.functions.lit(seq))
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val part = java.nio.file.Files.list(dir).iterator()
      var p: java.nio.file.Path = null
      while (part.hasNext) {
        val c = part.next()
        if (c.getFileName.toString.endsWith(".parquet")) p = c
      }
      val target = java.nio.file.Paths.get(root,
        s".sink-dynrc-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
      java.nio.file.Files.move(p, target)
      StreamTable.StagedSinkFile(target.toString, None, sorted = false,
        StreamTable.footerColumnStats(target.toString, conf))
    }
    // two racers land between planning and commit: one into partition 'b'
    // (untouched — must survive the swap verbatim) and one into 'a' (the
    // partition being replaced — the overwrite declares "a := staged rows",
    // so last-committer-wins removes it, exactly the static-overwrite and
    // overwriteBatch posture)
    var injected = false
    t.commitExternalPartitionOverwrite(
      Seq(stageFile(Seq((10L, "a"), (11L, "a")), seq = 3L)),
      removedOf = { live =>
        if (!injected) {
          injected = true
          t.appendBatch(Seq((3L, "b")).toDF("id", "seg"), 1L)
          t.appendBatch(Seq((4L, "a")).toDF("id", "seg"), 2L)
        }
        live.filter(f => segOf(f).contains("a"))
      },
      validateStaged = _ => (),
      batchId = 3L)
    assert(t.read.select("id", "seg").as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "b"), (10L, "a"), (11L, "a")),
      "untouched-partition racer must survive; touched-partition racer is replaced")

    // a racer that claims the overwrite's batch sequence (or a later one)
    // during the write job is a genuine CONFLICT, not a streaming replay:
    // the overwrite must FAIL LOUDLY (silently skipping would report
    // success to Spark while dropping the staged rows — data loss) and
    // clean up its staged files
    val filesBefore = t.latestSnapshot.get.files.map(_.path).toSet
    var injected2 = false
    val e = intercept[java.util.ConcurrentModificationException] {
      t.commitExternalPartitionOverwrite(
        Seq(stageFile(Seq((20L, "a")), seq = 4L)),
        removedOf = { live =>
          if (!injected2) {
            injected2 = true
            // the racer claims batchId 9 >= the overwrite's 4
            t.appendBatch(Seq((5L, "b")).toDF("id", "seg"), 9L)
          }
          live.filter(f => segOf(f).contains("a"))
        },
        validateStaged = _ => (),
        batchId = 4L)
    }
    assert(e.getMessage.contains("rerun the overwrite"), e.getMessage)
    val filesAfter = t.latestSnapshot.get.files.map(_.path).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "the conflicting overwrite must not have removed anything")
    // the failed overwrite's rows are NOT in the table; the racer's are
    assert(t.read.select("id", "seg").as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "b"), (5L, "b"), (10L, "a"), (11L, "a")))
    // staged files were cleaned up (no orphan dynow files beyond the live set)
    val orphanDyn = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "data", "append")).iterator()
    var leaked = List.empty[String]
    while (orphanDyn.hasNext) {
      val p = orphanDyn.next().toString
      if (p.contains("dynow4-") && !filesAfter.contains(p)) leaked ::= p
    }
    assert(leaked.isEmpty, s"failed overwrite leaked staged files: $leaked")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }
}

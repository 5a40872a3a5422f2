package graft

import java.nio.file.Files

import graft.table.{GraftSql, StreamTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 table-maintenance surfaces: consumer-id protected incremental
  * reads, snapshot rollback, the `$options`/`$consumers`/`$audit_log`
  * metadata tables, and the `CALL sys.<procedure>` shell — the SQL face of
  * the maintenance actions the reference drives from the Flink shell
  * (tutorial/guide.md:172-177 compact, :180-184 retention). */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_maint_").toString

  // ---- consumers ---------------------------------------------------------

  test("consumer lifecycle: register, consume from scratch, advance, catch up") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    t.registerConsumer("etl")
    val (df0, next0) = t.consume("etl").get
    assert(df0.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1),
      r.getAs[String]("op"))).toSeq == Seq((1L, "a", "+I"), (2L, "b", "+I")))
    assert(next0 == 1L)
    t.advanceConsumer("etl", next0)
    // caught up: nothing to consume
    assert(t.consume("etl").isEmpty)
    // a new commit becomes the next increment, exactly once
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), 1)
    val (df1, next1) = t.consume("etl").get
    assert(df1.collect().map(r => (r.getLong(0), r.getAs[String]("op"))).toSeq ==
      Seq((3L, "c")).map(x => (x._1, "+I")))
    t.advanceConsumer("etl", next1)
    assert(t.consume("etl").isEmpty)
  }

  test("consumer progress is monotonic; reset goes through registerConsumer") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0)
    t.registerConsumer("c1", nextSnapshotId = 1)
    intercept[IllegalArgumentException] { t.advanceConsumer("c1", 0) }
    intercept[IllegalArgumentException] { t.advanceConsumer("missing", 1) }
    t.registerConsumer("c1", nextSnapshotId = 0) // deliberate reset
    assert(t.consumers == Seq("c1" -> 0L))
    assert(t.deleteConsumer("c1") && t.consumers.isEmpty)
  }

  test("consumer on a PK table sees +I/+U/-D increments") {
    val t = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("seq"))
    t.appendBatch(Seq((1L, 10L, "x1"), (2L, 10L, "y1")).toDF("id", "seq", "v"), 0)
    t.registerConsumer("cdc")
    val (df0, n0) = t.consume("cdc").get
    assert(df0.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("+I"))
    t.advanceConsumer("cdc", n0)
    t.appendBatch(Seq((1L, 20L, "x2"), (3L, 20L, "z1")).toDF("id", "seq", "v"), 1)
    t.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 2)
    val (df1, n1) = t.consume("cdc").get
    val ops = df1.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("op"))).toSeq
    assert(ops == Seq((1L, "+U"), (2L, "-D"), (3L, "+I")), ops.toString)
    t.advanceConsumer("cdc", n1)
    assert(t.consume("cdc").isEmpty)
  }

  test("a registered consumer is a retention root: its snapshots never expire") {
    val t = new StreamTable(tmp(), spark)
    (0 to 4).foreach(i => t.appendBatch(Seq((i.toLong, s"v$i")).toDF("id", "v"), i))
    t.registerConsumer("slow", nextSnapshotId = 2) // still needs snap 1 (diff base)
    val expired = t.expireSnapshots(numRetainedMin = 1, numRetainedMax = 1,
      timeRetainedMs = 0)
    // snaps 0 is expirable; 1..4 are protected (consumer floor = 1)
    assert(t.snapshots.map(_.id) == Seq(1L, 2L, 3L, 4L), t.snapshots.map(_.id).toString)
    assert(expired == 1)
    // the consumer can still compute its pending increments after expiry
    val (df, next) = t.consume("slow").get
    assert(df.count() == 3) // rows from snaps 2, 3, 4
    assert(next == 5L)
    // without the consumer, the same policy would have expired everything but the head
    t.deleteConsumer("slow")
    t.expireSnapshots(1, 1, 0)
    assert(t.snapshots.map(_.id) == Seq(4L))
  }

  test("changelog stream with consumer-id: expiry cannot outrun the CDC reader") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = java.nio.file.Files.createTempDirectory("cdc_cons_wh_").toString
    val gc = new graft.table.GraftCatalog(spark, wh)
    val t = gc.createTable("db", "cdc_cons",
      Map("primary-key" -> "id", "bucket" -> "2"))
    val root = s"$wh/db.db/cdc_cons"
    val chk = java.nio.file.Files.createTempDirectory("cdc_cons_chk_").toString
    def drain(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      val q = spark.readStream.format("graft")
        .option("read-changelog", "true").option("consumer-id", "cdc")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n.addAndGet(df.count()); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      n.get()
    }
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0)
    assert(drain() == 2) // +I catch-up; registration is immediate
    assert(t.consumers == Seq("cdc" -> 0L), t.consumers.toString)
    (1 to 4).foreach(i =>
      t.appendBatch(Seq((1L, s"u$i")).toDF("id", "v"), i.toLong))
    // an aggressive policy may NOT expire what the CDC interval (0, 4]
    // still needs: the consumer floor pins the stream's position
    t.expireSnapshots(numRetainedMin = 1, numRetainedMax = 1, timeRetainedMs = 0)
    assert(t.snapshots.map(_.id) == (0L to 4L), t.snapshots.map(_.id).toString)
    // the interval still nets correctly after the (no-op) expiry
    assert(drain() == 2) // -U a, +U u4
    // commit() is post-checkpoint (the position trails one trigger): the
    // first drain's offset is now committed, the second's commits at the
    // NEXT run — retention keeps exactly that margin
    assert(t.consumers == Seq("cdc" -> 1L), t.consumers.toString)
    t.expireSnapshots(1, 1, 0)
    assert(t.snapshots.map(_.id) == (0L to 4L), t.snapshots.map(_.id).toString)
    // the next trigger (new commit → new batch) commits the prior one,
    // letting retention release everything before the committed position
    t.appendBatch(Seq((2L, "B")).toDF("id", "v"), 5L)
    assert(drain() == 2) // -U b, +U B
    assert(t.consumers == Seq("cdc" -> 5L), t.consumers.toString)
    t.expireSnapshots(1, 1, 0)
    assert(t.snapshots.map(_.id) == Seq(4L, 5L), t.snapshots.map(_.id).toString)
  }

  // ---- rollback ----------------------------------------------------------

  test("rollbackTo restores an earlier snapshot and deletes orphaned files") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0)
    t.appendBatch(Seq((2L, "b")).toDF("id", "v"), 1)
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), 2)
    val doomed = t.latestSnapshot.get.files.map(_.path).toSet --
      t.snapshots.find(_.id == 0).get.files.map(_.path).toSet
    val head = t.rollbackTo(0)
    assert(head.id == 0)
    assert(t.snapshots.map(_.id) == Seq(0L))
    assert(t.read.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(doomed.nonEmpty && doomed.forall(p => !Files.exists(java.nio.file.Paths.get(p))),
      "files only the rolled-back snapshots referenced are vacuumed")
    // the table keeps working after rollback: ids/batches continue from the head
    t.appendBatch(Seq((9L, "z")).toDF("id", "v"), 1)
    assert(t.latestSnapshot.get.id == 1 && t.read.count() == 2)
  }

  test("rollback refuses to cross a newer tag; rollbackToTag lands on the tag") {
    val t = new StreamTable(tmp(), spark)
    t.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0)
    t.createTag("keep", Some(0))
    t.appendBatch(Seq((2L, "b")).toDF("id", "v"), 1)
    t.createTag("newer", Some(1))
    t.appendBatch(Seq((3L, "c")).toDF("id", "v"), 2)
    val e = intercept[IllegalArgumentException] { t.rollbackTo(0) }
    assert(e.getMessage.contains("newer"))
    t.deleteTag("newer")
    t.registerConsumer("ahead", nextSnapshotId = 3)
    assert(t.rollbackToTag("keep").id == 0)
    assert(t.readTag("keep").count() == 1)
    // a consumer past the new head is clamped back to it
    assert(t.consumers == Seq("ahead" -> 1L))
  }

  // ---- metadata tables + CALL procedures through the shell ---------------

  test("$options / $consumers / $audit_log metadata tables through GraftSql") {
    val sh = new GraftSql(spark, Files.createTempDirectory("graft_sql_m_").toString)
    sh.sql("CREATE TABLE opts_t (id BIGINT, v STRING) WITH " +
      "('bucket' = '2', 'bucket-key' = 'id', 'file.format' = 'parquet')")
    sh.sql("INSERT INTO opts_t SELECT 1, 'a' UNION ALL SELECT 2, 'b'")
    val opts = sh.sql("SELECT key, value FROM opts_t$options ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(opts("bucket") == "2" && opts("bucket-key") == "id")
    val audit = sh.sql(
      "SELECT rowkind, id FROM opts_t$audit_log ORDER BY id").collect()
    assert(audit.map(_.getString(0)).toSeq == Seq("+I", "+I"))
    assert(sh.sql("SELECT * FROM opts_t$consumers").collect().isEmpty)
    sh.catalog.getTable("default", "opts_t").registerConsumer("shell-c", 1)
    val cons = sh.sql(
      "SELECT consumer_id, next_snapshot_id FROM opts_t$consumers").collect()
    assert(cons.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("shell-c", 1L)))
  }

  test("ALTER TABLE DROP/RENAME COLUMN: metadata-only evolution, no rewrite") {
    val sh = new GraftSql(spark, Files.createTempDirectory("graft_sql_ev_").toString)
    sh.sql("CREATE TABLE ev_t (id BIGINT, v STRING, note STRING) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO ev_t SELECT 1, 'a', 'n1'")
    val filesBefore = sh.sql("SELECT count(*) AS n FROM ev_t$files")
      .collect().head.getLong(0)
    // DROP: the column leaves SELECT * and DESCRIBE; data files untouched
    sh.sql("ALTER TABLE ev_t DROP COLUMN note")
    assert(sh.sql("SELECT * FROM ev_t").columns.toSeq == Seq("id", "v"))
    assert(!sh.sql("DESCRIBE ev_t").collect().map(_.getString(0)).contains("note"))
    // RENAME: old rows serve the new name; new INSERTs land uniformly
    sh.sql("ALTER TABLE ev_t RENAME COLUMN v TO label")
    assert(sh.sql("SELECT label FROM ev_t WHERE id = 1").collect()
      .head.getString(0) == "a")
    sh.sql("INSERT INTO ev_t SELECT 2, 'b'")
    val got = sh.sql("SELECT id, label FROM ev_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
    // rename chains: a second rename still maps to the original file column
    sh.sql("ALTER TABLE ev_t RENAME COLUMN label TO tag")
    assert(sh.sql("SELECT id, tag FROM ev_t ORDER BY id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(sh.sql("DESCRIBE ev_t").collect().map(_.getString(0)).toSeq ==
      Seq("id", "tag"))
    // evolution never rewrote a data file (count only grew by the INSERT)
    val filesAfter = sh.sql("SELECT count(*) AS n FROM ev_t$files")
      .collect().head.getLong(0)
    assert(filesAfter == filesBefore + 1)
    // key columns are protected
    val sh2 = new GraftSql(spark, Files.createTempDirectory("graft_sql_ev2_").toString)
    sh2.sql("CREATE TABLE pk_t (id BIGINT, v STRING, PRIMARY KEY (id) NOT ENFORCED) " +
      "WITH ('bucket' = '1', 'bucket-key' = 'id')")
    intercept[IllegalArgumentException] { sh2.sql("ALTER TABLE pk_t DROP COLUMN id") }
    intercept[IllegalArgumentException] {
      sh2.sql("ALTER TABLE pk_t RENAME COLUMN id TO key_id") }
  }

  test("DROP then re-ADD COLUMN through the shell: old rows read NULL, new rows their values") {
    val wh = Files.createTempDirectory("graft_sql_readd_").toString
    val sh = new GraftSql(spark, wh)
    sh.sql("CREATE TABLE ra_t (id BIGINT, note STRING) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO ra_t SELECT 1, 'old'")
    sh.sql("ALTER TABLE ra_t DROP COLUMN note")
    sh.sql("ALTER TABLE ra_t ADD COLUMN note STRING")
    sh.sql("INSERT INTO ra_t SELECT 2, 'new'")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    val expected = Seq((1L, None), (2L, Some("new")))
    assert(rows(sh.sql("SELECT id, note FROM ra_t ORDER BY id")) == expected)
    // the same table through spark.sql over a catalog on the warehouse
    spark.conf.set("spark.sql.catalog.maint_readd",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.maint_readd.warehouse", wh)
    assert(rows(spark.sql(
      "SELECT id, note FROM maint_readd.default.ra_t ORDER BY id")) == expected)
  }

  test("SELECT … VERSION AS OF / TIMESTAMP AS OF travels through the shell") {
    val sh = new GraftSql(spark, Files.createTempDirectory("graft_sql_tt_").toString)
    sh.sql("CREATE TABLE tt_t (id BIGINT, v STRING) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO tt_t SELECT 1, 'a'")
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    sh.sql("INSERT INTO tt_t SELECT 2, 'b'")
    sh.sql("CALL sys.create_tag('tt_t', 'cut', 0)")
    assert(sh.sql("SELECT count(*) AS n FROM tt_t").collect().head.getLong(0) == 2)
    assert(sh.sql("SELECT count(*) AS n FROM tt_t VERSION AS OF 0")
      .collect().head.getLong(0) == 1)
    assert(sh.sql("SELECT count(*) AS n FROM tt_t VERSION AS OF 'cut'")
      .collect().head.getLong(0) == 1)
    assert(sh.sql(s"SELECT count(*) AS n FROM tt_t TIMESTAMP AS OF '$between'")
      .collect().head.getLong(0) == 1)
    // travel composes with a join against the live view
    val j = sh.sql("SELECT count(*) AS n FROM tt_t a JOIN tt_t VERSION AS OF 0 b " +
      "ON a.id = b.id").collect().head.getLong(0)
    assert(j == 1)
  }

  test("CALL sys.create_tag / rollback_to / expire_snapshots / compact") {
    val sh = new GraftSql(spark, Files.createTempDirectory("graft_sql_c_").toString)
    sh.sql("CREATE TABLE m_t (id BIGINT, v STRING) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO m_t SELECT 1, 'a'")
    sh.sql("INSERT INTO m_t SELECT 2, 'b'")
    sh.sql("CALL sys.create_tag('m_t', 'v1', 0)")
    assert(sh.sql("SELECT tag_name FROM m_t$tags").collect()
      .map(_.getString(0)).toSeq == Seq("v1"))
    sh.sql("INSERT INTO m_t SELECT 3, 'c'")
    // rollback by snapshot id — refused while the v1 tag is not the target…
    sh.sql("CALL sys.rollback_to('m_t', 1)")
    assert(sh.sql("SELECT count(*) AS n FROM m_t").collect().head.getLong(0) == 2)
    // …and by tag name
    sh.sql("CALL sys.rollback_to('m_t', 'v1')")
    assert(sh.sql("SELECT count(*) AS n FROM m_t").collect().head.getLong(0) == 1)
    sh.sql("INSERT INTO m_t SELECT 4, 'd'")
    sh.sql("INSERT INTO m_t SELECT 5, 'e'")
    val r = sh.sql("CALL sys.compact('m_t', 1)").collect().head.getString(0)
    assert(r.contains("compacted"))
    assert(sh.sql("SELECT count(*) AS n FROM m_t").collect().head.getLong(0) == 3)
    sh.sql("CALL sys.delete_tag('m_t', 'v1')")
    sh.sql("CALL sys.expire_snapshots('m_t', 1, 1, '0 s')")
    val snaps = sh.sql("SELECT snapshot_id FROM m_t$snapshots").collect()
    assert(snaps.length == 1)
    intercept[IllegalArgumentException] { sh.sql("CALL sys.frobnicate('m_t')") }
  }

  test("partition expiry: values-time vs update-time, NULL/unparseable protected, " +
      "shell CALL + retention-policy doors") {
    import graft.table.GraftCatalog
    // direct API — values-time: only the parseable dead-past partition
    // expires; the NULL partition and an unparseable label never
    // value-expire (deleting data over a bad label would be silent loss)
    val root = tmp()
    val t = new StreamTable(root, spark, partitionKeys = Some(Seq("dt")))
    t.appendBatch(Seq((1L, "2000-01-01"), (2L, "2099-12-31"),
      (3L, null.asInstanceOf[String]), (4L, "not-a-date"))
      .toDF("id", "dt"), 0L)
    // update-time first: everything was written just now — nothing expires
    assert(t.expirePartitions(GraftCatalog.parseDurationMs("1 h"),
      "update-time") == 0)
    assert(t.expirePartitions(GraftCatalog.parseDurationMs("3650 d"),
      "values-time") == 1)
    assert(t.read.select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L), "2099 / NULL / unparseable partitions survive")
    // update-time ages by WRITE time, value-independent: with a 1 ms
    // horizon the three survivors (incl. NULL) all age out
    Thread.sleep(5)
    assert(t.expirePartitions(1L, "update-time") == 3)
    assert(t.read.count() == 0L)
    intercept[IllegalArgumentException] { t.expirePartitions(1L, "bogus") }
    intercept[IllegalArgumentException] { t.expirePartitions(0L) }
    intercept[UnsupportedOperationException] {
      new StreamTable(tmp(), spark).expirePartitions(1L)
    }
    StreamTable.deleteTree(java.nio.file.Paths.get(root))

    // shell CALL door + ALTER-able policy, and applyRetention runs the
    // option-driven expiry as part of the table's retention policy
    val sh = new GraftSql(spark, Files.createTempDirectory("graft_sql_pe_").toString)
    sh.sql("CREATE TABLE pe (id BIGINT, dt STRING) WITH (" +
      "'partition-keys' = 'dt', " +
      "'partition.expiration-strategy' = 'values-time', " +
      "'partition.expiration-time' = '3650 d')")
    Seq((1L, "2000-01-01"), (2L, "2099-12-31")).toDF("id", "dt")
      .createOrReplaceTempView("pe_src")
    sh.sql("INSERT INTO pe SELECT id, dt FROM pe_src")
    val msg = sh.sql("CALL sys.expire_partitions('pe')")
      .collect().head.getString(0)
    assert(msg.contains("expired 1 partition"), msg)
    assert(sh.sql("SELECT id FROM pe").collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    // re-insert a dead partition; the retention POLICY (applyRetention)
    // expires it without any explicit CALL
    sh.sql("INSERT INTO pe SELECT id, '2001-06-15' FROM pe_src")
    assert(sh.sql("SELECT count(*) AS n FROM pe").collect().head.getLong(0) == 3L)
    sh.catalog.applyRetention("default", "pe")
    assert(sh.sql("SELECT id, dt FROM pe").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "2099-12-31")))

    // MULTI-KEY date layout (year/month/day) assembles its event time
    // through partition.timestamp-pattern (Paimon's option): old dates
    // expire, the future date survives, a NULL component never expires
    val mr = tmp()
    val mt = new StreamTable(mr, spark, partitionKeys = Some(Seq("y", "m", "d")))
    mt.appendBatch(Seq(
      (1L, "2000", "01", "15"), (2L, "2099", "12", "31"),
      (3L, "2001", null.asInstanceOf[String], "01"))
      .toDF("id", "y", "m", "d"), 0L)
    assert(mt.expirePartitions(GraftCatalog.parseDurationMs("3650 d"),
      "values-time", "yyyy-MM-dd", Some("$y-$m-$d")) == 1)
    assert(mt.read.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "future date and NULL-component partitions survive")
    // a typo'd key name in the pattern never mis-expires anything
    assert(mt.expirePartitions(GraftCatalog.parseDurationMs("3650 d"),
      "values-time", "yyyy-MM-dd", Some("$year-$m-$d")) == 0)
    StreamTable.deleteTree(java.nio.file.Paths.get(mr))
    // ...including the adversarial corner where a NON-token-delimited
    // substitution would assemble a PARSEABLE date from a shorter key's
    // value ("$d1" with d="2024010" would become "20240101") — the
    // token-delimited match leaves the placeholder unresolved instead
    val dr = tmp()
    val dt = new StreamTable(dr, spark, partitionKeys = Some(Seq("d")))
    dt.appendBatch(Seq((1L, "2024010")).toDF("id", "d"), 0L)
    assert(dt.expirePartitions(1000L, "values-time", "yyyyMMdd",
      Some("$d1")) == 0, "a typo'd placeholder must never assemble-and-expire")
    StreamTable.deleteTree(java.nio.file.Paths.get(dr))

    // a table whose expiry cannot run (misconfigured: the option without
    // PARTITIONED BY) must not take SNAPSHOT retention down with it
    sh.sql("CREATE TABLE pe_bad (id BIGINT) WITH (" +
      "'partition.expiration-time' = '1 d', " +
      "'snapshot.num-retained.min' = '1', 'snapshot.num-retained.max' = '1', " +
      "'snapshot.time-retained' = '1 ms')")
    sh.sql("INSERT INTO pe_bad SELECT id FROM pe_src")
    sh.sql("INSERT INTO pe_bad SELECT id + 10 FROM pe_src")
    val expired = sh.catalog.applyRetention("default", "pe_bad")
    assert(expired == 1, s"snapshot retention must still run, expired=$expired")
  }

  test("update-time partition expiry ages by LOGICAL data arrival: a " +
      "maintenance rewrite (compaction) must not reset partition ages") {
    // a table under periodic compaction would otherwise NEVER expire any
    // partition — the rewrite restamps every file's physical creation time,
    // so the preserved per-partition max is what expiry must see
    val r1 = tmp()
    val t = new StreamTable(r1, spark, partitionKeys = Some(Seq("dt")))
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "dt"), 0L)
    t.appendBatch(Seq((3L, "a")).toDF("id", "dt"), 1L)
    Thread.sleep(1200)
    t.compact(targetFileCount = 1) // physically restamps every file
    // horizon 1 s: the logical writes are ≥1.2 s old, the rewrite just ran
    assert(t.expirePartitions(1000L, "update-time") == 2,
      "compaction must not make partitions young again")
    assert(t.read.count() == 0L)
    StreamTable.deleteTree(java.nio.file.Paths.get(r1))
    // …while a partition with a genuinely fresh write after the compaction
    // stays young: only the untouched partition ages out
    val r2 = tmp()
    val t2 = new StreamTable(r2, spark, partitionKeys = Some(Seq("dt")))
    t2.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "dt"), 0L)
    Thread.sleep(1200)
    t2.compact(targetFileCount = 1)
    t2.appendBatch(Seq((3L, "b")).toDF("id", "dt"), 1L) // fresh logical write
    assert(t2.expirePartitions(1000L, "update-time") == 1,
      "only the partition without fresh data expires")
    assert(t2.read.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    StreamTable.deleteTree(java.nio.file.Paths.get(r2))
  }

  test("native CALL procedures through the V2 catalog (Spark 4 ProcedureCatalog)") {
    val wh = tmp()
    val cat = s"gproc_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.pt (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.pt VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.db.pt VALUES (2, 'b')")
    spark.sql(s"INSERT INTO $cat.db.pt VALUES (3, 'c')")

    // create_tag pins the head snapshot; rollback later lands on it
    val tagged = spark.sql(s"CALL $cat.sys.create_tag('db.pt', 'v1')")
      .collect().head.getLong(0)
    assert(tagged == 2L, s"head snapshot should be 2, got $tagged")
    spark.sql(s"INSERT INTO $cat.db.pt VALUES (4, 'd')")

    // compact rewrites the live set into one level-1 file (named args too)
    val c = spark.sql(s"CALL $cat.sys.compact(`table` => 'db.pt', " +
      "target_file_count => 1)").collect().head
    assert(c.getInt(1) == 1, s"expected 1 compacted file, got $c")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pt").head().getLong(0) == 4)

    // rollback_to by tag restores the pre-compact, pre-insert version
    val rb = spark.sql(s"CALL $cat.sys.rollback_to('db.pt', 'v1')")
      .collect().head.getLong(0)
    assert(rb == 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pt").head().getLong(0) == 3)

    // delete_tag + expire_snapshots shrink history to the head
    assert(spark.sql(s"CALL $cat.sys.delete_tag('db.pt', 'v1')")
      .collect().head.getBoolean(0))
    val expired = spark.sql(s"CALL $cat.sys.expire_snapshots('db.pt', 1, 1, 0)")
      .collect().head.getInt(0)
    assert(expired == 2, s"expected 2 expired snapshots, got $expired")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.`pt$$snapshots`")
      .head().getLong(0) == 1)

    // unknown procedure fails loudly
    intercept[Exception] { spark.sql(s"CALL $cat.sys.frobnicate('db.pt')") }
  }

  test("compactSmallFiles: targeted minor compaction touches the backlog only") {
    // append table with a LARGE file and a small-file backlog: only the
    // backlog rewrites; the large file stays byte-identical
    val ta = new StreamTable(tmp(), spark)
    ta.appendBatch((1L to 20000L).map(i => (i, s"v$i" * 8)).toDF("id", "v")
      .coalesce(1), 0L)
    (1 to 4).foreach(b => ta.appendBatch(
      Seq((100000L + b, "s")).toDF("id", "v").coalesce(1), b.toLong))
    val big = ta.latestSnapshot.get.files.maxBy(_.fileSizeInBytes)
    val threshold = big.fileSizeInBytes // everything smaller is backlog
    assert(ta.compactSmallFiles(threshold, trigger = 5).isEmpty,
      "below the trigger, the probe must be a no-op")
    val snap = ta.compactSmallFiles(threshold, trigger = 4)
    assert(snap.isDefined && snap.get.kind == "compact")
    val after = ta.latestSnapshot.get.files
    assert(after.exists(_.path == big.path), "the large file must survive untouched")
    assert(after.size == 2, s"backlog must concatenate to one file: $after")
    assert(ta.read.count() == 20004L)
    // the minor rewrite is NOT a logical change: no +I re-emission
    assert(ta.changesBetween(snap.get.id - 1, snap.get.id).count() == 0)

    // PK table: sequences, an update, and a DELETE tombstone all pass
    // through raw — resolution still wins post-compaction, and only a FULL
    // compaction purges the tombstone
    val tp = new StreamTable(tmp(), spark, primaryKey = Some(Seq("id")),
      bucketKey = Some("id"), numBuckets = 2)
    tp.appendBatch(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), 0L)
    tp.appendBatch(Seq((1L, "A")).toDF("id", "v"), 1L)
    tp.deleteBatch(Seq(Tuple1(2L)).toDF("id"), 2L)
    val inRows = tp.latestSnapshot.get.files.map(_.rowCount).sum
    val psnap = tp.compactSmallFiles(1L << 30, trigger = 2)
    assert(psnap.isDefined)
    val pfiles = tp.latestSnapshot.get.files
    assert(pfiles.map(_.rowCount).sum == inRows,
      "minor compaction conserves rows exactly (tombstones retained)")
    assert(pfiles.forall(f => f.bucket.isDefined &&
      f.sortedBy.contains(Seq("id"))), pfiles.toString)
    assert(tp.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (3L, "c")))
    tp.compact(1) // full compaction purges the tombstone
    assert(tp.latestSnapshot.get.files.map(_.rowCount).sum == 2L)

    // the CALL door reports the committed snapshot / the no-op
    val wh = Files.createTempDirectory("msf_wh_").toString
    val cat = s"msf_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.msf (id BIGINT, v STRING)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO $cat.db.msf VALUES ($i, 'x$i')"))
    val res = spark.sql(s"CALL $cat.sys.compact_small_files(" +
      "`table` => 'db.msf', small_bytes => 1048576L, trigger => 3)")
      .collect().head
    assert(res.getLong(0) >= 0 && res.getBoolean(1), res.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.msf").head().getLong(0) == 3)
    val noop = spark.sql(s"CALL $cat.sys.compact_small_files(" +
      "`table` => 'db.msf', small_bytes => 1048576L, trigger => 3)")
      .collect().head
    assert(noop.getLong(0) == -1L && !noop.getBoolean(1), noop.toString)
  }

  test("$files suppression payload stays window-bounded over a long history") {
    val root = tmp()
    val t = new StreamTable(root, spark)
    def supTotal() = t.filesScanTasks.map(_._2.size).sum
    // 80 commits with periodic full compaction: every compact removes the
    // whole live set, so without the 16-commit rebase truncating the list
    // the suppression sets would accumulate one entry per HISTORICAL file
    var mid = -1
    (0 until 80).foreach { b =>
      t.appendBatch(Seq((b.toLong, s"v$b")).toDF("id", "v").coalesce(1),
        b.toLong)
      if (b % 4 == 3) t.compact(targetFileCount = 1)
      if (b == 39) mid = supTotal()
    }
    val end = supTotal()
    // bounded by the post-rebase window's delta entries (≤ 16 deltas of ≤ a
    // handful of adds/removes each), NOT by the ~100 historical files
    assert(mid >= 0 && mid <= 48, s"suppression payload at 40 commits: $mid")
    assert(end <= 48, s"suppression payload at 80 commits: $end")
    // and the doubled history added no payload beyond window jitter
    assert(end <= mid + 16, s"payload grew with history: $mid -> $end")
    // the view the payload serves stays exact
    assert(t.filesView.count() ==
      t.latestSnapshot.get.files.size.toLong)
  }

  test("many-file expiry reclaims through the distributed pass: zero driver unlinks") {
    val prop = "graft.maintenance.distributed-delete-min"
    val prev = Option(System.getProperty(prop))
    System.setProperty(prop, "8")
    try {
      val root = tmp()
      val t = new StreamTable(root, spark)
      (0 until 12).foreach { b =>
        t.appendBatch(Seq((b.toLong, s"v$b")).toDF("id", "v").coalesce(1),
          b.toLong)
      }
      t.compact(targetFileCount = 2) // snapshot 12: the 12 append files die
      val appendDir = java.nio.file.Paths.get(root, "data", "append")
      assert(StreamTable.listDir(appendDir)
        .count(_.toString.endsWith(".parquet")) == 12)
      StreamTable.driverMaintenanceDeletes.set(0L)
      val expired = t.expireSnapshots(1, 1, 0L)
      assert(expired == 12, s"all pre-compaction snapshots expire: $expired")
      // both large reclaim batches (12 data files, 12 snapshot JSONs) ran
      // distributed — the driver performed zero serial unlinks
      assert(StreamTable.driverMaintenanceDeletes.get() == 0L,
        s"driver unlinks: ${StreamTable.driverMaintenanceDeletes.get()} (want 0)")
      assert(StreamTable.listDir(appendDir)
        .count(_.toString.endsWith(".parquet")) == 0,
        "expiry must physically reclaim the dead append files")
      assert(t.read.count() == 12L, "the live view survives the reclaim")
    } finally prev match {
      case Some(v) => System.setProperty(prop, v)
      case None => System.clearProperty(prop)
    }
  }

  test("CALL sys.remove_orphan_files deletes crash leftovers, keeps live data") {
    import java.nio.file.{Files, Paths}
    val wh = Files.createTempDirectory("orph_wh_").toString
    val cat = s"orph_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.ot (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.ot VALUES (1, 'a'), (2, 'b')")
    val root = s"$wh/db.db/ot"
    // plant crash leftovers: an uncommitted data file (a lost commit race)
    // and an abandoned staging tree (a writer that died mid-stage)
    Files.write(Paths.get(s"$root/data/append/b9-deadbeef-0.parquet"),
      Array[Byte](1, 2, 3))
    val staging = Paths.get(s"$root/.staging-dead")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-0.parquet"), Array[Byte](4, 5, 6))
    // plus a committer that died between its tmp write and the CAS link
    Files.write(Paths.get(s"$root/_snapshots/.tmp-dead.json"), Array[Byte](123))

    // a fresh grace period protects them (in-flight writers look identical)
    val kept = spark.sql(s"CALL $cat.sys.remove_orphan_files('db.ot')")
      .collect().head.getInt(0)
    assert(kept == 0, s"grace period must protect young files, removed $kept")
    // grace 0: both data leftovers go, the tmp snapshot counts as metadata,
    // live data survives
    val res = spark.sql(s"CALL $cat.sys.remove_orphan_files(" +
      "`table` => 'db.ot', older_than_ms => 0L)").collect().head
    assert(res.getInt(0) == 2, s"expected 2 orphans removed, got ${res.getInt(0)}")
    assert(res.getInt(1) == 1,
      s"the dead committer's tmp snapshot counts as metadata: ${res.getInt(1)}")
    assert(!Files.exists(Paths.get(s"$root/data/append/b9-deadbeef-0.parquet")))
    assert(!Files.exists(staging))
    assert(!Files.exists(Paths.get(s"$root/_snapshots/.tmp-dead.json")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ot").head().getLong(0) == 2)
  }

  test("distributed orphan sweep: listing, referenced set and reap all off-driver, same answers") {
    import java.nio.file.{Files, Paths}
    val prop = "graft.maintenance.distributed-orphan-min"
    val prev = Option(System.getProperty(prop))
    System.setProperty(prop, "1") // any live file triggers the distributed path
    try {
      val root = tmp()
      val t = new StreamTable(root, spark)
      (0 until 3).foreach { b =>
        t.appendBatch(Seq((b.toLong, s"v$b")).toDF("id", "v").coalesce(1),
          b.toLong)
      }
      t.compact(targetFileCount = 1) // dead append files are still MANIFEST-
      // referenced (retention-managed, not orphans) — the sweep must keep them
      val deadAppends = StreamTable.listDir(Paths.get(root, "data", "append"))
        .count(_.toString.endsWith(".parquet"))
      assert(deadAppends == 3)
      // plant true crash leftovers beside them
      Files.write(Paths.get(s"$root/data/append/b9-orphan.parquet"),
        Array[Byte](1, 2, 3))
      Files.write(Paths.get(s"$root/data/compact/u9-orphan.parquet"),
        Array[Byte](4, 5))
      StreamTable.driverMaintenanceDeletes.set(0L)
      // fresh grace protects everything
      assert(t.removeOrphanFiles() == 0)
      // grace 0: exactly the 2 leftovers go — manifest-referenced dead files
      // and live files both survive
      assert(t.removeOrphanFiles(olderThanMs = 0L) == 2)
      assert(StreamTable.driverMaintenanceDeletes.get() == 0L,
        "the distributed sweep must not route deletes through the driver")
      assert(!Files.exists(Paths.get(s"$root/data/append/b9-orphan.parquet")))
      assert(StreamTable.listDir(Paths.get(root, "data", "append"))
        .count(_.toString.endsWith(".parquet")) == 3,
        "manifest-referenced files are retention-managed, never orphans")
      assert(t.read.count() == 3L)
    } finally prev match {
      case Some(v) => System.setProperty(prop, v)
      case None => System.clearProperty(prop)
    }
  }
  test("branches: write-audit-publish end to end - branch writes invisible " +
      "on main until fast_forward; seeds are retention roots; diverged main refuses") {
    val wh = tmp()
    val cat = s"gbr_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.db.br (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.br VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.db.br VALUES (2, 'b')")
    spark.sql(s"CALL $cat.sys.create_tag('db.br', 'audit-base')")
    val seed = spark.sql(
      s"CALL $cat.sys.create_branch('db.br', 'wap', 'audit-base')")
      .collect().head.getLong(0)
    assert(seed == 1L, s"seeded at the tag's snapshot, got $seed")
    // WRITE: stage rows on the branch through plain SQL
    spark.sql(s"INSERT INTO $cat.db.`br$$branch_wap` VALUES (3, 'c')")
    // AUDIT: the branch shows the staged state, main is untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.`br$$branch_wap`")
      .head().getLong(0) == 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.br").head().getLong(0) == 2L)
    // the library door sees the same branch
    val gc = new graft.table.GraftCatalog(spark, wh)
    val t = gc.getTable("db", "br")
    assert(t.branchTable("wap").read.count() == 3L)
    assert(t.branches == Seq(("wap", 1L)))
    // rollback below the seed refuses while the branch lives (the tag guard
    // fires first here — the branch guard is pinned at the wap2 stage below)
    val rb = intercept[IllegalArgumentException] { t.rollbackTo(0L) }
    assert(rb.getMessage.contains("audit-base"), rb.getMessage)
    // PUBLISH: fast_forward lands the branch chain on main atomically
    val head = spark.sql(s"CALL $cat.sys.fast_forward('db.br', 'wap')")
      .collect().head.getLong(0)
    assert(head == 2L, s"one staged commit past the seed, got head $head")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.br ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the branch is CONSUMED - its identifier no longer resolves
    assert(t.branches.isEmpty)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.`br$$branch_wap`").collect()
    }
    // time travel across the published chain works (the ff'd snapshot is a
    // first-class commit)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.br VERSION AS OF 1")
      .head().getLong(0) == 2L)

    // DIVERGENCE: a branch whose main moved on refuses to fast-forward
    spark.sql(s"CALL $cat.sys.create_branch('db.br', 'wap2')")
    spark.sql(s"INSERT INTO $cat.db.br VALUES (4, 'd')") // main diverges
    val ff = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.fast_forward('db.br', 'wap2')")
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(ff).exists(_.contains("not the branch point")), ff.toString)
    // rollback below a live branch SEED refuses with the branch remedy
    val rb2 = intercept[IllegalArgumentException] { t.rollbackTo(1L) }
    assert(rb2.getMessage.contains("branches are seeded past"), rb2.getMessage)
    // RETENTION: the live seed (snapshot 2) is a retention root...
    assert(t.expireSnapshots(1, 1, 0L) >= 0)
    assert(t.snapshotHeaders.map(_.id).contains(2L),
      "a live branch seed must survive snapshot expiry")
    assert(scala.util.Try(t.readAt(2L).count()).isSuccess)
    // ...and delete_branch (the audit-failed path) + delete_tag release it
    spark.sql(s"CALL $cat.sys.delete_branch('db.br', 'wap2')")
    spark.sql(s"CALL $cat.sys.delete_tag('db.br', 'audit-base')")
    assert(t.expireSnapshots(1, 1, 0L) > 0)
    assert(t.snapshotHeaders.map(_.id) == Seq(3L))
    // unknown branch refuses loudly
    val nb = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.fast_forward('db.br', 'nope')")
    }
    assert(msgs(nb).exists(_.contains("no branch")), nb.toString)
  }
}

package graft

import java.nio.file.Files

import graft.table.GraftSql
import org.scalatest.funsuite.AnyFunSuite

/** The reference tutorial's SQL-client session, replayed statement-for-
  * statement through the GraftSql front-end (Readme.md:38-78 +
  * tutorial/guide.md DDL/DML shapes). */
class SqlSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def shell() =
    new GraftSql(spark, Files.createTempDirectory("graft_sql_wh_").toString)

  test("catalog lifecycle: CREATE CATALOG, USE, SHOW (guide.md:11-17)") {
    val sh = shell()
    sh.sql("CREATE CATALOG paimon WITH ('type' = 'paimon', 'warehouse' = 'file:" +
      Files.createTempDirectory("graft_sql_p_") + "')")
    sh.sql("USE CATALOG paimon")
    val cats = sh.sql("SHOW CATALOGS").collect().map(_.getString(0))
    assert(cats.contains("paimon") && cats.contains("default_catalog"))
    assert(sh.sql("SHOW DATABASES").collect().map(_.getString(0)).contains("default"))
  }

  test("SHOW CATALOGS/DATABASES/FUNCTIONS/VIEWS — the Readme session replayed (Readme.md:57-78)") {
    val sh = shell()
    // Readme.md:57-63 — the default catalog is visible
    assert(sh.sql("SHOW CATALOGS;").collect().map(_.getString(0))
      .contains("default_catalog"))
    // Readme.md:68-74 — and its default database
    assert(sh.sql("SHOW DATABASES;").collect().map(_.getString(0))
      .contains("default"))
    // Readme.md:78 — "more commands like SHOW FUNCTIONS and SHOW VIEWS"
    val fns = sh.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
    assert(fns.length > 100, "the Spark registry's builtins are listed")
    assert(fns.contains("sum") && fns.contains("explode"))
    graft.functions.VectorFunctions.registerOn(spark)
    assert(sh.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
      .contains("float_dot"), "registered graft extensions are listed too")
    sh.sql("CREATE TABLE shown_t (id BIGINT) WITH ('bucket' = '1')")
    val views = sh.sql("SHOW VIEWS").collect().map(_.getString(0))
    assert(views.contains("shown_t"), s"catalog tables surface as views: ${views.toSeq}")
    // internal registrations stay hidden (the `$files` metadata view, the
    // db-prefixed alias, temp views left by other components)
    assert(!views.exists(v => v.endsWith("__files") || v.startsWith("default_")),
      views.toSeq.toString)
    assert(views.toSet subsetOf Set("shown_t"))
  }

  test("the reference DDL runs verbatim (guide.md:23-31, :59-74)") {
    val sh = shell()
    sh.sql("""CREATE TABLE measurements (
             |    sensor_id BIGINT,
             |    reading DECIMAL(5, 1),
             |    event_time AS PROCTIME()
             |) WITH (
             |    'bucket' = '1',
             |    'bucket-key' = 'sensor_id',
             |    'file.format' = 'parquet'
             |)""".stripMargin)
    sh.sql("""CREATE TABLE sensor_info (
             |    sensor_id BIGINT,
             |    latitude DOUBLE PRECISION,
             |    longitude DOUBLE PRECISION,
             |    generation INT,
             |    updated_at TIMESTAMP(3),
             |    PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH (
             |    'changelog-producer' = 'input'
             |)""".stripMargin)
    assert(sh.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq ==
      Seq("measurements", "sensor_info"))
    val o = sh.catalog.tableOptions("default", "measurements")
    assert(o("bucket-key") == "sensor_id" && o("computed.proctime") == "event_time")
    assert(sh.catalog.tableOptions("default", "sensor_info")("primary-key") == "sensor_id")
    val desc = sh.sql("DESCRIBE sensor_info").collect().map(_.getString(0))
    assert(desc.contains("latitude") && desc.contains("updated_at"))
    // parameterized types survive DESCRIBE intact (comma inside DECIMAL)
    val dm = sh.sql("DESCRIBE measurements").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dm("reading").startsWith("DECIMAL(5, 1)"), dm.toString)
  }

  test("SET, ALTER TABLE SET, INSERT INTO SELECT, SELECT (guide.md:3, :36-39, :180-184)") {
    import spark.implicits._
    val sh = shell()
    sh.sql("SET 'execution.checkpointing.interval' = '20 s'")
    assert(sh.sessionConf("execution.checkpointing.interval") == "20 s")

    sh.sql("""CREATE TABLE measurements (
             |  sensor_id BIGINT, reading DECIMAL(5, 1), event_time AS PROCTIME()
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("ALTER TABLE measurements SET ('snapshot.time-retained' = '20 s', " +
      "'snapshot.num-retained.min' = '1', 'snapshot.num-retained.max' = '5')")
    assert(sh.catalog.tableOptions("default", "measurements")("snapshot.time-retained") == "20 s")

    // datagen stand-in (Readme.md:132-154): a temp view as the source table
    spark.range(1, 101)
      .select($"id".as("sensor_id"), ($"id" % 45).cast("decimal(5,1)").as("reading"))
      .createOrReplaceTempView("datagen_src")
    sh.sql("INSERT INTO measurements SELECT sensor_id, reading FROM datagen_src")
    // the tutorial's golden COUNT(*) check (guide.md:88-96)
    assert(sh.sql("SELECT COUNT(*) AS n FROM measurements").collect()(0).getLong(0) == 100)
    // PROCTIME was stamped at ingest
    assert(sh.sql("SELECT * FROM measurements").columns.contains("event_time"))

    // second insert = second commit; PK-free table appends
    sh.sql("INSERT INTO measurements SELECT sensor_id, reading FROM datagen_src")
    assert(sh.sql("SELECT COUNT(*) AS n FROM measurements").collect()(0).getLong(0) == 200)

    // the tutorial's $files metadata query runs verbatim (guide.md:200-207)
    val files = sh.sql(
      """SELECT file_path, record_count, level, file_size_in_bytes,
        |  min_value_stats, min_sequence_number
        |FROM measurements$files""".stripMargin).collect()
    assert(files.length == 2, "two commits = two data files")
    assert(files.map(_.getAs[Long]("record_count")).sum == 200)
    assert(files.forall(_.getAs[Long]("file_size_in_bytes") > 0))

    // the $snapshots sibling works through the same SQL surface
    val snaps = sh.sql(
      """SELECT snapshot_id, batch_id, num_files, total_record_count
        |FROM measurements$snapshots""".stripMargin).collect()
    assert(snaps.length == 2, "two commits = two snapshots")
    assert(snaps.last.getAs[Long]("total_record_count") == 200)
  }

  test("PK table upsert through INSERT INTO (sensor_info semantics, guide.md:78-96)") {
    import spark.implicits._
    val sh = shell()
    sh.sql("""CREATE TABLE sensor_info (
             |  sensor_id BIGINT, generation INT, updated_at TIMESTAMP(3),
             |  PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH ('changelog-producer' = 'input', 'sequence.field' = 'updated_at')""".stripMargin)
    Seq((1L, 0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, 0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("sensor_id", "generation", "updated_at").createOrReplaceTempView("gen0")
    Seq((1L, 9, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("sensor_id", "generation", "updated_at").createOrReplaceTempView("gen1")
    sh.sql("INSERT INTO sensor_info SELECT * FROM gen0")
    sh.sql("INSERT INTO sensor_info SELECT * FROM gen1")
    val rows = sh.sql("SELECT sensor_id, generation FROM sensor_info ORDER BY sensor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1L, 9), (2L, 0)), "last writer (by sequence field) wins")
    sh.sql("DROP TABLE sensor_info")
    assert(sh.sql("SHOW TABLES").collect().isEmpty)
  }

  test("merge-engine options flow through CREATE TABLE WITH (Paimon keys)") {
    import spark.implicits._
    val sh = shell()
    // partial-update: two column-disjoint INSERT waves assemble one row
    sh.sql("""CREATE TABLE device_profile (
             |  device_id BIGINT, name STRING, fw_version BIGINT, seq BIGINT,
             |  PRIMARY KEY (device_id) NOT ENFORCED
             |) WITH ('merge-engine' = 'partial-update', 'sequence.field' = 'seq')""".stripMargin)
    Seq((1L, "alpha", null.asInstanceOf[java.lang.Long], 1L))
      .toDF("device_id", "name", "fw_version", "seq").createOrReplaceTempView("w1")
    Seq((1L, null.asInstanceOf[String], java.lang.Long.valueOf(7L), 2L))
      .toDF("device_id", "name", "fw_version", "seq").createOrReplaceTempView("w2")
    sh.sql("INSERT INTO device_profile SELECT * FROM w1")
    sh.sql("INSERT INTO device_profile SELECT * FROM w2")
    val prof = sh.sql("SELECT device_id, name, fw_version FROM device_profile")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(prof.toSeq == Seq((1L, "alpha", 7L)))

    // first-row: the earliest-sequence row survives later inserts
    sh.sql("""CREATE TABLE first_touch (
             |  user_id BIGINT, channel STRING, seq BIGINT,
             |  PRIMARY KEY (user_id) NOT ENFORCED
             |) WITH ('merge-engine' = 'first-row', 'sequence.field' = 'seq')""".stripMargin)
    Seq((1L, "ads", 10L)).toDF("user_id", "channel", "seq")
      .createOrReplaceTempView("t1")
    Seq((1L, "organic", 20L)).toDF("user_id", "channel", "seq")
      .createOrReplaceTempView("t2")
    sh.sql("INSERT INTO first_touch SELECT * FROM t1")
    sh.sql("INSERT INTO first_touch SELECT * FROM t2")
    assert(sh.sql("SELECT channel FROM first_touch").collect()
      .map(_.getString(0)).toSeq == Seq("ads"))
    sh.sql("DROP TABLE device_profile")
    sh.sql("DROP TABLE first_touch")
  }

  test("ALTER TABLE ADD COLUMN: schema evolution across old and new writers") {
    import spark.implicits._
    val sh = shell()
    sh.sql("CREATE TABLE ev (id BIGINT, v STRING) WITH ('bucket' = '1')")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("ev_src")
    sh.sql("INSERT INTO ev SELECT * FROM ev_src")
    sh.sql("ALTER TABLE ev ADD COLUMN score DOUBLE")
    // DESCRIBE shows the evolved schema; pre-evolution rows read NULL
    assert(sh.sql("DESCRIBE ev").collect().map(_.getString(0)).toSeq ==
      Seq("id", "v", "score"))
    assert(sh.sql("SELECT id, score FROM ev ORDER BY id").collect()
      .forall(_.isNullAt(1)))
    // an OLD-shape writer still works (evolution tail padded with nulls)…
    Seq((3L, "c")).toDF("id", "v").createOrReplaceTempView("ev_old")
    sh.sql("INSERT INTO ev SELECT * FROM ev_old")
    // …and a NEW-shape writer lands values; INT position 3 casts to DOUBLE
    Seq((4L, "d", 9)).toDF("id", "v", "n").createOrReplaceTempView("ev_new")
    sh.sql("INSERT INTO ev SELECT * FROM ev_new")
    val got = sh.sql("SELECT id, v, score FROM ev ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
    assert(got.toSeq == Seq((1L, "a", -1.0), (2L, "b", -1.0),
      (3L, "c", -1.0), (4L, "d", 9.0)))
    intercept[IllegalArgumentException] {
      sh.sql("ALTER TABLE ev ADD COLUMN v STRING") // duplicate
    }
    sh.sql("DROP TABLE ev")
  }

  test("MERGE INTO statement: CDC upsert-merge through the shell") {
    import spark.implicits._
    val sh = shell()
    sh.sql("""CREATE TABLE inv (sku BIGINT, qty BIGINT, state STRING,
             |  PRIMARY KEY (sku) NOT ENFORCED) WITH ('bucket' = '1')""".stripMargin)
    Seq((1L, 5L, "live"), (2L, 0L, "live"), (3L, 9L, "live"))
      .toDF("sku", "qty", "state").createOrReplaceTempView("inv_seed")
    sh.sql("INSERT INTO inv SELECT * FROM inv_seed")
    // the CDC delta: sku 1 restock, sku 2 discontinue, sku 7 new
    Seq((1L, 3L, "restock"), (2L, 0L, "discontinue"), (7L, 4L, "new"))
      .toDF("sku", "delta", "op").createOrReplaceTempView("cdc")

    val msg = sh.sql(
      """MERGE INTO inv AS t USING cdc AS c ON t.sku = c.sku
        |WHEN MATCHED AND c.op = 'discontinue' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = t.qty + c.delta
        |WHEN NOT MATCHED THEN INSERT (sku, qty, state) VALUES (c.sku, c.delta, c.op)
        |""".stripMargin).collect()(0).getString(0)
    assert(msg == "merged into inv: 1 updated, 1 deleted, 1 inserted")
    val got = sh.sql("SELECT sku, qty, state FROM inv ORDER BY sku")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 8L, "live"), (3L, 9L, "live"), (7L, 4L, "new")))

    // INSERT * expands the target schema against a same-shaped source
    Seq((8L, 2L, "bulk"), (3L, 1L, "seen"))
      .toDF("sku", "qty", "state").createOrReplaceTempView("bulk")
    val msg2 = sh.sql(
      """MERGE INTO inv USING bulk ON inv.sku = bulk.sku
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0).getString(0)
    assert(msg2 == "merged into inv: 0 updated, 0 deleted, 1 inserted")
    assert(sh.sql("SELECT count(*) AS n FROM inv").collect()(0).getLong(0) == 4)
    sh.sql("DROP TABLE inv")
  }

  test("DELETE FROM / UPDATE statements: row-level ops through the shell") {
    import spark.implicits._
    val sh = shell()
    // append table → pruned copy-on-write
    sh.sql("CREATE TABLE logs (id BIGINT, sev STRING, msg STRING) WITH ('bucket' = '1')")
    (0L until 20L).map(i => (i, if (i % 4 == 0) "debug" else "info", s"m$i"))
      .toDF("id", "sev", "msg").createOrReplaceTempView("raw_logs")
    sh.sql("INSERT INTO logs SELECT * FROM raw_logs")
    val del = sh.sql("DELETE FROM logs WHERE sev = 'debug'").collect()(0).getString(0)
    assert(del == "deleted 5 rows from logs")
    assert(sh.sql("SELECT count(*) AS n FROM logs").collect()(0).getLong(0) == 15)
    // UPDATE with a function-call assignment (top-level comma split must
    // not break inside concat(...))
    val upd = sh.sql(
      "UPDATE logs SET msg = concat(msg, '!'), sev = 'warn' WHERE id < 3")
      .collect()(0).getString(0)
    assert(upd == "updated 2 rows in logs") // ids 1,2 (0 was deleted)
    val rows = sh.sql("SELECT msg, sev FROM logs WHERE id < 3 ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("m1!", "warn"), ("m2!", "warn")))

    // PK table → merge-on-read tombstones/upserts
    sh.sql("""CREATE TABLE users (uid BIGINT, region STRING, score BIGINT,
             |  PRIMARY KEY (uid) NOT ENFORCED) WITH ('bucket' = '1')""".stripMargin)
    Seq((1L, "eu", 10L), (2L, "us", 20L), (3L, "eu", 30L))
      .toDF("uid", "region", "score").createOrReplaceTempView("raw_users")
    sh.sql("INSERT INTO users SELECT * FROM raw_users")
    sh.sql("DELETE FROM users WHERE region = 'eu'")
    sh.sql("UPDATE users SET score = score + 5 WHERE uid = 2")
    val left = sh.sql("SELECT uid, score FROM users ORDER BY uid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(left.toSeq == Seq((2L, 25L)))
  }

  test("the enrichment INSERT with FOR SYSTEM_TIME AS OF replays VERBATIM " +
      "(guide.md:119-140): stream-static lookup join, retry hint honored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val sh = shell()
    sh.sql("""CREATE TABLE measurements (
             |    sensor_id BIGINT,
             |    reading DECIMAL(5, 1),
             |    event_time AS PROCTIME()
             |) WITH (
             |      'bucket' = '1',
             |      'bucket-key' = 'sensor_id',
             |      'file.format' = 'parquet'
             |)""".stripMargin)
    sh.sql("""CREATE TABLE sensor_info (
             |    sensor_id BIGINT,
             |    latitude DOUBLE PRECISION,
             |    longitude DOUBLE PRECISION,
             |    generation INT,
             |    updated_at TIMESTAMP(3),
             |    PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH (
             |      'changelog-producer' = 'input'
             |)""".stripMargin)
    sh.sql("""CREATE TABLE measurements_enriched (
             |    sensor_id BIGINT,
             |    reading DECIMAL(5, 1),
             |    event_time TIMESTAMP(3),
             |    latitude DOUBLE PRECISION,
             |    longitude DOUBLE PRECISION,
             |    generation INT,
             |    updated_at TIMESTAMP(3)
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    spark.range(1, 11)
      .select($"id".as("sensor_id"), ($"id" % 45).cast("decimal(5,1)").as("reading"))
      .createOrReplaceTempView("st_datagen")
    sh.sql("INSERT INTO measurements SELECT sensor_id, reading FROM st_datagen")
    // only sensors 1-8 have a dimension row: the inner lookup join drops 9-10
    spark.range(1, 9).select($"id".as("sensor_id"),
        lit(1.5).as("latitude"), lit(2.5).as("longitude"),
        lit(3).as("generation"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("updated_at"))
      .createOrReplaceTempView("st_dim")
    sh.sql("INSERT INTO sensor_info SELECT * FROM st_dim")

    // the reference's statement, byte-for-byte (guide.md:119-140)
    val r = sh.sql("""SET 'pipeline.name' = 'Data Enrichment with Lookup Join'""")
    sh.sql("""INSERT INTO measurements_enriched
             |SELECT /*+ LOOKUP(
             |         'table'='s',
             |         'retry-predicate'='lookup_miss',
             |         'output-mode'='allow_unordered',
             |         'retry-strategy'='fixed_delay',
             |         'fixed-delay'='1s',
             |         'max-attempts'='50'
             |         ) */
             |    m.sensor_id,
             |    m.reading,
             |    m.event_time,
             |    s.latitude,
             |    s.longitude,
             |    s.generation,
             |    s.updated_at
             |FROM measurements AS m
             |         JOIN sensor_info /*+ OPTIONS('lookup.async'='true', 'lookup.async-thread-number'='16') */
             |    FOR SYSTEM_TIME AS OF m.event_time AS s
             |              ON m.sensor_id = s.sensor_id""".stripMargin)
    val rows = sh.sql("SELECT sensor_id, latitude, generation " +
      "FROM measurements_enriched ORDER BY sensor_id").collect()
    assert(rows.length == 8, "sensors 9-10 have no dimension row")
    assert(rows.map(_.getLong(0)).toSeq == (1L to 8L),
      rows.map(_.getLong(0)).toSeq.toString)
    assert(rows.forall(r => r.getDouble(1) == 1.5 && r.getInt(2) == 3))
    // the enriched row carries the FACT's proctime column, not a re-stamp
    assert(sh.sql("SELECT event_time FROM measurements_enriched")
      .collect().forall(!_.isNullAt(0)))

    // alias-less variants parse too: no dim alias (ON must not be eaten as
    // one) and an AS-less fact alias
    sh.sql("""CREATE TABLE enriched2 (
             |    sensor_id BIGINT, reading DECIMAL(5, 1), latitude DOUBLE
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("""INSERT INTO enriched2
             |SELECT m.sensor_id, m.reading, sensor_info.latitude
             |FROM measurements m
             |    JOIN sensor_info FOR SYSTEM_TIME AS OF m.event_time
             |        ON m.sensor_id = sensor_info.sensor_id""".stripMargin)
    assert(sh.sql("SELECT count(*) AS n FROM enriched2")
      .collect().head.getLong(0) == 8L)

    // an UNALIASED fact with qualified column references (`measurements.x`)
    // must drain, not refuse: only TABLE references count toward the
    // fact-uniqueness check — the rewrite aliases the streaming view back
    // to the fact name, so qualified refs keep resolving
    sh.sql("""CREATE TABLE enriched3 (
             |    sensor_id BIGINT, reading DECIMAL(5, 1), latitude DOUBLE
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("""INSERT INTO enriched3
             |SELECT measurements.sensor_id, measurements.reading, s.latitude
             |FROM measurements
             |    JOIN sensor_info FOR SYSTEM_TIME AS OF measurements.event_time AS s
             |        ON measurements.sensor_id = s.sensor_id""".stripMargin)
    assert(sh.sql("SELECT count(*) AS n FROM enriched3")
      .collect().head.getLong(0) == 8L)
  }

  test("LOOKUP retry hint HONORED (guide.md:122-129): a planted dim miss " +
      "parks, resolves on a later drain, and dead-letters past max-attempts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = Files.createTempDirectory("graft_sql_retry_").toString
    val sh = new GraftSql(spark, wh)
    sh.sql("""CREATE TABLE meas_r (
             |    sensor_id BIGINT, reading DECIMAL(5, 1),
             |    event_time AS PROCTIME()
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("""CREATE TABLE dim_r (
             |    sensor_id BIGINT, latitude DOUBLE PRECISION,
             |    PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH ('changelog-producer' = 'input')""".stripMargin)
    sh.sql("""CREATE TABLE enr_r (
             |    sensor_id BIGINT, reading DECIMAL(5, 1), latitude DOUBLE
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    def addFacts(ids: Long*): Unit = {
      ids.toDF("id").select($"id".as("sensor_id"),
        lit(1.0).cast("decimal(5,1)").as("reading"))
        .createOrReplaceTempView("retry_facts")
      sh.sql("INSERT INTO meas_r SELECT sensor_id, reading FROM retry_facts")
    }
    def addDim(ids: Long*): Unit = {
      ids.toDF("id").select($"id".as("sensor_id"), lit(9.5).as("latitude"))
        .createOrReplaceTempView("retry_dim")
      sh.sql("INSERT INTO dim_r SELECT * FROM retry_dim")
    }
    // max-attempts = 2 so the cap is reachable in three drains
    val stmt = """INSERT INTO enr_r
                 |SELECT /*+ LOOKUP('table'='s',
                 |         'retry-predicate'='lookup_miss',
                 |         'output-mode'='allow_unordered',
                 |         'retry-strategy'='fixed_delay',
                 |         'fixed-delay'='1s', 'max-attempts'='2') */
                 |    m.sensor_id, m.reading, s.latitude
                 |FROM meas_r AS m
                 |    JOIN dim_r FOR SYSTEM_TIME AS OF m.event_time AS s
                 |        ON m.sensor_id = s.sensor_id""".stripMargin
    def enriched(): Seq[Long] =
      sh.sql("SELECT sensor_id FROM enr_r ORDER BY sensor_id")
        .collect().map(_.getLong(0)).toSeq
    // drain 1: facts {1,2}, dim {1} — 1 matches, 2 PARKS (attempt 1)
    addDim(1L); addFacts(1L, 2L)
    sh.sql(stmt)
    assert(enriched() == Seq(1L), "the miss must be parked, not emitted")
    // drain 2: dim gains 2, fresh fact 3 fires the batch — the PARKED row 2
    // resolves on this LATER batch; 3 parks (attempt 1)
    addDim(2L); addFacts(3L)
    sh.sql(stmt)
    assert(enriched() == Seq(1L, 2L),
      "a parked miss must resolve once the dimension row lands")
    // drain 3: fresh fact 4 (dim present) fires the batch; parked 3 misses
    // again → attempt 2 = cap → DEAD-LETTERS
    addDim(4L); addFacts(4L)
    sh.sql(stmt)
    assert(enriched() == Seq(1L, 2L, 4L))
    val dead = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$wh/default.db/enr_r/lookup-retry/dead")
    assert(dead.select("sensor_id").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "the capped miss must land in the dead-letter dir, exactly once")
    // and nothing else stays parked past the cap: the newest pending file
    // carries no rows
    val pendings = graft.table.StreamTable.listDir(
      java.nio.file.Paths.get(s"$wh/default.db/enr_r/lookup-retry")).iterator
      .map(_.getFileName.toString).filter(_.startsWith("pending-")).toSeq
    assert(pendings.nonEmpty)
    val newest = pendings.map(_.stripPrefix("pending-").toLong).max
    assert(spark.read
      .parquet(s"$wh/default.db/enr_r/lookup-retry/pending-$newest")
      .count() == 0L, "nothing may stay parked past the attempt cap")
    // a malformed output mode refuses loudly instead of reordering
    val e = intercept[IllegalArgumentException] {
      sh.sql(stmt.replace("allow_unordered", "ordered"))
    }
    assert(e.getMessage.contains("allow_unordered"), e.getMessage)
    // the per-batch temp view must not outlive the drain: it references a
    // pending-<id> dir a later drain's GC deletes (the sibling path's
    // stale-view poisoning, on this door)
    assert(!spark.catalog.tableExists("meas_r__retry_batch"),
      "the retry path must drop its per-batch temp view after the drain")
    // a second JOIN after the temporal one rides inside the captured ON
    // text — refuse with a shaped message, not an opaque parse error
    val ej = intercept[IllegalArgumentException] {
      sh.sql(stmt.replace("ON m.sensor_id = s.sensor_id",
        "ON m.sensor_id = s.sensor_id JOIN dim_r d2 ON m.sensor_id = d2.sensor_id"))
    }
    assert(ej.getMessage.contains("exactly ONE join"), ej.getMessage)
  }

  test("LOOKUP retry drain: one job writes a batch's parked misses and " +
      "dead letters, with no cache") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = Files.createTempDirectory("graft_sql_retry1_").toString
    val sh = new GraftSql(spark, wh)
    sh.sql("""CREATE TABLE meas_j (sensor_id BIGINT, reading DECIMAL(5, 1),
             |    event_time AS PROCTIME()
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("""CREATE TABLE dim_j (sensor_id BIGINT, latitude DOUBLE PRECISION,
             |    PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH ('changelog-producer' = 'input')""".stripMargin)
    sh.sql("""CREATE TABLE enr_j (sensor_id BIGINT, reading DECIMAL(5, 1), latitude DOUBLE
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    def add(t: String, ids: Long*): Unit = {
      val view = s"${t}_rows"
      (if (t == "dim_j") ids.toDF("sensor_id").withColumn("latitude", lit(9.5))
       else ids.toDF("sensor_id").withColumn("reading", lit(1.0).cast("decimal(5,1)")))
        .createOrReplaceTempView(view)
      sh.sql(s"INSERT INTO $t SELECT * FROM $view")
    }
    val stmt = """INSERT INTO enr_j
                 |SELECT /*+ LOOKUP('table'='s', 'retry-predicate'='lookup_miss',
                 |         'output-mode'='allow_unordered', 'max-attempts'='2') */
                 |    m.sensor_id, m.reading, s.latitude
                 |FROM meas_j AS m
                 |    JOIN dim_j FOR SYSTEM_TIME AS OF m.event_time AS s
                 |        ON m.sensor_id = s.sensor_id""".stripMargin
    val retryDir = java.nio.file.Paths.get(s"$wh/default.db/enr_j/lookup-retry")
    def names(sub: String, prefix: String): Seq[String] =
      graft.table.StreamTable.listDir(retryDir.resolve(sub)).map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).sorted
    /** The write job ids in the names of a batch's miss files. */
    def writeJobs(id: String): Set[String] = {
      val JobOf = "part-\\d{5}-(.{36})-c\\d{3}.*\\.parquet".r
      Seq(s"pending-$id", s"dead/batch-$id").flatMap(d => names(d, "part-"))
        .collect { case JobOf(job) => job }.toSet
    }
    // drain 1: key 2 parks, nothing dead-letters; drain 2: key 2 reaches
    // the cap, key 3 parks
    add("dim_j", 1L); add("meas_j", 1L, 2L)
    sh.sql(stmt)
    add("meas_j", 3L)
    sh.sql(stmt)
    val batches = names(".", "pending-").map(_.stripPrefix("pending-"))
    assert(batches.size == 2, batches)
    for (id <- batches)
      assert(writeJobs(id).size == 1,
        s"batch $id: one job writes the parked misses and the dead letters: " +
          (names(s"pending-$id", "part-") ++ names(s"dead/batch-$id", "part-")))
    val last = batches.maxBy(_.toLong)
    assert(spark.read.parquet(retryDir.resolve(s"pending-$last").toString)
      .select("sensor_id").as[Long].collect().toSeq == Seq(3L))
    assert(spark.read.parquet(retryDir.resolve(s"dead/batch-$last").toString)
      .select("sensor_id").as[Long].collect().toSeq == Seq(2L))
    assert(sh.sql("SELECT sensor_id FROM enr_j").as[Long].collect().toSeq == Seq(1L))
    assert(spark.sharedState.cacheManager.isEmpty, "the drain caches nothing")
    assert(!graft.table.StreamTable.listDir(retryDir)
      .exists(_.getFileName.toString.startsWith("_routed-")), "no staging dir is left")
  }

  test("SYSTEM_TIME rewrite refuses ambiguous fact-table shapes (CTE, " +
      "subquery FROM, fact referenced twice) instead of streaming the wrong table") {
    import spark.implicits._
    val sh = shell()
    sh.sql("""CREATE TABLE m_amb (
             |    sensor_id BIGINT, reading DECIMAL(5, 1),
             |    event_time AS PROCTIME()
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    sh.sql("""CREATE TABLE d_amb (
             |    sensor_id BIGINT, latitude DOUBLE PRECISION,
             |    PRIMARY KEY (sensor_id) NOT ENFORCED
             |) WITH ('changelog-producer' = 'input')""".stripMargin)
    sh.sql("""CREATE TABLE e_amb (
             |    sensor_id BIGINT, latitude DOUBLE
             |) WITH ('bucket' = '1', 'bucket-key' = 'sensor_id')""".stripMargin)
    // a CTE body's FROM must not be captured as the fact table
    val cte = intercept[IllegalArgumentException] {
      sh.sql("""INSERT INTO e_amb
               |WITH base AS (SELECT sensor_id FROM d_amb)
               |SELECT m.sensor_id, s.latitude
               |FROM m_amb AS m
               |    JOIN d_amb FOR SYSTEM_TIME AS OF m.event_time AS s
               |        ON m.sensor_id = s.sensor_id""".stripMargin)
    }
    assert(cte.getMessage.contains("CTE"), cte.getMessage)
    // a scalar subquery's FROM before the join must refuse, not mis-anchor
    val sub = intercept[IllegalArgumentException] {
      sh.sql("""INSERT INTO e_amb
               |SELECT (SELECT max(sensor_id) FROM d_amb), s.latitude
               |FROM m_amb AS m
               |    JOIN d_amb FOR SYSTEM_TIME AS OF m.event_time AS s
               |        ON m.sensor_id = s.sensor_id""".stripMargin)
    }
    assert(sub.getMessage.contains("exactly ONE FROM"), sub.getMessage)
    // the fact table referenced twice: the rewrite streams only the first —
    // refuse rather than silently mixing stream and snapshot reads
    val twice = intercept[IllegalArgumentException] {
      sh.sql("""INSERT INTO e_amb
               |SELECT m.sensor_id, s.latitude
               |FROM m_amb AS m
               |    JOIN d_amb FOR SYSTEM_TIME AS OF m.event_time AS s
               |        ON m.sensor_id = s.sensor_id
               |        AND m.sensor_id IN (SELECT sensor_id FROM m_amb)""".stripMargin)
    }
    assert(twice.getMessage.contains("exactly once"), twice.getMessage)
  }
}

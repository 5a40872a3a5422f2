package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftScan
import graft.table.StreamTable

/** DataSourceV2 connector (sources/v2): plan-level assertions beyond the
  * DuckDB oracles — file skipping by footer stats, filter pushdown visible
  * in the scan, column pruning reaching the reader, type-bridge round-trip,
  * and schema-evolution null-fill. */
class V2ConnectorSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.sf

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
    // AQE hides the physical leaves pre-execution; the optimized logical
    // plan carries the committed Scan either way
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[GraftScan]

  test("key-range filter skips files and shows PushedFilters in the plan") {
    val df = SparkEntry.queries("q_source_v2_pushdown")(spark, sf)
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("PushedFilters: ["), desc)
    assert(desc.contains("GreaterThanOrEqual(l_orderkey,1000)"), desc)
    // 8 key-range batches; a [1000, 2500] slice of a ~6000-key space must
    // prune most files
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt >= 8, desc)
    assert(kept.toInt < total.toInt / 2, s"no skipping: $desc")
    // column pruning reached the scan
    assert(scan.readSchema().fieldNames.toSeq ==
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))
  }

  test("connector read equals a plain parquet read of the same table") {
    val root = java.nio.file.Files.createTempDirectory("v2_rt_").toString
    val tbl = new StreamTable(root, spark)
    // type bridge: long, double, string, timestamp_ntz
    tbl.appendBatch(Tables.orders(spark, sf), 0L)
    val viaV2 = spark.read.format("graft").load(root).orderBy("o_orderkey")
    val direct = Tables.orders(spark, sf).orderBy("o_orderkey")
    assert(viaV2.schema == direct.schema)
    assert(viaV2.collect().toSeq == direct.collect().toSeq)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("schema evolution: columns a file predates are null-filled") {
    val root = java.nio.file.Files.createTempDirectory("v2_evo_").toString
    val tbl = new StreamTable(root, spark)
    import spark.implicits._
    tbl.appendBatch(Seq((1L, "a")).toDF("id", "s"), 0L)
    tbl.appendBatch(Seq((2L, "b", 9.5)).toDF("id", "s", "x"), 1L)
    val rows = spark.read.format("graft").load(root)
      .orderBy("id").select("id", "s", "x").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(2), "pre-evolution file must null-fill x")
    assert(rows(1).getDouble(2) == 9.5)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("catalog plugin resolves qualified identifiers through plain SQL") {
    val df = SparkEntry.queries("q_source_v2_catalog")(spark, sf)
    assert(df.count() > 0)
    // identifier resolution went through the V2 catalog → GraftScan leaf
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.exists(_.isInstanceOf[GraftScan]))
  }

  test("streaming source delivers commits incrementally by snapshot offset") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_ms_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 0L)
    val chk = java.nio.file.Files.createTempDirectory("v2_ms_chk_").toString
    val out = java.nio.file.Files.createTempDirectory("v2_ms_out_").toString

    // memory sink cannot recover from a checkpoint; a durable sink proves
    // the restart path (offsets are durable snapshot ids)
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", chk).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 2)

    // restart from the same checkpoint: ONLY the new commits arrive
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "s"), 1L)
    tbl.appendBatch(Seq((4L, "d")).toDF("id", "s"), 2L)
    drain()
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("CALL sys.rescale: offline bucket rewrite preserves the view, relayouts, new writes land") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "rs",
      Map("primary-key" -> "id", "bucket" -> "2"))
    tbl.appendBatch((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((7L, "v7b"), (8L, "v8b")).toDF("id", "v"), 1L)
    val before = spark.sql(s"SELECT id, v FROM $cat.db.rs ORDER BY id").collect().toSeq

    val res = spark.sql(
      s"CALL $cat.sys.rescale(`table` => 'db.rs', buckets => 4)").collect().head
    assert(res.getInt(1) == 4)
    assert(gc.tableOptions("db", "rs")("bucket") == "4")
    // every live file re-clustered into the 4-bucket layout
    val reloaded = gc.getTable("db", "rs")
    val buckets = reloaded.filesView.select("bucket").collect()
      .map(_.getInt(0)).toSet
    assert(buckets.subsetOf(Set(0, 1, 2, 3)) && buckets.size > 2, buckets.toString)
    // the resolved view is untouched
    assert(spark.sql(s"SELECT id, v FROM $cat.db.rs ORDER BY id").collect().toSeq
      == before)
    // a write through the RELOADED table stamps new-count ids and resolves
    reloaded.appendBatch(Seq((7L, "v7c"), (200L, "new")).toDF("id", "v"), 2L)
    val after = spark.sql(
      s"SELECT v FROM $cat.db.rs WHERE id IN (7, 200) ORDER BY id").collect()
      .map(_.getString(0)).toSeq
    assert(after == Seq("v7c", "new"), after.toString)
  }

  test("scan.mode=latest / scan.snapshot-id position a FRESH stream") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_scanmode_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 0L)
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "s"), 1L)
    tbl.appendBatch(Seq((4L, "d")).toDF("id", "s"), 2L)

    def drain(opts: Map[String, String]): Seq[(Long, String)] = {
      val chk = java.nio.file.Files.createTempDirectory("v2_sm_chk_").toString
      val out = java.nio.file.Files.createTempDirectory("v2_sm_out_").toString
      val q = opts.foldLeft(spark.readStream.format("graft")) {
        case (r, (k, v)) => r.option(k, v) }.load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", chk).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
    }
    // from-snapshot: delivery starts AT snapshot 1 — no snapshot-0 catch-up
    assert(drain(Map("scan.snapshot-id" -> "1")) ==
      Seq((3L, "c"), (4L, "d")))
    // latest: changes only; nothing existed after the head when it drained
    assert(drain(Map("scan.mode" -> "latest")) == Seq.empty)
    // default: full catch-up
    assert(drain(Map.empty) ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // a CHECKPOINTED stream ignores the start option: restarting the
    // scan.snapshot-id=1 drain with MORE options must resume from its
    // stored offset (deliver only the new commit), not re-position
    val chk2 = java.nio.file.Files.createTempDirectory("v2_sm_chk2_").toString
    val out2 = java.nio.file.Files.createTempDirectory("v2_sm_out2_").toString
    def drain2(startAt: String): Seq[(Long, String)] = {
      val q = spark.readStream.format("graft")
        .option("scan.snapshot-id", startAt).load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", chk2).option("path", out2)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out2).as[(Long, String)].collect().sorted.toSeq
    }
    assert(drain2("2") == Seq((4L, "d")))
    tbl.appendBatch(Seq((5L, "e")).toDF("id", "s"), 3L)
    // restart with a DIFFERENT scan.snapshot-id: checkpoint wins
    assert(drain2("1") == Seq((4L, "d"), (5L, "e")))

    // the CDC stream honors the same options: a producer PK table's
    // snapshot-1 changelog alone
    val (_, gc) = freshCatalog()
    val pk = gc.createTable("db", "sm_pk",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    pk.appendBatch(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    pk.appendBatch(Seq((1L, "a1")).toDF("id", "v"), 1L)
    val chk = java.nio.file.Files.createTempDirectory("v2_sm_cl_chk_").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val q = spark.readStream.format("graft")
      .option("read-changelog", "true").option("scan.snapshot-id", "1")
      .load(pk.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= df.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))) }; ()
      }.option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(seen.sortBy(t => (t._1, t._3)).toSeq ==
      Seq((1L, "a1", "+U"), (1L, "a0", "-U")), seen.toString)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("INSERT INTO through the catalog commits via the manifest protocol") {
    val df = SparkEntry.queries("q_source_v2_write")(spark, sf)
    val expect = Tables.customer(spark, sf)
      .filter(org.apache.spark.sql.functions.col("c_acctbal") > 0).count()
    assert(df.count() == expect)
    // idempotent second run (table exists → no re-insert)
    assert(SparkEntry.queries("q_source_v2_write")(spark, sf).count() == expect)
  }

  test("time travel pins versions; $files counts the physical layout") {
    val tt = SparkEntry.queries("q_source_v2_time_travel")(spark, sf)
    assert(tt.count() == Tables.nation(spark, sf).count())
    // latest version has both batches
    val catName = {
      val df = SparkEntry.queries("q_source_v2_files")(spark, sf)
      assert(df.head().getLong(0) == Tables.orders(spark, sf).count())
      // file count (parallelism-dependent, so spec-only): every live file
      // appears in $files exactly once
      spark.conf.getAll.keys.find(_.startsWith("spark.sql.catalog.graft_v2_"))
        .map(_.stripPrefix("spark.sql.catalog.").takeWhile(_ != '.')).get
    }
    val latest = spark.sql(s"SELECT * FROM $catName.v2db.nation_tt")
    assert(latest.count() == 2 * Tables.nation(spark, sf).count())
    val nFiles = spark.sql(s"SELECT count(*) FROM $catName.v2db.`nation_tt$$files`")
      .head().getLong(0)
    assert(nFiles >= 2, s"two batches must leave >= 2 files, got $nFiles")
  }

  test("type bridge round-trips every supported type including nulls") {
    val root = java.nio.file.Files.createTempDirectory("v2_types_").toString
    val tbl = new StreamTable(root, spark)
    val df = spark.sql("""
      SELECT id,
        CASE WHEN id % 3 = 0 THEN NULL ELSE id % 2 = 0 END AS b,
        CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id as int) END AS i,
        cast(id * 1e6 as long) AS l,
        CASE WHEN id % 4 = 0 THEN NULL ELSE cast(id as float) / 3.0f END AS f,
        cast(id as double) / 7.0 AS d,
        CASE WHEN id % 6 = 0 THEN NULL
             ELSE concat('héllo ✓ ', id) END AS s,
        cast(concat('bin', id) as binary) AS bin,
        date_add(date'2020-01-01', cast(id as int)) AS dt,
        timestampadd(HOUR, cast(id as int), timestamp_ntz'2024-06-01 12:00:00') AS ts,
        cast(id * 1.25 as decimal(10,2)) AS dec10,
        cast(id * 1.0001 as decimal(30,4)) AS dec30
      FROM range(0, 97)""")
    tbl.appendBatch(df, 0L)
    val viaV2 = spark.read.format("graft").load(root).orderBy("id")
    // parquet surfaces everything nullable; names and types must match
    assert(viaV2.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val got = viaV2.collect()
    val expect = df.orderBy("id").collect()
    for ((g, e) <- got.zip(expect); idx <- df.schema.indices) {
      val same = (g.get(idx), e.get(idx)) match {
        case (a: Array[Byte], b: Array[Byte]) => a.sameElements(b)
        case (a, b) => a == b
      }
      assert(same, s"col ${df.schema(idx).name}: ${g.get(idx)} != ${e.get(idx)}")
    }
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("expired start offset fails loudly instead of re-delivering") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_exp_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a")).toDF("id", "s"), 0L)
    tbl.appendBatch(Seq((2L, "b")).toDF("id", "s"), 1L)
    val ms = new graft.sources.v2.GraftMicroBatchStream(tbl,
      spark.read.parquet(tbl.latestSnapshot.get.files.head.path)
        .drop(StreamTable.SeqColName).schema)
    // snapshot 0 expired (only the latest is findable) → diff from 0 must
    // throw, never silently re-deliver the live set
    tbl.expireSnapshots(numRetainedMin = 1, numRetainedMax = 1, timeRetainedMs = 0L)
    val e = intercept[IllegalStateException] {
      ms.planInputPartitions(graft.sources.v2.GraftOffset(0L),
        graft.sources.v2.GraftOffset(1L))
    }
    assert(e.getMessage.contains("retention-expired"), e.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("PK tables read through the catalog via the merge-on-read scan") {
    val wh = java.nio.file.Files.createTempDirectory("v2_pk_wh_").toString
    val cat = new graft.table.GraftCatalog(spark, wh)
    val t = cat.createTable("d", "pk_t", Map("primary-key" -> "k"))
    import spark.implicits._
    t.appendBatch(Seq((1L, "v1")).toDF("k", "v"), 0L)
    t.appendBatch(Seq((1L, "v2")).toDF("k", "v"), 1L)
    val catName = s"graft_pk_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    val rows = spark.sql(s"SELECT k, v FROM $catName.d.pk_t").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "v2")))
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from metadata only") {
    val df = SparkEntry.queries("q_source_v2_agg_pushdown")(spark, sf)
    // the aggregate collapsed into the scan: no aggregate exec survives
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"aggregate was not pushed:\n$plan")
    val scanDesc = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.get
    assert(scanDesc.contains("PushedAggregates"), scanDesc)
    // answers match the distributed aggregate over the raw table
    val li = Tables.lineitem(spark, sf)
    import org.apache.spark.sql.functions._
    val expect = li.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).head()
    val got = df.head()
    assert(got.getLong(0) == expect.getLong(0), "count(*)")
    assert(got.getLong(1) == expect.getLong(1), "min")
    assert(got.getLong(2) == expect.getLong(2), "max")
  }

  test("aggregate pushdown: MAX of a timestamp_ntz answers from manifest ISO stats") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    // the year-batched orders table: the freshness check answers metadata-only
    val root = scanOf(SparkEntry.queries("q_source_v2_date_pushdown")(spark, sf))
      .tableRoot
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"),
        min("o_orderdate").as("first"), max("o_orderdate").as("last"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"temporal min/max was not pushed:\n$plan")
    val expect = Tables.orders(spark, sf)
      .agg(count(lit(1)), min("o_orderdate"), max("o_orderdate")).head()
    val got = df.head()
    assert(got.getLong(0) == expect.getLong(0))
    assert(got.getAs[java.time.LocalDateTime](1) ==
      expect.getAs[java.time.LocalDateTime](1), "min(ntz)")
    assert(got.getAs[java.time.LocalDateTime](2) ==
      expect.getAs[java.time.LocalDateTime](2), "max(ntz)")
  }

  test("grouped aggregate pushdown: per-file-constant group column answers from metadata") {
    import org.apache.spark.sql.functions.{count, lit, max, min, col}
    val df = SparkEntry.queries("q_source_v2_group_agg")(spark, sf)
    // the whole GROUP BY collapsed into the scan: no aggregate exec survives
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"grouped aggregate was not pushed:\n$plan")
    val scanDesc = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.get
    assert(scanDesc.contains("group by"), scanDesc)
    // answers equal the distributed aggregate over the raw table
    val want = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), min("user_id").as("min_uid"),
        max("user_id").as("max_uid"))
      .orderBy("event_type").collect().toSeq
    assert(df.collect().toSeq == want)

    // NULL group + all-null files: a file that PREDATES the column and a
    // file with every value null both land in the NULL group exactly
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_gagg_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a"), (2L, "a")).toDF("id", "g").coalesce(1), 0L)
    tbl.appendBatch(Seq((3L, "b")).toDF("id", "g").coalesce(1), 1L)
    tbl.appendBatch(Seq((4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])).toDF("id", "g").coalesce(1), 2L)
    val g = spark.read.format("graft").load(root)
      .groupBy("g").agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(!g.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(g.orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((null, 2L, 5L), ("a", 2L, 2L), ("b", 1L, 3L)))
    // a MULTI-VALUED file refuses the push; the real aggregate still answers
    tbl.appendBatch(Seq((6L, "a"), (7L, "c")).toDF("id", "g").coalesce(1), 3L)
    val g2 = spark.read.format("graft").load(root)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(g2.queryExecution.executedPlan.toString.contains("Aggregate"),
      "a multi-valued file must refuse the grouped push")
    assert(g2.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq((null, 2L), ("a", 3L), ("b", 1L), ("c", 1L)))
    // a MIXED null/value file refuses too (two groups in one file)
    val root2 = java.nio.file.Files.createTempDirectory("v2_gagg2_").toString
    val tbl2 = new StreamTable(root2, spark)
    tbl2.appendBatch(Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("id", "g").coalesce(1), 0L)
    val g3 = spark.read.format("graft").load(root2)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(g3.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(g3.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq((null, 1L), ("a", 1L)))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
    StreamTable.deleteTree(java.nio.file.Paths.get(root2))
  }

  test("aggregate pushdown refuses when a WHERE filter is present") {
    val df = spark.read.format("graft")
      .load(stagedLineitemRoot)
      .where(org.apache.spark.sql.functions.col("l_quantity") > 10)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    // filters are residual in this source, so the push must NOT happen —
    // a metadata count would ignore the predicate and be wrong
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"), s"expected a real aggregate:\n$plan")
    val expect = Tables.lineitem(spark, sf)
      .where(org.apache.spark.sql.functions.col("l_quantity") > 10).count()
    assert(df.head().getLong(0) == expect)
  }

  test("limit pushdown caps per-file delivery; result stays exact") {
    val df = spark.read.format("graft").load(stagedLineitemRoot).limit(37)
    assert(df.count() == 37)
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("PushedLimit: 37"), desc)
    // a pushed limit rides the columnar decoder (batches trimmed via
    // setNumRows), not the row reader
    val f = scan.createReaderFactory()
    assert(f.supportColumnarReads(scan.planInputPartitions().head),
      "pushed limit should stay columnar")
  }

  test("reported statistics auto-broadcast the small graft side") {
    val df = SparkEntry.queries("q_source_v2_stats_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small graft table should auto-broadcast via reported stats:\n$plan")
    // and the estimate itself is the manifest truth
    val small = spark.read.format("graft").load(stagedLineitemRoot)
    val stats = scanOf(small).estimateStatistics()
    assert(stats.numRows().getAsLong ==
      Tables.lineitem(spark, sf).count())
    assert(stats.sizeInBytes().getAsLong > 0)
  }

  test("runtime V2 filtering prunes files by the join key set") {
    val df = spark.read.format("graft").load(stagedLineitemRoot)
    val scan = scanOf(df)
    val total = scan.planInputPartitions().length
    assert(total >= 8, s"expected the 8 range batches, got $total")
    // simulate the DPP hand-off: keys all land in one key-range file
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val in = new Predicate("IN",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("l_orderkey"),
        Expressions.literal(java.lang.Long.valueOf(1010L)),
        Expressions.literal(java.lang.Long.valueOf(1020L))))
    scan.filter(Array(in))
    val after = scan.planInputPartitions().length
    assert(after < total, s"runtime filter pruned nothing: $after/$total")
    assert(after >= 1)
  }

  test("runtime V2 filtering prunes time-ranged files by a temporal join key") {
    // the star-schema DPP shape: surviving date-dim keys hand to the fact
    // scan as internal epoch micros; the scan converts and prunes against
    // the ISO-rendered manifest stats — week files outside the key set drop
    val root = scanOf(
      SparkEntry.queries("q_source_v2_ts_pushdown")(spark, sf)).tableRoot
    val df = spark.read.format("graft").load(root)
    val scan = scanOf(df)
    val total = scan.planInputPartitions().length
    assert(total == 5, s"expected the 5 week batches, got $total")
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val us = java.time.Instant.parse("2024-01-10T00:00:00Z")
      .getEpochSecond * 1000000L
    val tsLit = new org.apache.spark.sql.connector.expressions.Literal[java.lang.Long] {
      override def value(): java.lang.Long = java.lang.Long.valueOf(us)
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.TimestampType
    }
    val eq = new Predicate("=",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("ts"), tsLit))
    scan.filter(Array(eq))
    val after = scan.planInputPartitions().length
    assert(after == 1, s"a single instant must keep only its week file: $after/$total")
  }

  test("a data column named like a metadata column shadows it (stored data wins)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_shadow_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, 777L), (2L, 888L)).toDF("id", "_graft_seq"), 0L)
    val rows = spark.read.format("graft").load(root)
      .select("id", "_graft_seq").orderBy("id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(777L, 888L),
      "stored values, not manifest constants")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("bucket pruning: a point lookup reads one bucket's files") {
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("v2_bpt_wh_").toString
    val cat = new graft.table.GraftCatalog(spark, wh)
    val t = cat.createTable("d", "pt_t", Map("bucket-key" -> "id", "bucket" -> "8"))
    import spark.implicits._
    t.appendBatch((0L until 4000L).map(i => (i, i * 3.0)).toDF("id", "x"), 0L)
    t.appendBatch((4000L until 8000L).map(i => (i, i * 3.0)).toDF("id", "x"), 1L)
    val catName = s"graft_bpt_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    val df = spark.sql(s"SELECT id, x FROM $catName.d.pt_t WHERE id = 1234")
    val desc = scanOf(df).description()
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt == 16, desc)
    // arithmetic prunes to the key's bucket: ≤ 1 file per batch (stats may
    // drop the second batch too — 1234 is outside its key range)
    assert(kept.toInt <= 2, s"point lookup must stay in one bucket: $desc")
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1234L, 3702.0)))
  }

  test("native streaming sink: graft-to-graft pipe, exactly-once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("v2_sink_src_").toString
    val dst = java.nio.file.Files.createTempDirectory("v2_sink_dst_").toString
    val chk = java.nio.file.Files.createTempDirectory("v2_sink_chk_").toString
    val srcT = new StreamTable(src, spark)
    srcT.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 0L)

    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    pipe()
    val dstT = new StreamTable(dst, spark)
    assert(dstT.read.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))

    // incremental: only the new source commit flows; no duplicates
    srcT.appendBatch(Seq((3L, "c")).toDF("id", "s"), 1L)
    pipe()
    assert(dstT.read.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // ANOTHER writer interleaving must not make the sink's next epoch look
    // already-committed (replay detection is per-writer evidence, not the
    // global batch-id watermark — a watermark check would DELETE the
    // epoch's data here)
    dstT.appendBatch(Seq((100L, "w")).toDF("id", "s"),
      dstT.latestSnapshot.get.batchId + 1)
    srcT.appendBatch(Seq((4L, "d")).toDF("id", "s"), 2L)
    pipe()
    assert(dstT.read.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (100L, "w")))

    // a FRESH checkpoint (new queryId) re-delivers the live set under a new
    // writer offset — appended, never silently skipped as an epoch replay
    val chk2 = java.nio.file.Files.createTempDirectory("v2_sink_chk2_").toString
    val q2 = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", chk2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(dstT.read.count() == 9, "fresh query must append, not no-op")
    // PK tables now UPSERT through the sink (stamped commit sequences —
    // deeper coverage in the dedicated sink test): the catalog .toTable
    // door resolves the LWW view afterwards
    val wh = java.nio.file.Files.createTempDirectory("v2_sink_pk_wh_").toString
    val catName = s"graft_psk_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    spark.sql(s"CREATE TABLE $catName.d.pk_sink (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('primary-key' = 'id')")
    val q3 = spark.readStream.format("graft").load(src)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("v2_sink_chk3_").toString)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$catName.d.pk_sink")
    q3.awaitTermination()
    // the source holds 4 distinct keys (1..4); the PK view resolves them
    assert(spark.sql(s"SELECT count(*) FROM $catName.d.pk_sink")
      .head().getLong(0) == 4)
    // the direct-API fence that REMAINS: a PK sink schema must carry the
    // key columns (stamping cannot route rows without them)
    val e2 = intercept[IllegalArgumentException] {
      new graft.sources.v2.GraftStreamingWrite(
        new StreamTable(java.nio.file.Files.createTempDirectory("v2_pk2_").toString,
          spark, primaryKey = Some(Seq("id"))),
        new org.apache.spark.sql.types.StructType().add("s", "string"), "q1")
    }
    assert(e2.getMessage.contains("key column"), e2.getMessage)
    Seq(src, dst).foreach(p => StreamTable.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("INSERT OVERWRITE replaces the table in one atomic commit") {
    val wh = java.nio.file.Files.createTempDirectory("v2_ovw_wh_").toString
    val catName = s"graft_ovw_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    spark.sql(s"CREATE TABLE $catName.d.ovw_t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $catName.d.ovw_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"INSERT OVERWRITE $catName.d.ovw_t VALUES (10, 'x'), (11, 'y')")
    val now = spark.sql(s"SELECT id, v FROM $catName.d.ovw_t ORDER BY id").collect()
    assert(now.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "x"), (11L, "y")))
    // the replaced version remains time-travelable (snapshot 0 = the insert)
    val old = spark.sql(
      s"SELECT id FROM $catName.d.ovw_t VERSION AS OF 0 ORDER BY id").collect()
    assert(old.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming consumer-id registers and advances a retention root") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_cons_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a")).toDF("id", "s"), 0L)
    tbl.appendBatch(Seq((2L, "b")).toDF("id", "s"), 1L)
    val chk = java.nio.file.Files.createTempDirectory("v2_cons_chk_").toString
    val out = java.nio.file.Files.createTempDirectory("v2_cons_out_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("consumer-id", "etl-job").load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", chk).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // registration is immediate (the root exists before any expiry window)
    assert(tbl.consumers.toMap.contains("etl-job"))
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "s"), 2L)
    drain()
    // a later run commits the earlier trigger: the consumer has advanced
    // past the first drained snapshot (commit() is post-checkpoint, so the
    // position trails by at most one trigger — retention keeps that margin)
    val pos = tbl.consumers.toMap.apply("etl-job")
    assert(pos >= 2L, s"consumer must advance after a committed trigger, got $pos")
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES through the V2 catalog") {
    val wh = java.nio.file.Files.createTempDirectory("v2_alter_wh_").toString
    val cat = new graft.table.GraftCatalog(spark, wh)
    val catName = s"graft_alt_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    spark.sql(s"CREATE TABLE $catName.d.alt_t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('k0' = 'v0')")
    spark.sql(s"ALTER TABLE $catName.d.alt_t SET TBLPROPERTIES " +
      "('snapshot.num-retained.max' = '5', 'k0' = 'v1')")
    val opts = cat.tableOptions("d", "alt_t")
    assert(opts("snapshot.num-retained.max") == "5" && opts("k0") == "v1")
    spark.sql(s"ALTER TABLE $catName.d.alt_t UNSET TBLPROPERTIES ('k0')")
    assert(!cat.tableOptions("d", "alt_t").contains("k0"))
    // structural keys refuse the property path
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $catName.d.alt_t SET TBLPROPERTIES ('bucket' = '16')")
    }
    assert(e.getMessage.contains("immutable table structure"), e.getMessage)
  }

  test("scan reports skipping metrics for the SQL UI") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft").load(stagedLineitemRoot)
      .where(col("l_orderkey").between(1000, 2500))
    val scan = scanOf(df)
    val m = scan.reportDriverMetrics().map(t => t.name() -> t.value()).toMap
    assert(m("graftFilesSkipped") > 0, s"stats must skip key-range files: $m")
    assert(m("graftFilesRead") >= 1 && m("graftBytesPlanned") > 0, m.toString)
    assert(m("graftFooterReads") == 0,
      s"manifest-served stats must not open footers at plan time: $m")
    assert(scan.supportedCustomMetrics().map(_.name()).toSet ==
      m.keySet)
  }

  test("stats-pruned plans open ZERO footers: skipping, agg push, $files all manifest-served") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_nostat_").toString
    val tbl = new StreamTable(root, spark)
    (0 until 4).foreach { b =>
      tbl.appendBatch((b * 1000L until (b + 1) * 1000L)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), b.toLong)
    }
    StreamTable.planFooterReads.set(0L)
    // 1. stats-based file skipping prunes to one key-range file
    val filtered = spark.read.format("graft").load(root)
      .where(col("id").between(1200L, 1800L))
    val scan = scanOf(filtered)
    val m = scan.reportDriverMetrics().map(t => t.name() -> t.value()).toMap
    assert(m("graftFilesSkipped") >= 3, m.toString)
    assert(filtered.count() == 601L)
    // 2. metadata-only COUNT/MIN/MAX answers from the manifest alone
    val agg = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("id")).collect().head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == (4000L, 0L, 3999L))
    // 3. $files serves min/max stats straight from the manifest
    val fv = tbl.filesView.select("file_path", "record_count", "min_value_stats")
      .collect()
    assert(fv.length == 4 && fv.forall(_.getLong(1) == 1000L))
    assert(fv.forall(r =>
      r.getAs[Map[String, String]]("min_value_stats").contains("id")))
    assert(StreamTable.planFooterReads.get() == 0L,
      s"plan-time footer opens: ${StreamTable.planFooterReads.get()} (want 0)")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("version-0 manifests without stats: refused, compact upgrades") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val doors = new FormatFixture.Doors("nostats", Map.empty)
    val tbl = doors.table
    (0 until 3).foreach { b =>
      tbl.appendBatch((b * 100L until (b + 1) * 100L)
        .map(i => (i, i * 1.5)).toDF("id", "x"), b.toLong)
    }
    def pruned() = doors.connector
      .where(col("id").between(120L, 180L)).orderBy("id").collect().toSeq
    val before = (pruned(), doors.answers(Seq("id", "x")))
    assert(before._2.distinct.size == 1, before._2)
    // strip the persisted stats from every metadata JSON and stamp the
    // snapshots version 0: a table written before the commits captured
    // stats. File entries live in the delta manifests; changelog entries
    // stay inline in snapshots.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("_snapshots", "_manifests").foreach { d =>
      val dir = java.nio.file.Paths.get(tbl.root, d)
      StreamTable.listDir(dir).filter(_.toString.endsWith(".json")).foreach { p =>
        val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        Seq("files", "changelog", "added").foreach { arr =>
          val a = node.get(arr)
          if (a != null && a.isArray) a.forEach { f =>
            f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              .remove(java.util.Arrays.asList(
                "minStats", "maxStats", "fileCols", "badStats"))
          }
        }
        java.nio.file.Files.write(p, mapper.writeValueAsBytes(node))
      }
    }
    FormatFixture.toVersion0(tbl.root)
    doors.assertAllRefused()
    FormatFixture.assertRefused("$files")(doors.reopen().filesView.collect())
    doors.upgrade()
    val up = doors.reopen()
    FormatFixture.assertUpgraded(up)
    assert(up.latestSnapshot.get.files.forall(f =>
      f.minStats.isDefined && f.maxStats.isDefined && f.fileCols.isDefined))
    StreamTable.planFooterReads.set(0L)
    assert((pruned(), doors.answers(Seq("id", "x"))) == before,
      "the upgrade must not change answers")
    assert(StreamTable.planFooterReads.get() == 0L)
  }

  test("columnar fast path engages iff provably safe") {
    import org.apache.spark.sql.functions.col
    def factoryOf(df: org.apache.spark.sql.DataFrame) = {
      val scan = scanOf(df)
      (scan.createReaderFactory(), scan.planInputPartitions().head)
    }
    // clean projection over uniform files → vectorized
    val clean = spark.read.format("graft").load(stagedLineitemRoot)
      .select("l_orderkey", "l_quantity")
    val (fClean, pClean) = factoryOf(clean)
    assert(fClean.supportColumnarReads(pClean), "expected the columnar path")
    // a pushed filter → STILL columnar (filters are residual, so the
    // vectorized decode only needs row-group/page pruning, never
    // record-level truth)
    val filtered = spark.read.format("graft").load(stagedLineitemRoot)
      .where(col("l_orderkey") > 1000)
    val (fFilt, pFilt) = factoryOf(filtered)
    assert(fFilt.supportColumnarReads(pFilt),
      "pushed filters should stay on the columnar path")
    // metadata columns → row reader (manifest constants live there)
    val meta = spark.read.format("graft").load(stagedLineitemRoot)
      .select(col("l_orderkey"), col("_graft_seq"))
    val (fMeta, pMeta) = factoryOf(meta)
    assert(!fMeta.supportColumnarReads(pMeta), "metadata cols must take the row path")
    // a metadata-column predicate survives pruning (the residual Filter
    // needs it), forcing the whole-scan row path — the row-reader ground
    // truth: columnar must agree with it bit for bit
    val viaRow = spark.read.format("graft").load(stagedLineitemRoot)
      .where(col("_graft_seq") >= 0) // always true; keeps the meta col live
      .select("l_orderkey", "l_quantity").orderBy("l_orderkey", "l_quantity")
    assert(!scanOf(viaRow).createReaderFactory().supportColumnarReads(
      scanOf(viaRow).planInputPartitions().head))
    assert(clean.orderBy("l_orderkey", "l_quantity").collect().toSeq ==
      viaRow.collect().toSeq)
  }

  test("static IN list: pushed, file-skipped per value, OR-of-eq row groups, exact") {
    import org.apache.spark.sql.functions.col
    val root = stagedLineitemRoot
    val keys = {
      // one key from the lowest range batch, one from the highest — the IN
      // must keep exactly those two of the 8 range files
      val mm = spark.read.format("graft").load(root)
        .agg(org.apache.spark.sql.functions.min("l_orderkey"),
          org.apache.spark.sql.functions.max("l_orderkey")).head()
      Seq(mm.getLong(0), mm.getLong(1))
    }
    val df = spark.read.format("graft").load(root)
      .where(col("l_orderkey").isin(keys: _*))
      .select("l_orderkey", "l_quantity")
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("In(l_orderkey"), desc)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt >= 8 && kept.toInt <= 2,
      s"IN over two extreme keys must keep at most their two files: $desc")
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "a pushed IN should stay on the columnar path")
    val want = Tables.lineitem(spark, sf)
      .where(col("l_orderkey").isin(keys: _*))
      .select("l_orderkey", "l_quantity")
      .orderBy("l_orderkey", "l_quantity").collect().toSeq
    assert(df.orderBy("l_orderkey", "l_quantity").collect().toSeq == want)
  }

  test("OR of range predicates: pushed as a tree, skips per branch, exact") {
    import org.apache.spark.sql.functions.col
    val mm = spark.read.format("graft").load(stagedLineitemRoot)
      .agg(org.apache.spark.sql.functions.min("l_orderkey"),
        org.apache.spark.sql.functions.max("l_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // two disjoint windows at the extremes — a multi-tenant range union:
    // each branch keeps its own file(s), everything between skips
    val pred = (col("l_orderkey") <= lo) ||
      (col("l_orderkey") >= hi && col("l_quantity") > 0)
    val df = spark.read.format("graft").load(stagedLineitemRoot)
      .where(pred).select("l_orderkey", "l_quantity")
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("Or("), s"the OR tree must reach the scan: $desc")
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt >= 8 && kept.toInt <= 2,
      s"two extreme windows must keep at most two of the range files: $desc")
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads))
    val want = Tables.lineitem(spark, sf).where(pred)
      .select("l_orderkey", "l_quantity")
      .orderBy("l_orderkey", "l_quantity").collect().toSeq
    assert(df.orderBy("l_orderkey", "l_quantity").collect().toSeq == want)
  }

  test("StringStartsWith: prefix-ranged files skip; boundary prefixes stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("v2_prefix_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq("alpha", "apple", "azure").map(s => (s, 1L))
      .toDF("name", "n").coalesce(1), 0L)
    tbl.appendBatch(Seq("bravo", "bolt").map(s => (s, 2L))
      .toDF("name", "n").coalesce(1), 1L)
    tbl.appendBatch(Seq("delta", "drone").map(s => (s, 3L))
      .toDF("name", "n").coalesce(1), 2L)
    def scanDesc(prefix: String) = {
      val df = spark.read.format("graft").load(root)
        .where(col("name").startsWith(prefix))
      (scanOf(df).description(), df)
    }
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val (d1, q1) = scanDesc("b")
    val Files(k1, t1) = d1
    assert(t1.toInt == 3 && k1.toInt == 1, s"prefix 'b' keeps only its file: $d1")
    assert(q1.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("bolt", "bravo"))
    // a prefix between two files' ranges prunes everything
    val (d2, q2) = scanDesc("c")
    val Files(k2, _) = d2
    assert(k2.toInt == 0, s"prefix 'c' overlaps no file: $d2")
    assert(q2.count() == 0L)
    // boundary: prefix equal to a file's max still keeps it
    val (d3, q3) = scanDesc("azure")
    val Files(k3, _) = d3
    assert(k3.toInt == 1, d3)
    assert(q3.count() == 1L)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("timestamp_ntz range filter: pushed, file-skipped via ISO stats, columnar, exact") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = SparkEntry.queries("q_source_v2_date_pushdown")(spark, sf)
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("o_orderdate"), desc) // the ntz predicate reached the scan
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt == 7, desc) // one batch per order year
    assert(kept.toInt <= 2, s"the 1999 window must prune the other years: $desc")
    // the surviving file decodes columnar with the temporal predicate
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "temporal pushed filters should stay on the columnar path")
    // exact answers vs the in-memory ground truth
    val want = Tables.orders(spark, sf)
      .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("2000-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey").collect().toSeq
    assert(df.collect().toSeq == want)
    // boundary semantics: an equality on the exact min timestamp keeps its
    // file; a predicate OUTSIDE every file's range prunes everything
    val none = spark.read.format("graft")
      .load(scanOf(df).tableRoot)
      .where(col("o_orderdate") >= lit("2005-01-01").cast("timestamp_ntz"))
    val Files(k2, _) = scanOf(none).description()
    assert(k2.toInt == 0, s"out-of-range window must prune every file")
    assert(none.count() == 0L)
  }

  test("zoned timestamp range filter: pushed, file-skipped via +0000 stats, columnar, exact") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = SparkEntry.queries("q_source_v2_ts_pushdown")(spark, sf)
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("ts"), desc) // the zoned predicate reached the scan
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt == 5, desc) // one batch per January week
    assert(kept.toInt <= 2, s"the week-2 window must prune the other weeks: $desc")
    // the surviving file decodes columnar with the zoned predicate
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "zoned pushed filters should stay on the columnar path")
    // exact answers vs the in-memory ground truth
    val want = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
      .where(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .orderBy("event_id").collect().toSeq
    assert(df.collect().toSeq == want)
    // a window outside every file's range prunes everything
    val none = spark.read.format("graft").load(scanOf(df).tableRoot)
      .where(col("ts") >= lit("2026-01-01 00:00:00").cast("timestamp"))
    val Files(k2, _) = scanOf(none).description()
    assert(k2.toInt == 0, "out-of-range zoned window must prune every file")
    assert(none.count() == 0L)
    // the manifest's rendered stats carry the pinned stringifier format —
    // the "+0000"-suffixed offset datetime statMicrosZoned round-trips
    val withStats = new StreamTable(scanOf(df).tableRoot, spark)
      .latestSnapshot.get.files
    assert(withStats.nonEmpty)
    withStats.foreach { m =>
      val mn = m.minStats.getOrElse(Map.empty[String, String])("ts")
      assert(mn.endsWith("+0000"), s"zoned stat rendering changed: $mn")
      assert(graft.sources.v2.TemporalPush.statMicrosZoned(mn).isDefined,
        s"statMicrosZoned must parse the stringifier's own output: $mn")
    }
  }

  test("decimal range filter: pushed, file-skipped via scaled stats, columnar, exact") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = SparkEntry.queries("q_source_v2_dec_pushdown")(spark, sf)
    val scan = scanOf(df)
    val desc = scan.description()
    assert(desc.contains("o_price"), desc) // the decimal predicate reached the scan
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = desc
    assert(total.toInt == 4, desc) // one batch per price band
    assert(kept.toInt <= 1, s"the [250,500) band must prune the other bands: $desc")
    // the surviving file decodes columnar with the decimal predicate
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "pushed decimal filters should stay on the columnar path")
    // exact answers vs the in-memory ground truth
    val want = Tables.orders(spark, sf).selectExpr("o_orderkey",
      """CAST(CONCAT(CAST(o_orderkey % 1000 AS STRING), '.',
        |            CAST(o_custkey % 10 AS STRING)) AS DECIMAL(5,1)) AS o_price"""
        .stripMargin)
      .where(col("o_price") >= lit("250.0").cast("decimal(5,1)") &&
        col("o_price") < lit("500.0").cast("decimal(5,1)"))
      .selectExpr("o_orderkey", "CAST(o_price AS DOUBLE) AS price_d")
      .orderBy("o_orderkey").collect().toSeq
    assert(df.collect().toSeq == want)
    // a window outside every file's range prunes everything
    val none = spark.read.format("graft").load(scanOf(df).tableRoot)
      .where(col("o_price") >= lit("4000.0").cast("decimal(5,1)"))
    val Files(k2, _) = scanOf(none).description()
    assert(k2.toInt == 0, "out-of-range decimal window must prune every file")
    assert(none.count() == 0L)
    // the manifest's rendered stats carry parquet's SCALED stringification
    // ("249.9"), and statUnscaled round-trips it to the exact unscaled long
    val withStats = new StreamTable(scanOf(df).tableRoot, spark)
      .latestSnapshot.get.files
    assert(withStats.nonEmpty)
    withStats.foreach { m =>
      val mn = m.minStats.getOrElse(Map.empty[String, String])("o_price")
      assert(mn.contains("."), s"decimal stat rendering changed: $mn")
      assert(graft.sources.v2.DecimalPush.statUnscaled(mn, 1).isDefined,
        s"statUnscaled must parse the stringifier's own output: $mn")
    }
  }

  test("aggregate pushdown: MIN/MAX of a decimal answers from manifest stats") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val root = scanOf(SparkEntry.queries("q_source_v2_dec_pushdown")(spark, sf))
      .tableRoot
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"), min("o_price").as("lo"), max("o_price").as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"decimal min/max was not pushed:\n$plan")
    val expect = Tables.orders(spark, sf).selectExpr(
      """CAST(CONCAT(CAST(o_orderkey % 1000 AS STRING), '.',
        |            CAST(o_custkey % 10 AS STRING)) AS DECIMAL(5,1)) AS o_price"""
        .stripMargin)
      .agg(count(lit(1)), min("o_price"), max("o_price")).head()
    val got = df.head()
    assert(got.getLong(0) == expect.getLong(0))
    assert(got.getDecimal(1) == expect.getDecimal(1), "min(decimal)")
    assert(got.getDecimal(2) == expect.getDecimal(2), "max(decimal)")
  }

  test("precision>18 decimal (FLBA layout): never prunes, row reader decodes, exact") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // DECIMAL(22,2) forces parquet's FIXED_LEN_BYTE_ARRAY layout — byte-array
    // stats don't merge as longs, so every pushdown proof must refuse and
    // the residual Filter alone decides truth
    val root = java.nio.file.Files.createTempDirectory("v2_flba_").toString
    val tbl = new StreamTable(root, spark)
    val df = Seq("1.25", "2500000000000000000.50", "-3.75")
      .toDF("m").selectExpr("monotonically_increasing_id() AS id",
        "CAST(m AS DECIMAL(22,2)) AS m")
    tbl.appendBatch(df.repartition(1), 0L)
    tbl.appendBatch(df.selectExpr("id + 10 AS id",
      "m + CAST(100 AS DECIMAL(22,2)) AS m").repartition(1), 1L)
    val read = spark.read.format("graft").load(root)
      .where(col("m") > lit("2.0").cast("decimal(22,2)"))
    val scan = scanOf(read)
    // unsupported decimal width: the filter must NOT be pushed at all
    assert(!scan.description().contains("PushedFilters: [G"),
      s"precision>18 must refuse the push: ${scan.description()}")
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = scan.description()
    assert(total.toInt == 2 && kept.toInt == 2,
      s"FLBA stats must never prune files: ${scan.description()}")
    // FLBA decode is row-reader territory (columnar proof refuses)
    val f = scan.createReaderFactory()
    assert(!scan.planInputPartitions().forall(f.supportColumnarReads),
      "FLBA decimals must refuse the columnar path")
    // the residual filter still answers exactly
    val got = read.select("m").collect().map(_.getDecimal(0).toPlainString).sorted.toSeq
    assert(got == Seq("101.25", "2500000000000000000.50",
      "2500000000000000100.50", "96.25").sorted,
      s"unexpected FLBA residual answer: $got")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("aggregate pushdown: MAX of a zoned timestamp answers from manifest stats") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val root = scanOf(SparkEntry.queries("q_source_v2_ts_pushdown")(spark, sf))
      .tableRoot
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"), min("ts").as("first"), max("ts").as("last"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"zoned min/max was not pushed:\n$plan")
    val expect = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp").as("ts"))
      .agg(count(lit(1)), min("ts"), max("ts")).head()
    val got = df.head()
    assert(got.getLong(0) == expect.getLong(0))
    assert(got.getTimestamp(1) == expect.getTimestamp(1), "min(zoned)")
    assert(got.getTimestamp(2) == expect.getTimestamp(2), "max(zoned)")
  }

  test("legacy INT96 zoned file: never prunes, row reader decodes, residual stays exact") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import spark.implicits._
    // stage a 1-file zoned-ts table, then REPLACE the committed file with an
    // INT96 twin (identical logical rows) — the pre-round-16 layout a
    // long-lived deployment still carries
    val root = java.nio.file.Files.createTempDirectory("v2_int96_").toString
    val tbl = new StreamTable(root, spark)
    val instants = Seq("2024-01-02T01:00:00Z", "2024-01-10T02:00:00Z",
      "2024-01-20T03:00:00Z").map(java.time.Instant.parse)
    tbl.appendBatch(instants.zipWithIndex
      .map { case (t, i) => (i.toLong, java.sql.Timestamp.from(t)) }
      .toDF("id", "ts").coalesce(1), 0L)
    val meta = tbl.latestSnapshot.get.files.head
    val mt = new MessageType("spark_schema",
      Types.optional(PrimitiveTypeName.INT64).named("id"),
      Types.optional(PrimitiveTypeName.INT96).named("ts"),
      Types.optional(PrimitiveTypeName.INT64).named(StreamTable.SeqColName))
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(mt, conf)
    java.nio.file.Files.delete(java.nio.file.Paths.get(meta.path))
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(meta.path), conf))
      .withConf(conf).build()
    val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    instants.zipWithIndex.foreach { case (t, i) =>
      val g = fac.newGroup()
      g.add("id", i.toLong)
      val julian = (t.getEpochSecond / 86400L + 2440588L).toInt
      val nanosOfDay = Math.floorMod(t.getEpochSecond, 86400L) * 1000000000L + t.getNano
      val buf = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.putLong(nanosOfDay).putInt(julian)
      g.add("ts", org.apache.parquet.io.api.Binary.fromConstantByteArray(buf.array()))
      g.add(StreamTable.SeqColName, 0L)
      w.write(g)
    }
    w.close()
    // strip the (now-stale, MICROS-rendered) manifest stats so skipping sees
    // the INT96 footer — whose ts stats are unusable and must never prune
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("_snapshots", "_manifests").foreach { d =>
      StreamTable.listDir(java.nio.file.Paths.get(root, d))
        .filter(_.toString.endsWith(".json")).foreach { p =>
          val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          Seq("files", "changelog", "added").foreach { arr =>
            val a = node.get(arr)
            if (a != null && a.isArray) a.forEach { f =>
              f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                .remove(java.util.Arrays.asList(
                  "minStats", "maxStats", "fileCols", "badStats"))
            }
          }
          java.nio.file.Files.write(p, mapper.writeValueAsBytes(node))
        }
    }
    val df = spark.read.format("graft").load(root)
      .where(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp"))
    val scan = scanOf(df)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = scan.description()
    assert(total.toInt == 1 && kept.toInt == 1,
      s"INT96 stats must conservatively keep the file: ${scan.description()}")
    // eligibility proof refuses INT96 — the ROW reader serves this file
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(p => !f.supportColumnarReads(p)),
      "an INT96 file must fall off the columnar path")
    // and the residual filter decides truth: exactly the two in-window rows
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("IS [NOT] NULL pushdown: manifest null counts skip whole files, exact") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_null_").toString
    val tbl = new StreamTable(root, spark)
    // three provable layouts: no-nulls, all-null, mixed — plus a file that
    // PREDATES the column entirely (schema evolution: all rows null there)
    tbl.appendBatch(Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1), 0L)
    tbl.appendBatch(Seq((3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])).toDF("id", "v").coalesce(1), 1L)
    tbl.appendBatch(Seq((5L, "z"), (6L, null.asInstanceOf[String]))
      .toDF("id", "v").coalesce(1), 2L)
    tbl.appendBatch(Seq(Tuple1(7L)).toDF("id").coalesce(1), 3L)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    def run(cond: org.apache.spark.sql.Column) = {
      val df = spark.read.format("graft").load(root).where(cond).select("id")
      val Files(k, t) = scanOf(df).description()
      (k.toInt, t.toInt, df.collect().map(_.getLong(0)).sorted.toSeq)
    }
    // IS NOT NULL: the all-null file AND the predating file skip
    assert(run(col("v").isNotNull) == (2, 4, Seq(1L, 2L, 5L)))
    // IS NULL: the zero-null file skips; predating + all-null + mixed stay
    assert(run(col("v").isNull) == (3, 4, Seq(3L, 4L, 6L, 7L)))
    // compound: AND with a range keeps the intersection's files only
    assert(run(col("v").isNotNull && col("id") >= 5L) == (1, 4, Seq(5L)))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("columnar eligibility refuses only the filter+limit combination") {
    // filters are residual and page pruning is inexact, so "n decoded rows"
    // is not "n post-filter rows" — only the row reader's record-level
    // filter counts deliveries exactly. Spark's plan shape never pushes a
    // limit past residual filters today; this pin keeps the refusal honest
    // if that ever changes.
    import org.apache.spark.sql.sources.GreaterThan
    val paths = new StreamTable(stagedLineitemRoot, spark)
      .latestSnapshot.get.files.map(_.path)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType)))
    val pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThan("l_orderkey", 1000L))
    assert(graft.sources.v2.GraftVector.eligible(schema, pushed, None, paths), "filter alone: columnar")
    assert(graft.sources.v2.GraftVector.eligible(schema, Array.empty, Some(5), paths), "limit alone: columnar")
    assert(!graft.sources.v2.GraftVector.eligible(schema, pushed, Some(5), paths),
      "filter+limit must take the row reader (exact delivery counting)")
  }

  test("filtered columnar scan: row-group pruning engages, results exact") {
    import org.apache.spark.sql.functions.col
    val pred = col("l_orderkey") > 1000 && col("l_orderkey") <= 2500
    val df = spark.read.format("graft").load(stagedLineitemRoot)
      .where(pred).select("l_orderkey", "l_quantity", "l_extendedprice")
    val scan = scanOf(df)
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "every partition of a pushed-filter scan should decode columnar")
    // the physical plan actually runs columnar (a ColumnarToRow boundary
    // appears above the scan)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a columnar scan:\n$plan")
    // and the answer matches the in-memory ground truth exactly
    val got = df.orderBy("l_orderkey", "l_quantity", "l_extendedprice")
      .collect().toSeq
    val want = Tables.lineitem(spark, sf).where(pred)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_quantity", "l_extendedprice").collect().toSeq
    assert(got == want)
    // string-typed pushed filter takes the same path and stays exact
    val sPred = col("l_returnflag") === "A"
    val sDf = spark.read.format("graft").load(stagedLineitemRoot)
      .where(sPred).select("l_orderkey", "l_returnflag")
    val sScan = scanOf(sDf)
    val sF = sScan.createReaderFactory()
    assert(sScan.planInputPartitions().forall(sF.supportColumnarReads))
    assert(sDf.orderBy("l_orderkey").collect().toSeq ==
      Tables.lineitem(spark, sf).where(sPred).select("l_orderkey", "l_returnflag")
        .orderBy("l_orderkey").collect().toSeq)
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val wh = java.nio.file.Files.createTempDirectory("v2_spj_wh_").toString
    val cat = new graft.table.GraftCatalog(spark, wh)
    val bucketOpts = Map("bucket-key" -> "id", "bucket" -> "8")
    val ta = cat.createTable("spj", "facts_a", bucketOpts)
    val tb = cat.createTable("spj", "facts_b", bucketOpts)
    import spark.implicits._
    ta.appendBatch((0L until 4000L).map(i => (i, i * 2.0)).toDF("id", "x"), 0L)
    ta.appendBatch((0L until 4000L).map(i => (i, i + 0.5)).toDF("id", "x"), 1L)
    tb.appendBatch((0L until 4000L by 2).map(i => (i, s"v$i")).toDF("id", "y"), 0L)
    val catName = s"graft_spj_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"""SELECT a.id, count(*) AS n
           |FROM $catName.spj.facts_a a JOIN $catName.spj.facts_b b ON a.id = b.id
           |GROUP BY a.id""".stripMargin)
      val rows = df.collect()
      // correctness: every even id < 4000, joined twice (two A batches)
      assert(rows.length == 2000)
      assert(rows.forall(_.getLong(1) == 2L))
      // the join itself required NO hash exchange on either side — the only
      // allowed exchange is the post-join aggregation's
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"join inputs must be exchange-free (storage-partitioned):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // write/function parity: every row of every bucket partition hashes to
    // its partition's bucket id under the catalog-served function (the scan
    // resolves lazily, so hold the conf through planInputPartitions)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val parts = try {
      scanOf(spark.sql(s"SELECT id, x FROM $catName.spj.facts_a"))
        .planInputPartitions()
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    assert(parts.length == 8, s"expected 8 bucket groups, got ${parts.length}")
    val fn = graft.sources.v2.GraftBucketLong
    parts.foreach {
      case p: graft.sources.v2.GraftBucketInputPartition =>
        val ids = p.files.flatMap(f =>
          spark.read.parquet(f._1).select("id").as[Long].collect())
        assert(ids.nonEmpty)
        ids.foreach { id =>
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](8, id))
          assert(fn.produceResult(row) == p.bucketId,
            s"id $id landed in bucket ${p.bucketId} but hashes elsewhere")
        }
      case other => fail(s"expected bucket partitions, got $other")
    }
  }

  test("q_join_spj executes the storage-partitioned SMJ as registered") {
    val df = SparkEntry.queries("q_join_spj")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val i = plan.indexOf("SortMergeJoin")
    assert(i >= 0, s"MERGE hint must pin the SMJ:\n$plan")
    // no hash exchange ANYWHERE: the join consumes the bucket layout, and
    // even the per-key aggregation above reuses it (group key = join key);
    // the only exchange in the whole plan is the ORDER BY's range partition
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the storage-partitioned plan must need no hash exchange:\n$plan")
  }

  test("SPJ shuffles an unbucketed side INTO the bucketed layout") {
    // the strongest hash-parity proof: Spark evaluates GraftBucketFunction
    // to shuffle the plain side; every matching row must land in the same
    // partition as the bucketed files' rows or the join silently loses them
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("v2_spjs_wh_").toString
    val cat = new graft.table.GraftCatalog(spark, wh)
    val t = cat.createTable("spj", "facts_c",
      Map("bucket-key" -> "id", "bucket" -> "8"))
    t.appendBatch((0L until 5000L).map(i => (i, i * 2.0)).toDF("id", "x"), 0L)
    val catName = s"graft_spjs_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    (0L until 5000L by 5).map(i => (i, s"p$i")).toDF("id", "y")
      .createOrReplaceTempView("spjs_plain")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"""SELECT count(*) AS n FROM $catName.spj.facts_c a
           |JOIN spjs_plain p ON a.id = p.id""".stripMargin)
      assert(df.head().getLong(0) == 1000L, "every 5th id joins exactly once")
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SMJ:\n$plan")
      // the bucketed side must NOT re-shuffle; the plain side may
      val joinSub = plan.substring(joinIdx)
      assert(!joinSub.contains("BatchScan") ||
        !joinSub.substring(0, joinSub.indexOf("BatchScan"))
          .contains("Exchange hashpartitioning"),
        s"bucketed side must stay exchange-free:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("metadata columns carry per-row provenance from the manifest") {
    val df = spark.read.format("graft").load(stagedLineitemRoot)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("_graft_file"),
        org.apache.spark.sql.functions.col("_graft_seq"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // _graft_file is a real live data file of the table
    val live = new StreamTable(stagedLineitemRoot, spark)
      .latestSnapshot.get.files.map(f => (f.path, f.minSeq)).toMap
    rows.take(100).foreach { r =>
      val f = r.getString(1)
      assert(live.contains(f), s"unknown file $f")
      assert(r.getLong(2) == live(f), "seq must match the file's commit")
    }
    // SELECT * must NOT leak metadata columns
    val star = spark.read.format("graft").load(stagedLineitemRoot)
    assert(!star.columns.contains("_graft_file"))
  }

  /** Root of the registry's staged 8-range-batch lineitem table. */
  private def stagedLineitemRoot: String =
    scanOf(SparkEntry.queries("q_source_v2_pushdown")(spark, sf)).tableRoot

  // ---- PK merge-on-read (V2PkRead) ----------------------------------------

  private def pkScanOf(df: org.apache.spark.sql.DataFrame): graft.sources.v2.GraftPkScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.v2.GraftPkScan]

  /** Fresh warehouse + catalog per test table (isolated from the registry's). */
  private def freshCatalog(): (String, graft.table.GraftCatalog) = {
    val wh = java.nio.file.Files.createTempDirectory("v2_pk_wh_").toString
    val name = s"gpk_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, new graft.table.GraftCatalog(spark, wh))
  }

  test("PK merge-on-read: per-bucket LWW with sequence field, tombstones, zero shuffle") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "sensors",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "4"))
    tbl.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("id", "ver", "v"), 0L)
    tbl.appendBatch(Seq((1L, 20L, "A")).toDF("id", "ver", "v"), 1L) // update wins
    tbl.appendBatch(Seq((2L, 5L, "stale")).toDF("id", "ver", "v"), 2L) // stale seq loses
    tbl.deleteBatch(Seq(3L).toDF("id"), 3L) // tombstone wins
    val df = spark.sql(s"SELECT id, ver, v FROM $cat.db.sensors ORDER BY id")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 20L, "A"), (2L, 10L, "b")))
    // equals the library's resolved view
    val lib = gc.getTable("db", "sensors").read
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == lib)
    // per-bucket plan: one input partition per hash bucket, no exchange
    val scan = pkScanOf(spark.sql(s"SELECT id, v FROM $cat.db.sensors"))
    assert(scan.description().contains("GraftPkScan"), scan.description())
    assert(scan.description().contains("merge=deduplicate"), scan.description())
    val parts = scan.planInputPartitions()
    assert(parts.length <= 4 && parts.length >= 1, s"got ${parts.length} partitions")
    val plain = spark.sql(s"SELECT id, v FROM $cat.db.sensors")
    assert(!plain.queryExecution.executedPlan.toString.contains("Exchange"),
      "PK merge-on-read must introduce no shuffle")
  }

  test("PK point lookup prunes to a single bucket before any I/O") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "pts",
      Map("primary-key" -> "id", "bucket" -> "4"))
    // 3 batches x 4 buckets of files; a point lookup keeps only 1 bucket's
    tbl.appendBatch((1L to 40L).map(i => (i, i * 10)).toDF("id", "x"), 0L)
    tbl.appendBatch((1L to 40L by 2).map(i => (i, i * 100)).toDF("id", "x"), 1L)
    tbl.appendBatch((2L to 40L by 2).map(i => (i, i * 1000)).toDF("id", "x"), 2L)
    val all = pkScanOf(spark.sql(s"SELECT id, x FROM $cat.db.pts"))
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(allKept, allTotal) = all.description()
    val point = pkScanOf(spark.sql(s"SELECT id, x FROM $cat.db.pts WHERE id = 7"))
    val Files(ptKept, ptTotal) = point.description()
    assert(ptTotal == allTotal)
    assert(ptKept.toInt <= allKept.toInt / 2,
      s"point lookup must prune buckets: $ptKept/$ptTotal vs $allKept/$allTotal")
    val row = spark.sql(s"SELECT id, x FROM $cat.db.pts WHERE id = 7").collect()
    assert(row.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 700L)))
    // multi-point: an IN over the key prunes to the listed keys' bucket SET
    val multi = pkScanOf(
      spark.sql(s"SELECT id, x FROM $cat.db.pts WHERE id IN (7, 8)"))
    val Files(inKept, inTotal) = multi.description()
    assert(inTotal == allTotal)
    assert(inKept.toInt <= allKept.toInt * 2 / 3,
      s"IN lookup must prune to the keys' buckets: $inKept/$inTotal vs $allKept")
    val rows2 = spark.sql(s"SELECT id, x FROM $cat.db.pts WHERE id IN (7, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows2 == Seq((7L, 700L), (8L, 8000L)))
  }

  test("PK first-row engine keeps the earliest version through V2") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "fr",
      Map("primary-key" -> "id", "merge-engine" -> "first-row"))
    tbl.appendBatch(Seq((1L, "first"), (2L, "x")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((1L, "later")).toDF("id", "v"), 1L)
    val rows = spark.sql(s"SELECT id, v FROM $cat.db.fr ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "first"), (2L, "x")))
  }

  test("SPJ over the MERGED view: PK dim joins a co-bucketed fact, no exchange") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val dim = gc.createTable("db", "spj_dim",
      Map("primary-key" -> "id", "bucket" -> "4"))
    dim.appendBatch((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), 0L)
    dim.appendBatch((1L to 50L by 5).map(i => (i, s"V$i")).toDF("id", "v"), 1L) // upserts
    val fact = gc.createTable("db", "spj_fact",
      Map("bucket-key" -> "fk", "bucket" -> "4"))
    fact.appendBatch((1L to 200L).map(i => (i % 50 + 1, i)).toDF("fk", "m"), 0L)
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql(
        s"""SELECT /*+ MERGE(f) */ d.id, d.v, count(*) AS n
           |FROM $cat.db.spj_fact f JOIN $cat.db.spj_dim d ON f.fk = d.id
           |GROUP BY d.id, d.v ORDER BY d.id""".stripMargin)
      val rows = df.collect()
      assert(rows.length == 50)
      // upserted keys carry the RESOLVED image through the join
      assert(rows.filter(_.getLong(0) % 5 == 1)
        .forall(r => r.getString(1).startsWith("V")), rows.take(6).mkString(","))
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SMJ:\n${plan.take(3000)}")
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"PK-dim SPJ must be exchange-free below the join:\n${plan.take(3000)}")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("DELETE FROM through the V2 catalog: COW on append, tombstones on PK") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    // append table: copy-on-write with touched-file pruning
    spark.sql(s"CREATE TABLE $cat.db.adel (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.adel VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    spark.sql(s"DELETE FROM $cat.db.adel WHERE id IN (2, 4) OR v = 'c'")
    assert(spark.sql(s"SELECT id FROM $cat.db.adel ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // the pre-delete version stays time-travelable
    assert(spark.sql(s"SELECT id FROM $cat.db.adel VERSION AS OF 0 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // PK table: merge-on-read tombstones, resolved by the PK scan
    val t = gc.createTable("db", "pdel", Map("primary-key" -> "id"))
    t.appendBatch(Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v"), 0L)
    spark.sql(s"DELETE FROM $cat.db.pdel WHERE v = 'y'")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.pdel ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (3L, "z")))
    // no data file of the PK table was rewritten (tombstones appended)
    assert(gc.getTable("db", "pdel").latestSnapshot.get.files
      .forall(_.path.contains("/data/append/")), "PK delete must not rewrite")
  }

  test("atomic CTAS: staged publish, a failing query strands nothing") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    // the plan goes through the ATOMIC exec (StagingTableCatalog engaged)
    val plan = spark.sql(
      s"EXPLAIN CREATE TABLE $cat.db.ct AS SELECT * FROM ctas_src")
      .head().getString(0)
    assert(plan.contains("AtomicCreateTableAsSelect"),
      s"CTAS must plan atomically:\n$plan")
    spark.sql(s"CREATE TABLE $cat.db.ct AS SELECT * FROM ctas_src")
    assert(spark.sql(s"SELECT k, v FROM $cat.db.ct ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a CTAS whose SELECT fails mid-write must strand NOTHING: no table,
    // no empty registration, no staging leftovers
    val failing = Seq(1L, 2L, 0L).toDF("d")
      .selectExpr("10 / d AS x") // ANSI division by zero throws in a task
    failing.createOrReplaceTempView("ctas_boom")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.ct_fail AS SELECT * FROM ctas_boom")
    }
    assert(!spark.catalog.tableExists(s"$cat.db.ct_fail"))
    assert(gc.listTables("db").forall(_ != "ct_fail"),
      "a failed CTAS must not register a table")
    val staging = java.nio.file.Paths.get(gc.warehouse, ".staging-ctas")
    assert(!java.nio.file.Files.exists(staging) ||
      StreamTable.listDir(staging).isEmpty,
      "a failed CTAS must abort its staging dir")
    // REPLACE TABLE AS SELECT swaps without a visible half-table
    spark.sql(s"REPLACE TABLE $cat.db.ct AS SELECT k + 10 AS k, v FROM ctas_src")
    assert(spark.sql(s"SELECT k FROM $cat.db.ct ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(11L, 12L, 13L))
    StreamTable.deleteTree(java.nio.file.Paths.get(gc.warehouse))
  }

  test("deletion vectors: a small append-table DELETE rewrites zero data bytes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_dv_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch((0L until 100L).map(i => (i, s"r$i", i * 1.5))
      .toDF("id", "s", "x").coalesce(1), 0L)
    tbl.appendBatch((100L until 200L).map(i => (i, s"r$i", i * 1.5))
      .toDF("id", "s", "x").coalesce(1), 1L)
    val before = tbl.latestSnapshot.get.files
      .map(f => (f.path, f.fileSizeInBytes,
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path))))
      .sortBy(_._1)

    // the GDPR single-row case: one matching row, far under the DV cap
    assert(tbl.deleteWhere(col("id") === 42L) == 1L)

    // ZERO data bytes rewritten: every data file survives verbatim
    val after = tbl.latestSnapshot.get.files
    assert(after.map(f => (f.path, f.fileSizeInBytes,
      java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f.path))))
      .sortBy(_._1) == before, "a DV delete must not touch data files")
    val dvd = after.filter(_.dvCount.exists(_ > 0))
    assert(dvd.size == 1 && dvd.head.dvCount.contains(1L), after.toString)
    assert(StreamTable.readDv(dvd.head.dvPath.get).toSeq == Seq(42L))

    // every read door nets the vector
    assert(tbl.read.count() == 199L)
    assert(tbl.read.where(col("id") === 42L).count() == 0L)
    val v2 = spark.read.format("graft").load(root)
    assert(v2.count() == 199L) // metadata COUNT(*) path
    assert(v2.where(col("id") === 42L).count() == 0L)
    assert(v2.where(col("id").between(40L, 44L)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(40L, 41L, 43L, 44L))
    // a dv'd file STAYS columnar: its partition decodes through the
    // batch-suppressing GraftDvVectorReader while clean files keep the
    // plain zero-copy vectorized reader — one deleted row must not demote
    // a scan off the fast path
    val scan = scanOf(v2.select("id", "s", "x"))
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "a dv'd scan must stay columnar (suppression happens batch-level)")
    // metadata-only MIN/MAX refuses under a DV (stats can't exclude the
    // deleted row) — the distributed aggregate still answers correctly
    val mm = v2.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id"))
    assert(mm.queryExecution.executedPlan.toString.contains("Aggregate"),
      "min/max under a DV must not answer from stats")
    assert(mm.head() == org.apache.spark.sql.Row(0L, 199L))

    // time travel to the pre-delete snapshot still serves the row
    assert(tbl.readAt(1L).where(col("id") === 42L).count() == 1L)

    // a second delete on the same file MERGES vectors
    assert(tbl.deleteWhere(col("id") === 43L) == 1L)
    val merged = tbl.latestSnapshot.get.files.find(_.dvCount.exists(_ > 0)).get
    assert(StreamTable.readDv(merged.dvPath.get).toSeq == Seq(42L, 43L))
    assert(tbl.read.count() == 198L)

    // compaction MATERIALIZES the deletions and purges the vectors
    tbl.compact(targetFileCount = 1)
    val compacted = tbl.latestSnapshot.get.files
    assert(compacted.forall(_.dvCount.forall(_ == 0L)),
      "compaction must purge deletion vectors")
    assert(tbl.read.count() == 198L)
    assert(tbl.read.where(col("id").isin(42L, 43L)).count() == 0L)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("deletion vectors: streaming catch-up suppresses deleted rows") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_dvstream_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch((0L until 50L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1), 0L)
    tbl.appendBatch((50L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1), 1L)
    assert(tbl.deleteWhere(col("id").isin(7L, 77L)) == 2L)
    val chk = java.nio.file.Files.createTempDirectory("v2_dvstream_chk_").toString
    val out = java.nio.file.Files.createTempDirectory("v2_dvstream_out_").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("parquet")
        .option("checkpointLocation", chk).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // initial catch-up: the live set MINUS the vectored positions
    drain()
    val got = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.length == 98 && !got.contains(7L) && !got.contains(77L),
      s"catch-up must suppress deletion vectors: ${got.take(10)}")
    // incremental: fresh appends deliver normally after the DV commit
    tbl.appendBatch(Seq((100L, "x")).toDF("id", "s"), 2L)
    drain()
    assert(spark.read.parquet(out).count() == 99)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("deletion vectors: the commit guard refuses when maintenance rewrote the file") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_dvrace_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch((0L until 100L).map(i => (i, i * 1.0)).toDF("id", "x")
      .coalesce(1), 0L)
    tbl.appendBatch((100L until 200L).map(i => (i, i * 1.0)).toDF("id", "x")
      .coalesce(1), 1L)
    // a DV delete and a concurrent compaction both target the same files;
    // whichever commits second must either retry cleanly or refuse loudly —
    // never publish positions against a file the other rewrote. Injection:
    // compact between the DV delete's discovery scan and its commit, via a
    // committer shim that fires once on the DV table handle.
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val other = new StreamTable(root, spark)
    tbl.committer = new graft.table.SnapshotCommitter {
      override def publish(target: java.nio.file.Path, bytes: Array[Byte]): Boolean = {
        if (raced.compareAndSet(false, true)) other.compact(targetFileCount = 1)
        graft.table.PosixLinkCommitter.publish(target, bytes)
      }
    }
    val e = intercept[Exception](tbl.deleteWhere(col("id") === 42L))
    assert(e.getMessage.contains("concurrent maintenance"), e.getMessage)
    // the table is untouched by the refused delete; the compaction stands
    val reread = new StreamTable(root, spark)
    assert(reread.read.count() == 200L)
    assert(reread.latestSnapshot.get.files.forall(_.dvCount.isEmpty))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("deletion vectors: \\$audit_log current-state semantics net the deletions") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.dval (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.dval SELECT id, concat('v', id) " +
      "FROM range(0, 60)")
    spark.sql(s"DELETE FROM $cat.db.dval WHERE id IN (5, 25)")
    assert(gc.getTable("db", "dval").latestSnapshot.get.files
      .exists(_.dvCount.exists(_ > 0)), "the delete must take the DV route")
    // $audit_log = current state as +I: the deleted rows are NOT state
    val rows = spark.sql(
      s"SELECT rowkind, id FROM $cat.db.`dval$$audit_log` ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 58 && rows.forall(_._1 == "+I"))
    assert(!rows.exists(r => r._2 == 5L || r._2 == 25L),
      "audit_log must suppress deletion-vectored rows")
  }

  test("CALL sys.materialize_deletes: surgical rewrite restores the columnar path") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.dvm (id BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.db.dvm SELECT id, concat('r', id) " +
      "FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.dvm SELECT id, concat('r', id) " +
      "FROM range(100, 200)")
    spark.sql(s"DELETE FROM $cat.db.dvm WHERE id = 42")
    val tbl = gc.getTable("db", "dvm")
    val clean = tbl.latestSnapshot.get.files
      .filter(_.dvCount.forall(_ == 0L)).map(_.path).toSet
    assert(clean.nonEmpty && clean.size < tbl.latestSnapshot.get.files.size)
    // dv'd table: the scan STAYS columnar (batch-level suppression); what
    // materialization buys back is the sidecar read + per-batch bookkeeping
    // and stats-served MIN/MAX, not the decode path itself
    def scanCols(): Boolean = {
      val df = spark.sql(s"SELECT id, s FROM $cat.db.dvm")
      val scan = scanOf(df)
      scan.planInputPartitions().forall(scan.createReaderFactory().supportColumnarReads)
    }
    assert(scanCols(), "a dv'd table must stay columnar")
    val res = spark.sql(
      s"CALL $cat.sys.materialize_deletes(`table` => 'db.dvm')").head()
    assert(res.getInt(0) == 1, res.toString) // exactly the one dv'd file
    // clean files survived byte-identical; the dv'd one was replaced
    val reread = gc.getTable("db", "dvm").latestSnapshot.get.files
    assert(clean.subsetOf(reread.map(_.path).toSet),
      "clean files must survive the materialization verbatim")
    assert(reread.forall(_.dvCount.forall(_ == 0L)), "vectors must be gone")
    // columnar is back, answers exact
    assert(scanCols(), "materialization must restore the columnar path")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dvm").head().getLong(0) == 199L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dvm WHERE id = 42")
      .head().getLong(0) == 0L)
    // idempotent probe: no vectors left, zero I/O, snapshot unchanged
    val res2 = spark.sql(
      s"CALL $cat.sys.materialize_deletes(`table` => 'db.dvm')").head()
    assert(res2.getInt(0) == 0 && res2.getLong(1) == -1L, res2.toString)
  }

  test("deletion vectors: above the cap the delete falls back to copy-on-write") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_dvcap_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch((0L until 100L).map(i => (i, i * 1.5)).toDF("id", "x")
      .coalesce(1), 0L)
    System.setProperty("graft.dv.max-matches", "3")
    try {
      // 5 matches > cap 3: COW route — the touched file is REWRITTEN
      val before = tbl.latestSnapshot.get.files.map(_.path).toSet
      assert(tbl.deleteWhere(col("id") < 5L) == 5L)
      val after = tbl.latestSnapshot.get.files
      assert(after.map(_.path).toSet.intersect(before).isEmpty,
        "an over-cap delete must rewrite, not vector")
      assert(after.forall(_.dvCount.isEmpty))
      assert(tbl.read.count() == 95L)
      // and a DV'd file hit by an over-cap delete ALSO rewrites away its
      // vector (readFiles applied it before the rewrite)
      System.setProperty("graft.dv.max-matches", "10000")
      assert(tbl.deleteWhere(col("id") === 50L) == 1L)
      assert(tbl.latestSnapshot.get.files.exists(_.dvCount.contains(1L)))
      System.setProperty("graft.dv.max-matches", "3")
      assert(tbl.deleteWhere(col("id") >= 90L) == 10L)
      val fin = tbl.latestSnapshot.get.files
      assert(fin.forall(_.dvCount.isEmpty), "COW must materialize the prior DV")
      assert(tbl.read.count() == 84L)
      assert(tbl.read.where(col("id") === 50L).count() == 0L)
    } finally System.clearProperty("graft.dv.max-matches")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("deletion vectors: retention reclaims replaced sidecars, orphan sweep spares live ones") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_dvret_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch((0L until 50L).map(i => (i, i * 2.0)).toDF("id", "x")
      .coalesce(1), 0L)
    assert(tbl.deleteWhere(col("id") === 1L) == 1L) // dv1
    assert(tbl.deleteWhere(col("id") === 2L) == 1L) // dv2 replaces dv1
    val dvDir = java.nio.file.Paths.get(root, "data", "dv")
    def dvFiles() = StreamTable.listDir(dvDir).map(_.toString).sorted
    assert(dvFiles().size == 2)
    val liveDv = tbl.latestSnapshot.get.files
      .flatMap(_.dvPath).head
    // a grace-0 orphan sweep must spare BOTH: dv1 is still
    // manifest-referenced (retention-managed, not a crash leftover)
    tbl.removeOrphanFiles(olderThanMs = 0L)
    assert(dvFiles().size == 2, "sweep must not reap manifest-referenced dvs")
    // expiring the pre-delete history reclaims the replaced dv1
    assert(tbl.expireSnapshots(1, 1, 0L) > 0)
    assert(dvFiles() == Seq(liveDv), s"expiry must reclaim the replaced dv: ${dvFiles()}")
    assert(tbl.read.count() == 48L)
    // an UNREFERENCED dv file (crashed delete) is a sweepable orphan
    java.nio.file.Files.write(dvDir.resolve("dv-orphan.bin"), Array[Byte](0, 0))
    assert(tbl.removeOrphanFiles(olderThanMs = 0L) >= 1)
    assert(dvFiles() == Seq(liveDv))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("ALTER TABLE column evolution: ADD/RENAME/DROP are metadata-only") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.evo (id BIGINT, a STRING)")
    spark.sql(s"INSERT INTO $cat.db.evo VALUES (1, 'x'), (2, 'y')")
    val filesBefore = gc.getTable("db", "evo").latestSnapshot.get.files.map(_.path)

    // ADD: old files null-fill; new writes carry the column
    spark.sql(s"ALTER TABLE $cat.db.evo ADD COLUMNS (score DOUBLE)")
    spark.sql(s"INSERT INTO $cat.db.evo VALUES (3, 'z', 9.5)")
    assert(spark.sql(s"SELECT id, score FROM $cat.db.evo ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSeq ==
      Seq((1L, null), (2L, null), (3L, 9.5)))
    // ADD ... DEFAULT: pure metadata (EXISTS_DEFAULT) — pre-existing rows
    // read the default, new writes materialize it (full coverage in the
    // dedicated default-column test below)
    spark.sql(s"ALTER TABLE $cat.db.evo ADD COLUMNS (bonus DOUBLE DEFAULT 1.0)")
    assert(spark.sql(s"SELECT bonus FROM $cat.db.evo").collect()
      .forall(_.getDouble(0) == 1.0), "pre-ADD rows must read the default")
    spark.sql(s"ALTER TABLE $cat.db.evo DROP COLUMN bonus")

    // RENAME: files keep the old name; reads AND pushed filters translate
    spark.sql(s"ALTER TABLE $cat.db.evo RENAME COLUMN a TO label")
    assert(spark.sql(s"SELECT label FROM $cat.db.evo WHERE label = 'y'").collect()
      .map(_.getString(0)).toSeq == Seq("y"))
    // a write AFTER the rename persists under the FILE-level name (uniform
    // files), and reads still serve the declared name
    spark.sql(s"INSERT INTO $cat.db.evo VALUES (4, 'w', 1.5)")
    assert(spark.sql(s"SELECT id, label, score FROM $cat.db.evo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")))

    // DROP: the column leaves the schema; files are untouched
    spark.sql(s"ALTER TABLE $cat.db.evo DROP COLUMN score")
    assert(spark.table(s"$cat.db.evo").columns.toSeq == Seq("id", "label"))

    // metadata-only: every pre-evolution file survives verbatim
    val filesAfter = gc.getTable("db", "evo").latestSnapshot.get.files.map(_.path)
    assert(filesBefore.forall(filesAfter.contains), "evolution must not rewrite files")

    // key columns are protected: renaming a PK table's key is refused
    spark.sql(s"CREATE TABLE $cat.db.evo_pk (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key' = 'k')")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.evo_pk RENAME COLUMN k TO k2")
    }
    assert(e.getMessage.contains("key column"), e.getMessage)
  }

  test("ADD COLUMN DEFAULT (EXISTS_DEFAULT as pure metadata): pre-ADD rows " +
      "read the default, explicit NULL stays NULL, decode stays vectorized, " +
      "skipping/push shortcuts stay exact, maintenance materializes") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.dflt (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.dflt VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.dflt ADD COLUMNS (score BIGINT DEFAULT 7)")
    def rows() = spark.sql(s"SELECT id, score FROM $cat.db.dflt ORDER BY id")
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    // pre-ADD rows read the default…
    assert(rows() == Seq((1L, 7L), (2L, 7L)))
    // …post-ADD rows their values; an EXPLICIT NULL stays NULL; an INSERT
    // omitting the column materializes the CURRENT default
    spark.sql(s"INSERT INTO $cat.db.dflt VALUES (3, 'c', 9)")
    spark.sql(s"INSERT INTO $cat.db.dflt VALUES (4, 'd', NULL)")
    spark.sql(s"INSERT INTO $cat.db.dflt (id, v) VALUES (5, 'e')")
    val expect = Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, null), (5L, 7L))
    assert(rows() == expect)
    // the LIBRARY door (shared table root) serves the same defaults —
    // which is what makes maintenance rewrites materialize them correctly
    assert(gc.getTable("db", "dflt").read.selectExpr("id", "score")
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .sortBy(_._1).toSeq == expect)
    // mixed generations stay VECTORIZED (Spark's own existence-default
    // missing-column vectors, fed by the schema metadata)
    val df = spark.sql(s"SELECT id, v, score FROM $cat.db.dflt ORDER BY id")
    val scan = scanOf(df)
    val fac = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(fac.supportColumnarReads),
      "a defaulted table must not fall off the columnar path")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"expected a columnar scan:\n${df.queryExecution.executedPlan}")
    // filters over the defaulted column: the implicit IsNotNull must not
    // skip pre-ADD files ("absent" ≠ null — they serve the default)
    assert(spark.sql(s"SELECT id FROM $cat.db.dflt WHERE score = 7 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    assert(spark.sql(
      s"SELECT id FROM $cat.db.dflt WHERE score IS NOT NULL ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
    assert(spark.sql(s"SELECT id FROM $cat.db.dflt WHERE score IS NULL")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // metadata-only aggregate shortcuts refuse (stats can't see the
    // default) and the distributed fallback answers exactly
    assert(spark.sql(
      s"SELECT min(score) AS mn, max(score) AS mx FROM $cat.db.dflt")
      .collect().head.toSeq == Seq(7L, 9L))
    assert(spark.sql(s"SELECT score, count(*) AS n FROM $cat.db.dflt " +
      "GROUP BY score ORDER BY score NULLS FIRST").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getLong(1))).toSeq ==
      Seq((null, 1L), (7L, 3L), (9L, 1L)))
    // RENAME carries the default along
    spark.sql(s"ALTER TABLE $cat.db.dflt RENAME COLUMN score TO pts")
    assert(spark.sql(s"SELECT pts FROM $cat.db.dflt WHERE id = 1")
      .collect().head.getLong(0) == 7L)
    spark.sql(s"ALTER TABLE $cat.db.dflt RENAME COLUMN pts TO score")
    // type WIDENING re-folds the stored default at the new type
    spark.sql(s"ALTER TABLE $cat.db.dflt ADD COLUMNS (n INT DEFAULT 3)")
    spark.sql(s"ALTER TABLE $cat.db.dflt ALTER COLUMN n TYPE BIGINT")
    assert(spark.sql(s"SELECT n FROM $cat.db.dflt WHERE id = 1")
      .collect().head.getLong(0) == 3L)
    spark.sql(s"ALTER TABLE $cat.db.dflt DROP COLUMN n")
    // compaction MATERIALIZES the default (frozen at ADD time — nothing
    // observable changes), and the values survive the rewrite
    gc.getTable("db", "dflt").compact(targetFileCount = 1)
    assert(rows() == expect)
    // DEFAULT NULL is the plain null-fill (nothing stored, nothing special)
    spark.sql(s"ALTER TABLE $cat.db.dflt ADD COLUMNS (w STRING DEFAULT NULL)")
    assert(spark.sql(s"SELECT w FROM $cat.db.dflt").collect().forall(_.isNullAt(0)))
  }

  test("evolved table scans stay COLUMNAR: ADD/RENAME null-fill through vector reads") {
    import org.apache.spark.sql.functions.col
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.evocol (id BIGINT, a STRING)")
    spark.sql(s"INSERT INTO $cat.db.evocol VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"ALTER TABLE $cat.db.evocol ADD COLUMNS (score DOUBLE)")
    spark.sql(s"ALTER TABLE $cat.db.evocol RENAME COLUMN a TO label")
    spark.sql(s"INSERT INTO $cat.db.evocol VALUES (3, 'z', 9.5)")
    // pre-evolution files DON'T carry score; every live file must still
    // decode through the vectorized path (null-filled missing columns)
    val df = spark.sql(s"SELECT id, label, score FROM $cat.db.evocol ORDER BY id")
    val scan = scanOf(df)
    val f = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(f.supportColumnarReads),
      "an evolved table must not fall off the columnar path")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSeq ==
      Seq((1L, "x", null), (2L, "y", null), (3L, "z", 9.5)))
    // after execution AQE has finalized: the decode ran columnar
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"expected a columnar scan:\n${df.queryExecution.executedPlan}")
    // a pushed filter over the ADDed column: the pre-evolution file has no
    // such column (all-null there — its conjunct is dropped per file),
    // results stay exact and columnar
    val filtered = spark.sql(
      s"SELECT id, score FROM $cat.db.evocol WHERE score > 1.0")
    val fs = scanOf(filtered)
    assert(fs.planInputPartitions().forall(
      fs.createReaderFactory().supportColumnarReads),
      "pushed filter over an evolved column must stay columnar")
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // and over the RENAMED column (declared name translates to file-level)
    val renamed = spark.sql(
      s"SELECT id, label FROM $cat.db.evocol WHERE label = 'y'")
    assert(renamed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "y")))
  }

  test("graft reads are parquet-conversion-conf independent (pinned flags, proven layouts)") {
    // eligible() refuses every layout the five conversion flags could
    // reinterpret, so the pinned reader conf and a mutated session must
    // produce IDENTICAL plans and answers — a session toggle (the testdata
    // loader sets nanosAsLong; users toggle caseSensitive) must not change
    // decode behavior mid-table in either direction
    val root = java.nio.file.Files.createTempDirectory("v2_conf_").toString
    val tbl = new StreamTable(root, spark)
    import spark.implicits._
    tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 0L)
    def run() = {
      val df = spark.read.format("graft").load(root).orderBy("id")
      val scan = scanOf(df)
      (scan.planInputPartitions().forall(
        scan.createReaderFactory().supportColumnarReads),
        df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    }
    val before = run()
    assert(before._1, "expected the columnar path")
    spark.conf.set("spark.sql.caseSensitive", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try assert(run() == before,
      "session conversion-conf toggles must not change the graft read")
    finally {
      spark.conf.unset("spark.sql.caseSensitive")
      spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("streaming changelog read emits +I/-U/+U/-D matching the batch changelog") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "cl",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "2"))
    val root = s"${gc.warehouse}/db.db/cl"
    val chk = java.nio.file.Files.createTempDirectory("v2_cl_chk_").toString
    def drain(): Seq[(Long, Long, String, String)] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.Row]())
      val q = spark.readStream.format("graft").option("read-changelog", "true")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        .sorted
    }
    tbl.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("id", "ver", "v"), 0L)
    // run 1: initial catch-up = the full state as +I
    assert(drain() == Seq((1L, 10L, "a", "+I"), (2L, 10L, "b", "+I"),
      (3L, 10L, "c", "+I")))
    // update id=1, stale arrival for id=2 (loses resolution), delete id=3
    tbl.appendBatch(Seq((1L, 20L, "A")).toDF("id", "ver", "v"), 1L)
    tbl.appendBatch(Seq((2L, 5L, "stale")).toDF("id", "ver", "v"), 2L)
    tbl.deleteBatch(Seq((3L, 10L)).toDF("id", "ver"), 3L)
    val run2 = drain()
    // id=1: real update; id=2: stale arrival nets an identical -U/+U pair;
    // id=3: delete retracts the old image
    assert(run2 == Seq(
      (1L, 10L, "a", "-U"), (1L, 20L, "A", "+U"),
      (2L, 10L, "b", "-U"), (2L, 10L, "b", "+U"),
      (3L, 10L, "c", "-D")).sorted, run2.toString)
    // row-for-row the batch changelog between the same snapshots
    val batch = tbl.changelogWithRetractions(0L, tbl.latestSnapshot.get.id)
      .select("id", "ver", "v", "op").as[(Long, Long, String, String)]
      .collect().toSeq.sorted
    assert(run2 == batch, s"stream=$run2 batch=$batch")
    // a new key inserted after the last drain arrives as +I
    tbl.appendBatch(Seq((9L, 1L, "new")).toDF("id", "ver", "v"), 4L)
    assert(drain() == Seq((9L, 1L, "new", "+I")))
  }

  test("streaming changelog over a DEFERRED producer: correct ops across " +
      "mid-stream compaction, whatever mix of chain and state-diff serves them") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "dcl2",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "2",
        "changelog-producer" -> "lookup"))
    val root = s"${gc.warehouse}/db.db/dcl2"
    val chk = java.nio.file.Files.createTempDirectory("v2_dcl2_chk_").toString
    def drain(): Seq[(Long, Long, String, String)] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.Row]())
      val q = spark.readStream.format("graft").option("read-changelog", "true")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        .sorted
    }
    tbl.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("id", "ver", "v"), 0L)
    assert(drain() == Seq((1L, 10L, "a", "+I"), (2L, 10L, "b", "+I")))
    // deferred producer: the write stages NO changelog — the consumer's
    // mid-span triggers ride the state-diff fallback and stay correct
    tbl.appendBatch(Seq((1L, 20L, "A"), (3L, 20L, "c")).toDF("id", "ver", "v"), 1L)
    assert(tbl.latestSnapshot.get.changelog.isEmpty)
    assert(drain() == Seq((1L, 10L, "a", "-U"), (1L, 20L, "A", "+U"),
      (3L, 20L, "c", "+I")))
    // compaction produces the span changelog mid-stream; more writes follow
    tbl.compact(targetFileCount = 1)
    tbl.appendBatch(Seq((2L, 30L, "B2")).toDF("id", "ver", "v"), 2L)
    val run3 = drain()
    // the consumer already saw the span's earlier ops via the diff — the
    // covering snapshot's files must NOT re-deliver them (the chain would
    // overshoot the consumer's progress and falls back); only the fresh
    // update arrives
    assert(run3 == Seq((2L, 10L, "b", "-U"), (2L, 30L, "B2", "+U")), run3.toString)
    // a SECOND compaction right after: its span covers exactly the tail the
    // consumer just saw — the next drain delivers nothing new
    tbl.compact(targetFileCount = 1)
    assert(drain().isEmpty)
  }

  test("UPDATE and MERGE INTO through the V2 catalog: group-based COW") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.upd (id BIGINT, grp BIGINT, v STRING)")
    // two separate commits → two+ files, so group filtering has groups to prune
    spark.sql(s"INSERT INTO $cat.db.upd VALUES (1, 0, 'a'), (2, 0, 'b')")
    spark.sql(s"INSERT INTO $cat.db.upd VALUES (3, 1, 'c'), (4, 1, 'd')")
    val filesBefore = gc.getTable("db", "upd").latestSnapshot.get.files.map(_.path)

    // UPDATE rewrites only matching rows; non-matching rows of touched
    // files survive verbatim
    spark.sql(s"UPDATE $cat.db.upd SET v = concat(v, '!') WHERE id IN (2, 3)")
    assert(spark.sql(s"SELECT id, v FROM $cat.db.upd ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b!"), (3L, "c!"), (4L, "d")))
    // pre-update version stays time-travelable
    assert(spark.sql(s"SELECT v FROM $cat.db.upd VERSION AS OF 1 WHERE id = 2")
      .head().getString(0) == "b")

    // MERGE INTO: matched update + not-matched insert in one atomic commit
    spark.sql("SELECT * FROM VALUES (2, 'upd'), (9, 'new') AS s(id, sv)")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $cat.db.upd t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, -1, s.sv)
         |""".stripMargin)
    assert(spark.sql(s"SELECT id, v FROM $cat.db.upd ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "upd"), (3L, "c!"), (4L, "d"), (9L, "new")))

    // MERGE with matched delete
    spark.sql("SELECT * FROM VALUES (9) AS s(id)").createOrReplaceTempView("del_src")
    spark.sql(s"MERGE INTO $cat.db.upd t USING del_src s ON t.id = s.id " +
      "WHEN MATCHED THEN DELETE")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.upd").head().getLong(0) == 4)

    // PK tables run natively too — merge-on-read image appends
    // (GraftPkDeltaOperation; DeltaDmlSpec pins the full semantics)
    import spark.implicits._
    val pt = gc.createTable("db", "updpk", Map("primary-key" -> "id"))
    pt.appendBatch(Seq((1L, "x")).toDF("id", "v"), 0L)
    spark.sql(s"UPDATE $cat.db.updpk SET v = 'y' WHERE id = 1")
    assert(spark.sql(s"SELECT v FROM $cat.db.updpk WHERE id = 1")
      .head().getString(0) == "y")
  }

  test("changelog stream: compaction between drains is not a logical change") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "clc", Map("primary-key" -> "id"))
    val root = s"${gc.warehouse}/db.db/clc"
    val chk = java.nio.file.Files.createTempDirectory("v2_clc_chk_").toString
    def drain(): Seq[(Long, String, String)] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.Row]())
      val q = spark.readStream.format("graft").option("read-changelog", "true")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    }
    tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    assert(drain() == Seq((1L, "a", "+I"), (2L, "b", "+I")))
    // compaction rewrites the layout but changes no logical row: the next
    // drain must deliver ONLY the genuine update committed after it
    tbl.compact(1)
    tbl.appendBatch(Seq((2L, "B")).toDF("id", "v"), 1L)
    assert(drain() == Seq((2L, "b", "-U"), (2L, "B", "+U")).sorted)
    // a drain over a purely-compacted interval delivers nothing
    tbl.compact(1)
    assert(drain() == Seq.empty)
  }

  test("sorted-run merge: PK files write key-sorted; the scan streams a k-way merge") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "srt",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "2"))
    tbl.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"),
      (4L, 10L, "d")).toDF("id", "ver", "v"), 0L)
    tbl.appendBatch(Seq((1L, 20L, "A"), (3L, 5L, "stale"), (5L, 1L, "e"))
      .toDF("id", "ver", "v"), 1L)
    tbl.deleteBatch(Seq((4L, 10L)).toDF("id", "ver"), 2L)
    // every file carries its sort evidence; the planned partitions are
    // streaming-merge eligible
    val files = tbl.latestSnapshot.get.files
    assert(files.forall(_.sortedBy.contains(Seq("id"))), files.toString)
    val df = spark.sql(s"SELECT id, ver, v FROM $cat.db.srt")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.v2.GraftPkScan]
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    val sortedPaths = files.filter(_.sortedBy.contains(Seq("id"))).map(_.path).toSet
    assert(parts.forall(_.asInstanceOf[graft.sources.v2.GraftPkInputPartition]
      .files.forall(f => sortedPaths(f._1))),
      "every planned file must be a sorted run")
    // resolved view matches the library (incl. stale-arrival + tombstone)
    val viaSql = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val viaLib = tbl.read.select("id", "ver", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(viaSql == viaLib)
    assert(viaSql == Seq((1L, 20L, "A"), (2L, 10L, "b"), (3L, 10L, "c"),
      (5L, 1L, "e")))
    // compaction preserves the sorted-run invariant
    tbl.compact(1)
    assert(tbl.latestSnapshot.get.files.forall(_.sortedBy.contains(Seq("id"))))
    tbl.appendBatch(Seq((2L, 30L, "B")).toDF("id", "ver", "v"), 3L)
    assert(spark.sql(s"SELECT id, ver, v FROM $cat.db.srt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      tbl.read.select("id", "ver", "v").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
  }

  test("sorted-run merge: exact-tie resolution agrees with the library") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    // NO sequence field: exact (seq, commit) ties happen where a key repeats
    // within one batch — the connector's k-way merge must resolve them as
    // the library's read does (the earlier version in file order wins), or
    // the door a query goes through, or a compaction, would change the answer
    val tbl = gc.createTable("db", "srt_tie", Map("primary-key" -> "id", "bucket" -> "1"))
    tbl.appendBatch(Seq((1L, "x1"), (1L, "x2"), (2L, "y")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((1L, "x3"), (2L, "y2"), (2L, "y3")).toDF("id", "v"), 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val viaSql = rows(spark.sql(s"SELECT id, v FROM $cat.db.srt_tie"))
    assert(viaSql.size == 2)
    assert(viaSql == rows(tbl.read))
    // and a compaction of the same files does not change the answer
    tbl.compact(1)
    assert(rows(spark.sql(s"SELECT id, v FROM $cat.db.srt_tie")) == viaSql)
    assert(rows(tbl.read) == viaSql)
  }

  test("sorted-run merge: an oversized single bucket streams (O(files) memory)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (cat, gc) = freshCatalog()
    // ONE bucket, 3 sorted runs, 120k keys x up to 3 versions: the hash
    // merge would hold 120k keys resident; the sorted merge holds 3 runs +
    // one key's versions (laziness asserted by pulling a single group)
    val tbl = gc.createTable("db", "srt_big",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "1"))
    val n = 120000L
    tbl.appendBatch(spark.range(n).select(col("id"), lit(1L).as("ver"),
      (col("id") * 2).as("x")), 0L)
    tbl.appendBatch(spark.range(0, n, 2).select(col("id"), lit(2L).as("ver"),
      (col("id") * 3).as("x")), 1L)
    tbl.appendBatch(spark.range(0, n, 3).select(col("id"), lit(3L).as("ver"),
      (col("id") * 5).as("x")), 2L)
    // merged totals through the V2 scan: every key once, LWW x
    val agg = spark.sql(
      s"SELECT count(*) AS n, sum(x) AS sx FROM $cat.db.srt_big").head()
    assert(agg.getLong(0) == n)
    val expected = (0L until n).map(i =>
      if (i % 3 == 0) i * 5 else if (i % 2 == 0) i * 3 else i * 2).sum
    assert(agg.getLong(1) == expected)
    // lazy streaming: one pulled group == the smallest key's versions, with
    // the other 119999 groups never materialized
    val snapFiles = tbl.latestSnapshot.get.files.sortBy(f => (f.minSeq, f.path))
    val internal = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val groups = graft.sources.v2.PkMerge.sortedGroups(
      snapFiles.map(f => (f.path, f.minSeq)), internal, Array(0), Array.empty)
    try {
      val first = groups.next()
      assert(first.size == 3, s"key 0 has 3 versions, got ${first.size}")
      assert(first.forall(_.getLong(0) == 0L))
    } finally groups.close()
    // a SINK-fed epoch joins the same streaming merge: stream 4th versions
    // for every 5th key through the native sink and re-check the bucket is
    // still fully sorted-run (no hash fallback) with the view updated
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("v2_srtbig_src_").toString
    new StreamTable(src, spark).appendBatch(
      spark.range(0, n, 5).select(col("id"), lit(4L).as("ver"),
        (col("id") * 7).as("x")), 0L)
    val q = spark.readStream.format("graft").load(src)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("v2_srtbig_chk_").toString)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.db.srt_big")
    q.awaitTermination()
    assert(tbl.latestSnapshot.get.files.forall(_.sortedBy.contains(Seq("id"))),
      "sink epoch over the oversized bucket must stay a sorted run")
    val agg2 = spark.sql(
      s"SELECT count(*) AS n, sum(x) AS sx FROM $cat.db.srt_big").head()
    assert(agg2.getLong(0) == n)
    val expected2 = (0L until n).map(i =>
      if (i % 5 == 0) i * 7
      else if (i % 3 == 0) i * 5 else if (i % 2 == 0) i * 3 else i * 2).sum
    assert(agg2.getLong(1) == expected2)
    StreamTable.deleteTree(java.nio.file.Paths.get(src))
  }

  test("sorted-run merge: PK SINK epochs write key-sorted runs (no hash fallback)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // unsorted source rows; the sink's ordering request + writer-side
    // verification must still produce flagged sorted runs per bucket
    val src = java.nio.file.Files.createTempDirectory("v2_srtsink_src_").toString
    val srcT = new StreamTable(src, spark)
    srcT.appendBatch(Seq((7L, 1L, "g"), (1L, 1L, "a"), (5L, 1L, "e"),
      (3L, 1L, "c"), (2L, 1L, "b")).toDF("id", "ver", "v"), 0L)
    srcT.appendBatch(Seq((6L, 2L, "f"), (1L, 2L, "A"), (4L, 2L, "d"),
      (3L, 0L, "stale")).toDF("id", "ver", "v"), 1L)
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.srt_sink (id BIGINT, ver BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key' = 'id', 'sequence.field' = 'ver', " +
      "'bucket' = '2')")
    val q = spark.readStream.format("graft").load(src)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("v2_srtsink_chk_").toString)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.db.srt_sink")
    q.awaitTermination()
    val tbl = gc.getTable("db", "srt_sink")
    val files = tbl.latestSnapshot.get.files
    assert(files.nonEmpty &&
      files.forall(_.sortedBy.contains(Seq("id"))),
      s"every sink epoch file must be a verified sorted run: " +
        files.map(f => (f.path, f.sortedBy)).mkString(", "))
    // the scan therefore plans the streaming k-way merge over them
    val df = spark.sql(s"SELECT id, ver, v FROM $cat.db.srt_sink")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.asInstanceOf[graft.sources.v2.GraftPkScan]
    assert(scan.planInputPartitions().flatMap(
      _.asInstanceOf[graft.sources.v2.GraftPkInputPartition].files.map(_._1)).toSet ==
      files.map(_.path).toSet, "sink-fed buckets must plan every sorted run")
    // and the LWW view is right (stale arrival loses; per-key latest wins)
    assert(df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 2L, "A"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 2L, "d"),
        (5L, 1L, "e"), (6L, 2L, "f"), (7L, 1L, "g")))
    StreamTable.deleteTree(java.nio.file.Paths.get(src))
  }

  test("sorted-run verification: an out-of-order epoch fails the task") {
    import org.apache.spark.sql.types._
    // drive the executor writer directly with inverted key order — the
    // task must fail (a PK data file is always a sorted run; correctness
    // never trusts the plan shape to have honored the ordering request)
    val root = java.nio.file.Files.createTempDirectory("v2_srtver_").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val w = new graft.sources.v2.GraftStreamingDataWriter(root, schema,
      "qtest", 0L, 0, bucketPlan = None, numBuckets = 1, stamp = Some(5L),
      pkVerify = Some(Array(0)))
    def row(id: Long, v: String) =
      org.apache.spark.sql.catalyst.InternalRow(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(v))
    w.write(row(2L, "b"))
    val err = intercept[IllegalStateException](w.write(row(1L, "a")))
    assert(err.getMessage.contains("out of key order"), err.getMessage)
    w.abort()
    // and a sorted epoch through the same writer DOES flag
    val w2 = new graft.sources.v2.GraftStreamingDataWriter(root, schema,
      "qtest", 1L, 0, bucketPlan = None, numBuckets = 1, stamp = Some(6L),
      pkVerify = Some(Array(0)))
    w2.write(row(1L, "a")); w2.write(row(1L, "a2")); w2.write(row(3L, "c"))
    val m2 = w2.commit().asInstanceOf[graft.sources.v2.GraftSinkCommitMessage]
    assert(m2.files.size == 1 && m2.files.head.sorted, m2.files.toString)
    // the WRITER captured the footer stats the manifest will carry — rows
    // and typed min/max agree with an independent footer read
    val st = m2.files.head.stats
    assert(st.rows == 3L && st.mins.get("id").contains("1") &&
      st.maxs.get("id").contains("3"), st.toString)
    val re = StreamTable.footerColumnStats(m2.files.head.path,
      new org.apache.hadoop.conf.Configuration())
    assert(st == re, s"writer-captured stats must equal the footer's: $st vs $re")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("files without sortedBy: the connector refuses until sys.compact") {
    import scala.jdk.CollectionConverters._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "href",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "1"))
    val n = 5000L
    tbl.appendBatch(spark.range(n)
      .selectExpr("id", "1L AS ver", "id * 2 AS x"), 0L)
    tbl.appendBatch(spark.range(0, n, 2)
      .selectExpr("id", "2L AS ver", "id * 3 AS x"), 1L)
    def answers = spark.sql(s"SELECT id, x FROM $cat.db.href").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = answers
    assert(before.size == n.toInt &&
      before.map(_._2).sum == (0L until n).map(i => if (i % 2 == 0) i * 3 else i * 2).sum)
    // strip the sorted-run flags from the manifests — a table written
    // before sorted runs were required
    java.nio.file.Files.list(
      java.nio.file.Paths.get(tbl.root, "_manifests")).iterator().asScala
      .foreach { p =>
        val s = new String(java.nio.file.Files.readAllBytes(p))
        java.nio.file.Files.write(p,
          s.replace("\"sortedBy\":[\"id\"]", "\"sortedBy\":null").getBytes)
      }
    val stripped = gc.getTable("db", "href") // past the edited manifest cache
    require(stripped.latestSnapshot.get.files.forall(_.sortedBy.isEmpty))
    val err = intercept[Exception](answers)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(err).exists(_.contains("CALL sys.compact")), messages(err))
    // the library still reads the layout, so the compaction rewrites it
    spark.sql(s"CALL $cat.sys.compact(`table` => 'db.href')").collect()
    assert(gc.getTable("db", "href").latestSnapshot.get.files
      .forall(_.sortedBy.contains(Seq("id"))))
    assert(answers == before, "the upgrade must not change answers")
  }

  test("mixed bucket layout: the connector reads as the library does") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "healmix",
      Map("primary-key" -> "id", "bucket" -> "2"))
    tbl.appendBatch((1L to 20L).map(i => (i, i * 2)).toDF("id", "x"), 0L)
    tbl.appendBatch((1L to 20L by 2).map(i => (i, i * 3)).toDF("id", "x"), 1L)
    // strip ONE file's bucket id — a legacy/externally-registered file: the
    // scan plans one merge group over every file
    java.nio.file.Files.list(
      java.nio.file.Paths.get(tbl.root, "_manifests")).iterator().asScala
      .take(1).foreach { p =>
        val s = new String(java.nio.file.Files.readAllBytes(p))
        java.nio.file.Files.write(p,
          s.replaceFirst("\"bucket\":\\d+", "\"bucket\":null").getBytes)
      }
    val fresh = gc.getTable("db", "healmix") // past the edited manifest cache
    require(!fresh.latestSnapshot.get.files.forall(_.bucket.isDefined))
    val viaSql = spark.sql(s"SELECT id, x FROM $cat.db.healmix").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaSql.size == 20)
    assert(viaSql == fresh.read.select("id", "x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("BINARY primary key: connector = library through both writers") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    // -1 is byte 0xFF: Spark orders BINARY unsigned, so it sorts LAST
    val batches = Seq(
      Seq((Array[Byte](1, 2), "a"), (Array[Byte](-1), "z"), (Array[Byte](3), "b")),
      Seq((Array[Byte](1, 2), "c"), (Array[Byte](-1), "y")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("k", "v").collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getString(1))).toSeq
      .sortBy(r => (r._1.map(_ & 0xff).mkString(","), r._2))
    val want = rows(Seq((Array[Byte](1, 2), "c"), (Array[Byte](3), "b"),
      (Array[Byte](-1), "y")).toDF("k", "v"))
    for (writer <- Seq("library", "sink")) {
      val name = s"bin_$writer"
      spark.sql(s"CREATE TABLE $cat.db.$name (k BINARY, v STRING) " +
        "TBLPROPERTIES ('primary-key' = 'k')")
      val t = gc.getTable("db", name)
      if (writer == "library")
        batches.zipWithIndex.foreach { case (b, i) => t.appendBatch(b.toDF("k", "v"), i.toLong) }
      else {
        // two epochs of one sink query: the second upserts the first
        val src = new StreamTable(
          java.nio.file.Files.createTempDirectory("v2_bin_src_").toString, spark)
        val chk = java.nio.file.Files.createTempDirectory("v2_bin_chk_").toString
        batches.zipWithIndex.foreach { case (b, i) =>
          src.appendBatch(b.toDF("k", "v"), i.toLong)
          spark.readStream.format("graft").load(src.root).writeStream
            .option("checkpointLocation", chk)
            .trigger(Trigger.AvailableNow()).toTable(s"$cat.db.$name")
            .awaitTermination()
        }
      }
      assert(rows(t.read) == want, s"$writer: library read")
      assert(rows(spark.sql(s"SELECT k, v FROM $cat.db.$name")) == want,
        s"$writer: connector read")
    }
  }

  test("t$files is a distributed scan: manifest partitions, no driver rows") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "dfm", Map.empty)
    (0 until 20).foreach(b => tbl.appendBatch(
      Seq((b.toLong, s"v$b")).toDF("id", "v").coalesce(1), b.toLong))
    tbl.compact(2) // removals must drop out of the fold
    val df = spark.sql(
      s"SELECT file_path, record_count, level FROM $cat.db.`dfm$$files`")
    val plan = df.queryExecution.executedPlan.toString
    // a LocalTableScan would mean per-file rows were materialized on the
    // driver; the V1Scan bridge must plan a real distributed row scan
    assert(!plan.contains("LocalTableScan"), plan)
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(_.getInt(2) == 1),
      rows.mkString(", "))
    assert(rows.map(_.getLong(1)).sum == 20L)
    // stats columns survive the distributed fold (manifest-served)
    val stats = spark.sql(s"SELECT min_value_stats['id'], " +
      s"max_value_stats['id'] FROM $cat.db.`dfm$$files`").collect()
    assert(stats.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      stats.mkString(", "))
    // a filter over the view is a plan-node filter, not driver code
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.`dfm$$files` " +
      "WHERE record_count > 0").head().getLong(0) == 2L)
  }

  test("sink epoch and large compaction commit with zero driver footer opens") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("v2_wstats_src_").toString
    val dst = java.nio.file.Files.createTempDirectory("v2_wstats_dst_").toString
    val srcT = new StreamTable(src, spark)
    srcT.appendBatch((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), 0L)
    val before = StreamTable.driverCommitFooterReads.get()
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", s"$dst/_chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(StreamTable.driverCommitFooterReads.get() == before,
      "sink epoch commit must not open footers on the driver")
    val dstT = new StreamTable(dst, spark)
    assert(dstT.read.count() == 40L)
    // manifest stats landed from the writer tasks, usable for skipping
    val metas = dstT.latestSnapshot.get.files
    assert(metas.forall(f => f.minStats.exists(_.contains("id")) &&
      f.maxStats.exists(_.contains("id"))), metas.toString)
    // a ≥8-file rewrite captures stats in a DISTRIBUTED footer pass
    val big = java.nio.file.Files.createTempDirectory("v2_wstats_cmp_").toString
    val bigT = new StreamTable(big, spark)
    (0 until 3).foreach(b => bigT.appendBatch(
      (1L to 20L).map(i => (b * 100 + i, s"x$i")).toDF("id", "v"), b.toLong))
    val before2 = StreamTable.driverCommitFooterReads.get()
    bigT.compact(8)
    assert(StreamTable.driverCommitFooterReads.get() == before2,
      "a threshold-size compaction must capture stats off the driver")
    assert(bigT.read.count() == 60L)
    assert(bigT.latestSnapshot.get.files.forall(_.minStats.isDefined))
    Seq(src, dst, big).foreach(p =>
      StreamTable.deleteTree(java.nio.file.Paths.get(p)))
  }

  test("stable field ids: renamed-away and dropped names re-add with null-fill") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.fid (id BIGINT, v STRING, x DOUBLE)")
    spark.sql(s"INSERT INTO $cat.db.fid VALUES (1,'a',1.0), (2,'b',2.0)")
    spark.sql(s"ALTER TABLE $cat.db.fid RENAME COLUMN v TO label")
    // re-ADD the renamed-away name: a FRESH field (minted storage name) —
    // the old 'v' bytes stay under 'label' and never surface here
    spark.sql(s"ALTER TABLE $cat.db.fid ADD COLUMNS (v STRING)")
    assert(spark.sql(s"SELECT id, label, v FROM $cat.db.fid ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSeq ==
      Seq((1L, "a", null), (2L, "b", null)))
    spark.sql(s"INSERT INTO $cat.db.fid VALUES (3,'c',3.0,'fresh')")
    assert(spark.sql(
      s"SELECT id, label, v FROM $cat.db.fid WHERE v IS NOT NULL").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((3L, "c", "fresh")))
    // DROP then re-ADD the same name: null-fill, new writes land
    spark.sql(s"ALTER TABLE $cat.db.fid DROP COLUMN x")
    spark.sql(s"ALTER TABLE $cat.db.fid ADD COLUMNS (x DOUBLE)")
    assert(spark.sql(s"SELECT x FROM $cat.db.fid").collect()
      .forall(_.isNullAt(0)), "re-added column must null-fill old files")
    spark.sql(s"INSERT INTO $cat.db.fid VALUES (4,'d','v4',44.0)")
    assert(spark.sql(s"SELECT id, x FROM $cat.db.fid WHERE x IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((4L, 44.0)))
    // DML predicates on re-added fields translate to the minted storage
    // name (same path RENAME translation takes)
    spark.sql(s"DELETE FROM $cat.db.fid WHERE v = 'fresh'")
    assert(spark.sql(s"SELECT id FROM $cat.db.fid ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // the surface schema shows declared names only — no minted name leaks
    assert(spark.table(s"$cat.db.fid").schema.fieldNames.toSeq ==
      Seq("id", "label", "v", "x"))
    // a SECOND drop/re-add cycle mints another fresh field
    spark.sql(s"ALTER TABLE $cat.db.fid DROP COLUMN x")
    spark.sql(s"ALTER TABLE $cat.db.fid ADD COLUMNS (x DOUBLE)")
    assert(spark.sql(s"SELECT x FROM $cat.db.fid").collect()
      .forall(_.isNullAt(0)), "second re-add must null-fill again")
  }

  test("drop/re-add of a STRUCT column mints a fresh field (no resurrection)") {
    // manifest fileCols record parquet LEAF paths ('s.a', 's.b') — the ADD
    // collision probe must normalize them to top-level names, or old files'
    // struct bytes would silently surface under the re-added column
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.fidst " +
      "(id BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    spark.sql(s"INSERT INTO $cat.db.fidst " +
      "VALUES (1, named_struct('a', CAST(10 AS BIGINT), 'b', 'x'))")
    spark.sql(s"ALTER TABLE $cat.db.fidst DROP COLUMN s")
    spark.sql(s"ALTER TABLE $cat.db.fidst " +
      "ADD COLUMNS (s STRUCT<a: BIGINT, b: STRING>)")
    assert(spark.sql(s"SELECT s FROM $cat.db.fidst").collect()
      .forall(_.isNullAt(0)),
      "re-added struct column must null-fill old files, not resurrect them")
    assert(spark.sql(s"SELECT id FROM $cat.db.fidst").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("evolution guards: DML on renamed columns; stale file-level name collisions") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.evg (id BIGINT, v STRING, x DOUBLE)")
    spark.sql(s"INSERT INTO $cat.db.evg VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)")
    spark.sql(s"ALTER TABLE $cat.db.evg RENAME COLUMN v TO label")
    // DELETE through the renamed column must translate to the file-level
    // name before it reaches the storage layer
    spark.sql(s"DELETE FROM $cat.db.evg WHERE label = 'a'")
    assert(spark.sql(s"SELECT id, label FROM $cat.db.evg").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))

    // REVERTING a rename to its own file-level name stays legal
    spark.sql(s"ALTER TABLE $cat.db.evg DROP COLUMN x")
    spark.sql(s"ALTER TABLE $cat.db.evg RENAME COLUMN label TO v")
    assert(spark.sql(s"SELECT v FROM $cat.db.evg").collect()
      .map(_.getString(0)).toSeq == Seq("b"))

    // renaming an AGGREGATED field is refused (the merge spec is keyed by
    // its name; the rename would silently drop it from the fold)
    spark.sql(s"CREATE TABLE $cat.db.evga (k BIGINT, total BIGINT) " +
      "TBLPROPERTIES ('primary-key' = 'k', " +
      "'fields.total.aggregate-function' = 'sum')")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.evga RENAME COLUMN total TO sum_total")
    }
    assert(e3.getMessage.contains("aggregated field"), e3.getMessage)
  }

  test("V2 streaming sink preserves bucket ids; PK targets upsert with stamped sequences") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (_, gc) = freshCatalog()

    // bucketed APPEND target: committed files carry content-derived buckets
    val app = gc.createTable("db", "sink_b",
      Map("bucket-key" -> "k", "bucket" -> "4"))
    val appRoot = s"${gc.warehouse}/db.db/sink_b"
    val srcRoot = java.nio.file.Files.createTempDirectory("v2_sink_src_").toString
    val src = new StreamTable(srcRoot, spark)
    src.appendBatch((0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v"), 0L)
    val chk1 = java.nio.file.Files.createTempDirectory("v2_sink_chk_").toString
    val q1 = spark.readStream.format("graft").load(srcRoot)
      .writeStream.format("graft")
      .option("path", appRoot).option("checkpointLocation", chk1)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val appFiles = gc.getTable("db", "sink_b").latestSnapshot.get.files
    assert(appFiles.nonEmpty && appFiles.forall(_.bucket.isDefined),
      appFiles.map(f => (f.path.split('/').last, f.bucket)).toString)
    // labels are content-derived: each file's keys hash to its recorded bucket
    appFiles.foreach { f =>
      val ks = spark.read.parquet(f.path).select("k").collect().map(_.getLong(0))
      assert(ks.forall(k => ((org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashLong(k, 42) % 4) + 4) % 4 == f.bucket.get), s"bucket mislabel in ${f.path}")
    }
    assert(spark.read.format("graft").load(appRoot).count() == 1000L)

    // PK target: the sink stamps offset+epoch — a graft→graft upsert pipe
    val pk = gc.createTable("db", "sink_pk",
      Map("primary-key" -> "k", "bucket" -> "2"))
    // pre-existing DataFrame-written history the sink must supersede
    pk.appendBatch(Seq((1L, "old1"), (2L, "old2"), (900L, "keep"))
      .toDF("k", "v"), 0L)
    val pkRoot = s"${gc.warehouse}/db.db/sink_pk"
    val chk2 = java.nio.file.Files.createTempDirectory("v2_sinkpk_chk_").toString
    val q2 = spark.readStream.format("graft").load(srcRoot)
      .where(col("k") < 10)
      .writeStream.format("graft")
      .option("path", pkRoot).option("checkpointLocation", chk2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows = spark.read.format("graft").load(pkRoot)
      .select("k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // keys 0-9 upserted (v0..v9 beat old1/old2 via the stamped offset);
    // key 900 untouched
    assert(rows == ((0L until 10L).map(i => (i, s"v$i")) :+ (900L, "keep")),
      rows.toString)
    assert(rows == pk.read.select("k", "v").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)
    // sink files carry buckets AND the stamped sequence column
    val pkFiles = gc.getTable("db", "sink_pk").latestSnapshot.get.files
      .filter(_.path.contains("/w0-"))
    assert(pkFiles.nonEmpty && pkFiles.forall(_.bucket.isDefined))
    assert(spark.read.parquet(pkFiles.head.path).columns
      .contains(StreamTable.SeqColName))
  }

  test("changelog-producer: commits persist their netted changelog; CDC reads only it") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "clp",
      Map("primary-key" -> "id", "sequence.field" -> "ver", "bucket" -> "2",
        "changelog-producer" -> "input"))
    val root = s"${gc.warehouse}/db.db/clp"
    tbl.appendBatch(Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("id", "ver", "v"), 0L)
    tbl.appendBatch(Seq((1L, 20L, "A")).toDF("id", "ver", "v"), 1L)
    tbl.appendBatch(Seq((2L, 5L, "stale")).toDF("id", "ver", "v"), 2L)
    tbl.deleteBatch(Seq((3L, 10L)).toDF("id", "ver"), 3L)

    // every commit carries produced changelog files beside its data files —
    // except the table's FIRST snapshot, whose changelog is unreachable by
    // construction (delta intervals start at s ≥ 0) and is skipped
    val snaps = tbl.snapshots
    assert(snaps.forall(_.clogProduced), snaps.map(_.clogProduced).toString)
    assert(snaps.head.changelog.isEmpty, "snapshot 0's changelog is never read")
    assert(snaps.tail.forall(_.changelog.nonEmpty))
    assert(snaps.flatMap(_.changelog).forall(_.path.contains("/data/changelog/")))

    // the file-count metric: an incremental trigger plans ONLY the
    // interval's changelog files — zero data files, O(delta) per trigger
    val stream = new graft.sources.v2.GraftChangelogStream(
      tbl, spark.read.format("graft").load(root).schema, Map.empty)
    val parts = stream.planInputPartitions(
      graft.sources.v2.GraftOffset(0L), graft.sources.v2.GraftOffset(3L))
    assert(parts.nonEmpty)
    val planned = parts.toSeq.map {
      case d: graft.sources.v2.GraftChangelogDeltaPartition => d.files.map(_._1)
      case other => fail(s"expected a delta partition, got $other")
    }.flatten
    val intervalClog = snaps.filter(s0 => s0.id >= 1 && s0.id <= 3)
      .flatMap(_.changelog.map(_.path))
    assert(planned.toSet == intervalClog.toSet, s"planned=$planned")

    // end-to-end: the drained stream matches the state-diff changelog
    val chk = java.nio.file.Files.createTempDirectory("v2_clp_chk_").toString
    def drain(): Seq[(Long, Long, String, String)] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.Row]())
      val q = spark.readStream.format("graft").option("read-changelog", "true")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
        .sorted
    }
    // run 1 = initial catch-up (+I of the resolved state at the pinned end)
    assert(drain() == Seq((1L, 20L, "A", "+I"), (2L, 10L, "b", "+I")))
    // incremental run over producer commits: matches the batch changelog
    tbl.appendBatch(Seq((1L, 30L, "AA"), (9L, 1L, "new")).toDF("id", "ver", "v"), 4L)
    tbl.deleteBatch(Seq((2L, 10L)).toDF("id", "ver"), 5L)
    val run2 = drain()
    val batch = tbl.changelogWithRetractions(3L, tbl.latestSnapshot.get.id)
      .select("id", "ver", "v", "op").as[(Long, Long, String, String)]
      .collect().toSeq.sorted
    assert(run2 == batch, s"stream=$run2 batch=$batch")
  }

  test("changelog-producer: append-then-compact inside one trigger keeps the changes") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    for (producer <- Seq(true, false)) {
      val (_, gc) = freshCatalog()
      val opts = Map("primary-key" -> "id") ++
        (if (producer) Map("changelog-producer" -> "input") else Map.empty)
      val tbl = gc.createTable("db", "clac", opts)
      val root = s"${gc.warehouse}/db.db/clac"
      val chk = java.nio.file.Files.createTempDirectory("v2_clac_chk_").toString
      def drain(): Seq[(Long, String, String)] = {
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[org.apache.spark.sql.Row]())
        val q = spark.readStream.format("graft").option("read-changelog", "true")
          .load(root)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        buf.asScala.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      }
      tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
      assert(drain() == Seq((1L, "a", "+I"), (2L, "b", "+I")))
      // an update AND a delete commit, then a compaction absorbs their
      // level-0 files — all inside ONE undrained interval: the changes must
      // still stream (the commit-by-commit walk / the persisted changelog)
      tbl.appendBatch(Seq((2L, "B")).toDF("id", "v"), 1L)
      tbl.deleteBatch(Seq(Tuple1(1L)).toDF("id"), 2L)
      tbl.compact(1)
      assert(drain() == Seq((1L, "a", "-D"), (2L, "b", "-U"), (2L, "B", "+U")).sorted,
        s"producer=$producer")
    }
  }

  test("incremental-between: append table serves the interval's added rows as +I") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_inc_app_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "v"), 1L)
    tbl.appendBatch(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), 2L)
    val inc = spark.read.format("graft")
      .option("incremental-between", "0,2").load(root)
    assert(inc.schema.fieldNames.toSeq == Seq("id", "v", "op"))
    val rows = inc.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).toSeq.sorted
    assert(rows == Seq((3L, "c", "+I"), (4L, "d", "+I"), (5L, "e", "+I")))
    // out-of-range snapshot fails loudly, never returns a partial interval
    val err = intercept[Exception](spark.read.format("graft")
      .option("incremental-between", "0,9").load(root).collect())
    assert(err.getMessage.contains("not retained"), err.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("incremental-between: PK table nets the interval (state-diff fallback, batch)") {
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "inc_pk",
      Map("primary-key" -> "id", "bucket" -> "2"))
    tbl.appendBatch(Seq((1L, "a0"), (2L, "b0"), (3L, "c0")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((2L, "b1")).toDF("id", "v"), 1L)
    tbl.deleteBatch(Seq(Tuple1(3L)).toDF("id"), 2L)
    val rows = spark.read.format("graft")
      .option("incremental-between", "0,2").load(tbl.root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._3))
    // key 2 updated (-U old, +U new), key 3 deleted (-D old), key 1 silent
    assert(rows == Seq((2L, "b1", "+U"), (2L, "b0", "-U"), (3L, "c0", "-D")),
      rows.toString)
  }

  test("incremental-between: producer table rides the persisted changelog files") {
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "inc_cl",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    tbl.appendBatch(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    tbl.appendBatch(Seq((1L, "a1"), (7L, "g0")).toDF("id", "v"), 1L)
    val df = spark.read.format("graft")
      .option("incremental-between", "0,1").load(tbl.root)
    // the plan reads ONLY changelog files (the O(delta) fast path)
    val parts = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .partitions.map(_.head)
    assert(parts.nonEmpty && parts.forall {
      case d: graft.sources.v2.GraftChangelogDeltaPartition =>
        d.files.forall(_._1.contains("/data/changelog/"))
      case other => fail(s"unexpected partition $other")
    })
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).toSeq.sortBy(t => (t._1, t._3))
    assert(rows == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (7L, "g0", "+I")),
      rows.toString)
  }

  test("$changelog: producer PK table serves its retained change history") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "aud_cl",
      Map("primary-key" -> "id", "sequence.field" -> "ver",
        "changelog-producer" -> "input", "bucket" -> "2"))
    // snapshot 0 carries TWO versions of key 1: audit must emit the winner
    tbl.appendBatch(Seq((1L, 1L, "a0"), (1L, 2L, "a1"), (2L, 1L, "b0"))
      .toDF("id", "ver", "v"), 0L)
    tbl.appendBatch(Seq((2L, 2L, "b1")).toDF("id", "ver", "v"), 1L)
    tbl.deleteBatch(Seq(Tuple1(1L)).toDF("id"), 2L)
    val expected = Seq(
      (1L, "a1", "+I"), (1L, "a1", "-D"),
      (2L, "b0", "+I"), (2L, "b1", "+U"), (2L, "b0", "-U"))
    val rows = spark.sql(s"SELECT id, v, rowkind FROM $cat.db.`aud_cl$$changelog`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(t => (t._1, t._3, t._2))
    assert(rows == expected, rows.toString)
    // the library dual serves the identical history
    val lib = tbl.changeHistoryView.select("id", "v", "rowkind")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(t => (t._1, t._3, t._2))
    assert(lib == expected, lib.toString)
    // $audit_log is Paimon's BATCH semantics: the current state, all +I
    val audit = spark.sql(
      s"SELECT id, v, rowkind FROM $cat.db.`aud_cl$$audit_log`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(audit == Seq((2L, "b1", "+I")), audit.toString)
  }

  test("$changelog: append table history is +I; pre-producer PK history refuses") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val app = gc.createTable("db", "aud_app", Map.empty)
    app.appendBatch(Seq((1L, "x")).toDF("id", "v"), 0L)
    app.appendBatch(Seq((2L, "y")).toDF("id", "v"), 1L)
    val rows = spark.sql(s"SELECT id, v, rowkind FROM $cat.db.`aud_app$$changelog`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(rows == Seq((1L, "x", "+I"), (2L, "y", "+I")))
    val pk = gc.createTable("db", "aud_nopro", Map("primary-key" -> "id"))
    pk.appendBatch(Seq((1L, "x")).toDF("id", "v"), 0L)
    pk.appendBatch(Seq((1L, "y")).toDF("id", "v"), 1L)
    val err = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.db.`aud_nopro$$changelog`").collect())
    assert(err.getMessage.contains("changelog-producer"), err.getMessage)
    // …but $audit_log (current state, +I) still serves that same table
    val audit = spark.sql(
      s"SELECT id, v, rowkind FROM $cat.db.`aud_nopro$$audit_log`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(audit == Seq((1L, "y", "+I")), audit.toString)
  }

  test("change surfaces prune columns: projected subset + op, keys read but not emitted") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "pr_cl",
      Map("primary-key" -> "id", "changelog-producer" -> "input", "bucket" -> "2"))
    tbl.appendBatch(Seq((1L, "a0", 10.0), (2L, "b0", 20.0))
      .toDF("id", "v", "w"), 0L)
    tbl.appendBatch(Seq((1L, "a1", 11.0)).toDF("id", "v", "w"), 1L)
    // batch incremental: project ONE payload column (not even the key)
    val df = spark.read.format("graft")
      .option("incremental-between", "0,1").load(tbl.root).select("v", "op")
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(scan.readSchema().fieldNames.toSeq == Seq("v", "op"),
      scan.readSchema().catalogString)
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      == Seq(("a0", "-U"), ("a1", "+U")))
    // $changelog history and $audit_log prune the same way
    val hist = spark.sql(s"SELECT v, rowkind FROM $cat.db.`pr_cl$$changelog`")
    val hScan = hist.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head
    assert(hScan.readSchema().fieldNames.toSeq == Seq("v", "rowkind"),
      hScan.readSchema().catalogString)
    assert(hist.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      == Seq(("a0", "+I"), ("a0", "-U"), ("a1", "+U"), ("b0", "+I")))
  }

  test("incremental-between accepts TAG endpoints, ≡ their snapshot ids " +
      "(the tag-per-day daily-diff workflow)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_inc_tag_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0L)
    tbl.createTag("day1")
    tbl.appendBatch(Seq((2L, "b")).toDF("id", "v"), 1L)
    tbl.createTag("day2")
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "v"), 2L)
    def readInc(between: String) = spark.read.format("graft")
      .option("incremental-between", between).load(root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    // tag endpoints ≡ their pinned snapshot ids, mixed forms included
    val expected = Seq((2L, "b", "+I"))
    assert(readInc("day1,day2") == expected)
    assert(readInc("day1,day2") == readInc("0,1"))
    assert(readInc("day1,1") == expected, "mixed tag/id endpoints resolve")
    assert(readInc("0,day2") == expected)
    // an unknown tag refuses with the available tags in the message
    val err = intercept[Exception](spark.read.format("graft")
      .option("incremental-between", "day1,day9").load(root))
    assert(err.getMessage.contains("neither a snapshot id nor a tag") &&
      err.getMessage.contains("day2"), err.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("incremental-between-timestamp floors each endpoint to its snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_inc_ts_").toString
    val tbl = new StreamTable(root, spark)
    tbl.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0L)
    val t0 = tbl.snapshots.last.committedAtMs
    Thread.sleep(5)
    tbl.appendBatch(Seq((2L, "b")).toDF("id", "v"), 1L)
    Thread.sleep(5)
    tbl.appendBatch(Seq((3L, "c")).toDF("id", "v"), 2L)
    val t2 = tbl.snapshots.last.committedAtMs
    // (floor(t0), floor(t2)] = (snap 0, snap 2] → rows of commits 1..2
    val rows = spark.read.format("graft")
      .option("incremental-between-timestamp", s"$t0,$t2").load(root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(rows == Seq((2L, "b", "+I"), (3L, "c", "+I")), rows.toString)
    // an endpoint before the first commit fails loudly
    val err = intercept[Exception](spark.read.format("graft")
      .option("incremental-between-timestamp", s"${t0 - 100000},$t2").load(root))
    assert(err.getMessage.contains("no snapshot committed at or before"),
      err.getMessage)
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("bucket point lookup prunes change-surface plans to one bucket") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "bpl_cl",
      Map("primary-key" -> "id", "changelog-producer" -> "input", "bucket" -> "4"))
    tbl.appendBatch((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), 0L)
    tbl.appendBatch((1L to 40L).map(i => (i, s"w$i")).toDF("id", "v"), 1L)
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.size
      }.sum
    val all = spark.read.format("graft")
      .option("incremental-between", "0,1").load(tbl.root)
    val one = all.where(org.apache.spark.sql.functions.col("id") === 7L)
    assert(parts(all) == 4, s"expected 4 bucket partitions, got ${parts(all)}")
    assert(parts(one) == 1, s"point lookup must prune to 1, got ${parts(one)}")
    assert(one.collect().map(r => (r.getString(1), r.getString(2))).toSeq.sorted
      == Seq(("v7", "-U"), ("w7", "+U")))
    // the $changelog history read prunes its pass-through files the same way
    val hist = spark.sql(
      s"SELECT * FROM $cat.db.`bpl_cl$$changelog` WHERE id = 7")
    assert(parts(hist) == 2, // snapshot-0 state partition + snapshot-1 clog file
      s"history point lookup: got ${parts(hist)}")
    assert(hist.collect().map(_.getString(1)).toSeq.sorted
      == Seq("v7", "v7", "w7"))
  }

  test("interval evidence survives absorption and overwrites; history survives expiry") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()

    // 1. LIBRARY door: a commit's level-0 file absorbed by an in-interval
    // compaction must still contribute its changes (the commit walk)
    val t1 = gc.createTable("db", "ev_absorb", Map("primary-key" -> "id"))
    t1.appendBatch(Seq((1L, "a0")).toDF("id", "v"), 0L)
    t1.appendBatch(Seq((1L, "a1"), (2L, "b0")).toDF("id", "v"), 1L)
    t1.compact(1) // snapshot 2 absorbs commit 1's level-0 file
    val ch = t1.changelogWithRetractions(0L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(x => (x._1, x._3))
    assert(ch == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (2L, "b0", "+I")),
      ch.toString)

    // 2. overwriteBatch drops keys: the interval diff must emit -D for them
    // (removed level-0 files are changed-key evidence on a non-compaction
    // commit) — through BOTH the library and the V2 batch incremental
    val t2 = gc.createTable("db", "ev_ow", Map("primary-key" -> "id"))
    t2.appendBatch(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    t2.overwriteBatch(Seq((1L, "a1")).toDF("id", "v"), 1L)
    val lib = t2.changelogWithRetractions(0L, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(x => (x._1, x._3))
    assert(lib == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (2L, "b0", "-D")),
      lib.toString)
    val v2 = spark.read.format("graft")
      .option("incremental-between", "0,1").load(t2.root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(x => (x._1, x._3))
    assert(v2 == lib, s"v2=$v2 lib=$lib")

    // 2b. keys whose ONLY residence was a COMPACTED (level-1) file still
    // emit -D when an overwrite drops them — removal evidence is any-level,
    // classified by the commit KIND (a compaction's removals stay silent)
    val t2b = gc.createTable("db", "ev_ow2", Map("primary-key" -> "id"))
    t2b.appendBatch(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    t2b.compact(1) // snapshot 1: both keys now live ONLY in a level-1 file
    t2b.overwriteBatch(Seq((1L, "a1")).toDF("id", "v"), 1L) // snapshot 2
    val lib2 = t2b.changelogWithRetractions(1L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(x => (x._1, x._3))
    assert(lib2 == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (2L, "b0", "-D")),
      lib2.toString)
    // a truncating overwrite (to EMPTY) retracts everything, not crashes
    t2b.overwriteBatch(Seq.empty[(Long, String)].toDF("id", "v"), 2L)
    val lib3 = t2b.changelogWithRetractions(2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(lib3 == Seq((1L, "a1", "-D")), lib3.toString)

    // 3. a PRODUCED commit's history survives its predecessor's expiry
    // (persisted changelog files are self-contained)
    val t3 = gc.createTable("db", "ev_exp",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    t3.appendBatch(Seq((1L, "a0")).toDF("id", "v"), 0L)
    t3.appendBatch(Seq((1L, "a1")).toDF("id", "v"), 1L)
    t3.appendBatch(Seq((2L, "b0")).toDF("id", "v"), 2L)
    assert(t3.expireSnapshots(2, 2, 0L) == 1) // snapshot 0 gone
    val hist = spark.sql(s"SELECT id, v, rowkind FROM $cat.db.`ev_exp$$changelog`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(x => (x._1, x._3))
    // snapshot 1's produced changelog (-U a0/+U a1) and snapshot 2's (+I b0)
    // both serve; snapshot 0's +I catch-up is expired history
    assert(hist == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (2L, "b0", "+I")),
      hist.toString)
  }

  test("delta fast path orders by SNAPSHOT id, not writer sequence; op-only projections read") {
    import spark.implicits._
    import graft.table.{DataFileMeta, Snapshot}
    val (cat, gc) = freshCatalog()
    // a stamped sink epoch's changelog minSeq can sort BELOW an earlier
    // appendBatch commit's batchId — the plan must follow snapshot order
    val tbl = gc.createTable("db", "ord_cl",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    tbl.appendBatch(Seq((1L, "v0")).toDF("id", "v"), 100L) // snapshot 0
    tbl.appendBatch(Seq((1L, "v1")).toDF("id", "v"), 101L) // snapshot 1
    tbl.appendBatch(Seq((1L, "v2")).toDF("id", "v"), 102L) // snapshot 2
    val snaps = tbl.snapshots
    def meta(path: String, seq: Long) =
      DataFileMeta(path, 1L, 1L, seq, seq, 0, 0L, None)
    // adversarial: snapshot 11's changelog carries a LOWER writer seq (7)
    // than snapshot 10's (100) — the interleaved-sink-epoch shape
    val crafted = Seq(
      snaps(1).copy(id = 10L, changelog = Seq(meta("/a", 100L)), clogProduced = true),
      snaps(2).copy(id = 11L, changelog = Seq(meta("/b", 7L)), clogProduced = true))
    val parts = graft.sources.v2.ChangelogPlanning
      .planInterval(tbl, snaps.take(1).map(_.copy(id = 9L)) ++ crafted, 9L, 11L)
    val files = parts.collect {
      case d: graft.sources.v2.GraftChangelogDeltaPartition => d.files
    }.flatten.toSeq
    assert(files == Seq(("/a", 10L), ("/b", 11L)),
      s"must order and group by snapshot id: $files")

    // op-only / count(*) projections on append-table change surfaces keep
    // one narrow pacing column instead of a zero-column parquet read
    val app = gc.createTable("db", "ord_app", Map.empty)
    app.appendBatch(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), 0L)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.`ord_app$$audit_log`").head().getLong(0) == 2)
    val kinds = spark.sql(
      s"SELECT rowkind FROM $cat.db.`ord_app$$changelog`").collect()
      .map(_.getString(0)).toSeq
    assert(kinds == Seq("+I", "+I"), kinds.toString)
  }

  test("$changelog serves an overwrite amid produced history as its own diff") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "ow_hist",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    tbl.appendBatch(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), 0L)
    tbl.overwriteBatch(Seq((1L, "a1")).toDF("id", "v"), 1L) // drops key 2
    tbl.appendBatch(Seq((3L, "c0")).toDF("id", "v"), 2L)
    val rows = spark.sql(s"SELECT id, v, rowkind FROM $cat.db.`ow_hist$$changelog`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(x => (x._1, x._3))
    assert(rows == Seq(
      (1L, "a0", "+I"), (1L, "a1", "+U"), (1L, "a0", "-U"),
      (2L, "b0", "+I"), (2L, "b0", "-D"), (3L, "c0", "+I")), rows.toString)
    // the library dual applies the same rule
    val lib = tbl.changeHistoryView.select("id", "v", "rowkind")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(x => (x._1, x._3))
    assert(lib == rows, lib.toString)
  }

  test("incremental-between accepts TAG endpoints; `t$options` lists properties") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "inc_tags", Map("primary-key" -> "id"))
    tbl.appendBatch(Seq((1L, "a0")).toDF("id", "v"), 0L)
    tbl.createTag("day1", Some(0L))
    tbl.appendBatch(Seq((1L, "a1"), (2L, "b0")).toDF("id", "v"), 1L)
    tbl.createTag("day2", Some(1L))
    val rows = spark.read.format("graft")
      .option("incremental-between", "day1,day2").load(tbl.root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._3))
    assert(rows == Seq((1L, "a1", "+U"), (1L, "a0", "-U"), (2L, "b0", "+I")),
      rows.toString)
    val err = intercept[Exception](spark.read.format("graft")
      .option("incremental-between", "day1,nope").load(tbl.root))
    assert(err.getMessage.contains("neither a snapshot id nor a tag"),
      err.getMessage)
    val opts = spark.sql(s"SELECT key, value FROM $cat.db.`inc_tags$$options`")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(opts.get("primary-key").contains("id"), opts.toString)
  }

  test("changelog-producer: first-row engine — later arrivals net to identical pairs") {
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "clfr",
      Map("primary-key" -> "id", "merge-engine" -> "first-row",
        "changelog-producer" -> "input"))
    tbl.appendBatch(Seq((1L, "first"), (2L, "x")).toDF("id", "v"), 0L)
    // a LATER arrival for id=1 loses first-row resolution: its produced
    // changelog must carry the SURVIVING (first) image on both sides of the
    // pair (the min_by old-state pick must never leak a fresh row); id=9 is
    // genuinely new
    tbl.appendBatch(Seq((1L, "late"), (9L, "new")).toDF("id", "v"), 1L)
    val clog = tbl.snapshots.last.changelog
    assert(clog.nonEmpty)
    val rows = spark.read.parquet(clog.map(_.path): _*)
      .select("id", "v", "op").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(rows == Seq((1L, "first", "-U"), (1L, "first", "+U"),
      (9L, "new", "+I")).sorted, rows.toString)
  }

  test("changelog-producer: a PK sink epoch persists its changelog too") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "clsink",
      Map("primary-key" -> "k", "bucket" -> "2", "changelog-producer" -> "input"))
    val dst = s"${gc.warehouse}/db.db/clsink"
    val srcRoot = java.nio.file.Files.createTempDirectory("v2_clsink_src_").toString
    val src = new StreamTable(srcRoot, spark)
    val chk = java.nio.file.Files.createTempDirectory("v2_clsink_chk_").toString
    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(srcRoot)
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    src.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    pipe()
    src.appendBatch(Seq((1L, "A")).toDF("k", "v"), 1L)
    pipe()
    // both sink epochs committed WITH produced changelog
    val snaps = tbl.snapshots
    assert(snaps.size == 2 && snaps.forall(_.clogProduced), snaps.toString)
    assert(snaps.last.changelog.nonEmpty)
    // the CDC interval over the second epoch plans ONLY changelog files
    val stream = new graft.sources.v2.GraftChangelogStream(
      tbl, spark.read.format("graft").load(dst).schema, Map.empty)
    val parts = stream.planInputPartitions(
      graft.sources.v2.GraftOffset(0L), graft.sources.v2.GraftOffset(1L))
    assert(parts.forall(_.isInstanceOf[graft.sources.v2.GraftChangelogDeltaPartition]),
      parts.toSeq.toString)
    // and nets the upsert correctly
    val batch = tbl.changelogWithRetractions(0L, 1L)
      .select("k", "v", "op").as[(Long, String, String)].collect().toSeq.sorted
    assert(batch == Seq((1L, "A", "+U"), (1L, "a", "-U")).sorted, batch.toString)
  }

  test("changelog-producer: retention expires changelog files with their snapshots") {
    import spark.implicits._
    val (_, gc) = freshCatalog()
    val tbl = gc.createTable("db", "clr",
      Map("primary-key" -> "id", "changelog-producer" -> "input"))
    (0L until 6L).foreach(i =>
      tbl.appendBatch(Seq((i % 2, s"v$i")).toDF("id", "v"), i))
    val allClog = tbl.snapshots.flatMap(_.changelog.map(_.path))
    assert(allClog.size >= 5) // snapshot 0 skips (unreachable changelog)
    val expired = tbl.expireSnapshots(numRetainedMin = 2, numRetainedMax = 2,
      timeRetainedMs = 0L)
    assert(expired > 0)
    val keptClog = tbl.snapshots.flatMap(_.changelog.map(_.path)).toSet
    allClog.foreach { p =>
      val exists = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      assert(exists == keptClog.contains(p),
        s"$p exists=$exists kept=${keptClog.contains(p)}")
    }
  }

  test("PK merge-on-read across ADD COLUMN evolution null-fills old versions") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.pke (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key' = 'id')")
    spark.sql(s"INSERT INTO $cat.db.pke VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.pke ADD COLUMNS (score DOUBLE)")
    // post-evolution upsert for id=1 carries the new column; id=2's winner
    // predates it and must read as NULL through the merge
    spark.sql(s"INSERT INTO $cat.db.pke VALUES (1, 'A', 9.5)")
    val rows = spark.sql(s"SELECT id, v, score FROM $cat.db.pke ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "A", 9.5), (2L, "b", null)))
  }

  test("aggregation engine resolves per-bucket in the V2 readers") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "agg",
      Map("primary-key" -> "id",
        "fields.x.aggregate-function" -> "sum",
        "fields.hi.aggregate-function" -> "max"))
    tbl.appendBatch(Seq((1L, 5L, 3.0), (1L, 7L, 9.0), (2L, 1L, 1.0))
      .toDF("id", "x", "hi"), 0L)
    tbl.appendBatch(Seq((1L, 100L, 2.0), (2L, 1L, 5.5)).toDF("id", "x", "hi"), 1L)
    val rows = spark.sql(s"SELECT id, x, hi FROM $cat.db.agg ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 112L, 9.0), (2L, 2L, 5.5)))
    // equals the library view (incl. after compaction re-merges partials)
    tbl.compact(1)
    tbl.appendBatch(Seq((2L, 10L, 0.5)).toDF("id", "x", "hi"), 2L)
    val viaSql = spark.sql(s"SELECT id, x, hi FROM $cat.db.agg ORDER BY id")
      .collect().map(_.toSeq).toSeq
    val viaLib = gc.getTable("db", "agg").read.select("id", "x", "hi")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaSql == viaLib, s"sql=$viaSql lib=$viaLib")
    assert(viaSql.map(r => (r(0), r(1))) == Seq((1L, 112L), (2L, 12L)))
    // partial-update reads natively too (per-field last-non-null in the
    // reader — the deeper coverage lives in its own test below)
    val pu = gc.createTable("db", "pu",
      Map("primary-key" -> "id", "merge-engine" -> "partial-update"))
    pu.appendBatch(Seq((1L, "a")).toDF("id", "v"), 0L)
    assert(spark.sql(s"SELECT id, v FROM $cat.db.pu").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
  }

  test("aggregation read widens INT/FLOAT sums like the library view") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "aggw",
      Map("primary-key" -> "id",
        "fields.n.aggregate-function" -> "sum",
        "fields.x.aggregate-function" -> "sum",
        "fields.hi.aggregate-function" -> "max"))
    // INT sum overflowing Int.MaxValue proves the fold runs in the widened
    // accumulator, not the narrow file type
    tbl.appendBatch(Seq((1L, 2000000000, 1.5f, 3), (2L, 7, 0.25f, 9))
      .toDF("id", "n", "x", "hi"), 0L)
    tbl.appendBatch(Seq((1L, 2000000000, 2.25f, 5)).toDF("id", "n", "x", "hi"), 1L)
    val df = spark.sql(s"SELECT id, n, x, hi FROM $cat.db.aggw ORDER BY id")
    assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema("hi").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSeq
    assert(rows == Seq((1L, 4000000000L, 3.75, 5), (2L, 7L, 0.25, 9)), rows.toString)
    // bit-for-bit the library view
    val lib = gc.getTable("db", "aggw").read.select("id", "n", "x", "hi")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == lib)
  }

  test("partial-update through the V2 scan: per-field last-non-null, fseq provenance") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "pun",
      Map("primary-key" -> "id", "merge-engine" -> "partial-update",
        "sequence.field" -> "ver", "bucket" -> "2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toSeq
    // commit 0: full rows at ver=1
    tbl.appendBatch(Seq((1L, 1L, "a", 10.0), (2L, 1L, "b", 20.0))
      .toDF("id", "ver", "name", "bal"), 0L)
    // commit 1: partial update at ver=3 — bal only (name not written)
    tbl.appendBatch(Seq((1L, 3L, null, 99.0))
      .toDF("id", "ver", "name", "bal")
      .select(col("id"), col("ver"), col("name").cast("string"), col("bal")), 1L)
    val viaSql1 = rows(spark.sql(s"SELECT id, name, bal FROM $cat.db.pun ORDER BY id"))
    assert(viaSql1 == Seq((1L, "a", 99.0), (2L, "b", 20.0)), viaSql1.toString)
    assert(viaSql1 == rows(tbl.read.select("id", "name", "bal").orderBy("id")))
    // compaction persists per-field provenance; an OUT-OF-ORDER arrival
    // (ver=2 for both fields) must then lose bal to ver=3 but win name over
    // ver=1 — the fseq structs are what make this resolve correctly
    tbl.compact(1)
    tbl.appendBatch(Seq((1L, 2L, "late", -1.0)).toDF("id", "ver", "name", "bal"), 2L)
    val viaSql2 = rows(spark.sql(s"SELECT id, name, bal FROM $cat.db.pun ORDER BY id"))
    assert(viaSql2 == Seq((1L, "late", 99.0), (2L, "b", 20.0)), viaSql2.toString)
    assert(viaSql2 == rows(tbl.read.select("id", "name", "bal").orderBy("id")))

    // the CDC stream serves partial-update too (write-time producer):
    import org.apache.spark.sql.streaming.Trigger
    val clTbl = gc.createTable("db", "puncl",
      Map("primary-key" -> "id", "merge-engine" -> "partial-update",
        "sequence.field" -> "ver", "changelog-producer" -> "input"))
    val root = s"${gc.warehouse}/db.db/puncl"
    val chk = java.nio.file.Files.createTempDirectory("v2_pun_chk_").toString
    def drain(): Seq[(Long, String, String)] = {
      val buf = java.util.Collections.synchronizedList(
        new java.util.ArrayList[org.apache.spark.sql.Row]())
      val q = spark.readStream.format("graft").option("read-changelog", "true")
        .load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.addAll(java.util.Arrays.asList(
            df.select("id", "name", "op").collect(): _*)); ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq.map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2))).sorted
    }
    clTbl.appendBatch(Seq((1L, 1L, "a", 1.0)).toDF("id", "ver", "name", "bal"), 0L)
    assert(drain() == Seq((1L, "a", "+I")))
    // a partial write (bal only): the changelog's +U image keeps name='a'
    clTbl.appendBatch(Seq((1L, 2L, null, 7.0)).toDF("id", "ver", "name", "bal")
      .select(col("id"), col("ver"), col("name").cast("string"), col("bal")), 1L)
    assert(drain() == Seq((1L, "a", "-U"), (1L, "a", "+U")).sorted)
  }

  test("streaming source file-skips on the pushed predicate per micro-batch") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("v2_sskip_").toString
    val tbl = new StreamTable(root, spark)
    // 4 single-valued slices (one commit each) — a filtered stream should
    // deliver ONLY the matching slice's files, catch-up and increments alike
    Seq("s0", "s1", "s2", "s3").zipWithIndex.foreach { case (t, b) =>
      tbl.appendBatch(spark.range(0, 100)
        .selectExpr("id", s"'$t' AS seg").repartition(1), b.toLong)
    }
    val stream = new graft.sources.v2.GraftMicroBatchStream(tbl,
      StructType(Seq(StructField("id", LongType), StructField("seg", StringType))),
      pushed = Array(org.apache.spark.sql.sources.EqualTo("seg", "s1")))
    val end = tbl.latestSnapshotId.get
    // initial catch-up: 4 live files → 1 delivered
    val catchUp = stream.planInputPartitions(
      graft.sources.v2.GraftOffset(-1L), graft.sources.v2.GraftOffset(end))
    assert(catchUp.length == 1,
      s"catch-up must skip non-matching files: got ${catchUp.length} of 4")
    // incremental: two new commits, one matching → 1 delivered
    tbl.appendBatch(spark.range(100, 120)
      .selectExpr("id", "'s1' AS seg").repartition(1), 4L)
    tbl.appendBatch(spark.range(100, 120)
      .selectExpr("id", "'s2' AS seg").repartition(1), 5L)
    val inc = stream.planInputPartitions(
      graft.sources.v2.GraftOffset(end),
      graft.sources.v2.GraftOffset(tbl.latestSnapshotId.get))
    assert(inc.length == 1,
      s"increments must skip non-matching commits: got ${inc.length} of 2")
    // end to end: the drained filtered stream equals the batch answer
    import org.apache.spark.sql.streaming.Trigger
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val q = spark.readStream.format("graft").load(root)
      .where(org.apache.spark.sql.functions.col("seg") === "s1")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id").collect()
          .foreach(r => buf.add(java.lang.Long.valueOf(r.getLong(0)))); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("v2_sskip_chk_").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(buf.asScala.toSeq.map(_.longValue()).sorted ==
      ((0L until 100L) ++ (100L until 120L)).sorted,
      s"filtered stream must deliver exactly the s1 rows, got ${buf.size}")
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("$partitions: manifest-only census, net of deletion vectors, refusal on mixed files") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.pc (id BIGINT, seg STRING, x DOUBLE) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO $cat.db.pc SELECT id, " +
      "CASE WHEN id % 4 = 3 THEN NULL ELSE concat('s', id % 4) END, " +
      "CAST(id AS DOUBLE) FROM range(0, 400)")
    val reads0 = StreamTable.planFooterReads.get()
    val rows = spark.sql(s"SELECT partition, file_count, record_count, " +
      s"physical_record_count, delete_row_count, file_size_in_bytes " +
      s"FROM $cat.db.`pc$$partitions` ORDER BY partition").collect()
    assert(StreamTable.planFooterReads.get() == reads0,
      "$partitions must fold from the manifest alone (zero footer opens)")
    assert(rows.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("{__GRAFT_NULL__}", 100L), ("{s0}", 100L), ("{s1}", 100L),
        ("{s2}", 100L)),
      rows.mkString(", "))
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(5) > 0))
    // a small DELETE routes to a deletion vector: the census nets it while
    // physical rows and the dv count stay visible
    spark.sql(s"DELETE FROM $cat.db.pc WHERE id IN (4, 8, 12)") // all in s0
    val after = spark.sql(s"SELECT partition, record_count, " +
      s"physical_record_count, delete_row_count FROM $cat.db.`pc$$partitions` " +
      s"WHERE partition = '{s0}'").head()
    assert(after.getLong(1) == 97L, after.toString)
    assert(after.getLong(2) == 100L, after.toString)
    assert(after.getLong(3) == 3L, after.toString)
    // the label is INJECTIVE: the NULL partition and the literal string
    // values "null" / "__GRAFT_NULL__" all render distinctly, and a value
    // containing the tuple separator cannot collide with a two-key tuple
    assert(StreamTable.renderPartitionLabel(Seq(None)) == "{__GRAFT_NULL__}")
    assert(StreamTable.renderPartitionLabel(Seq(Some("null"))) == "{null}")
    assert(StreamTable.renderPartitionLabel(Seq(Some("__GRAFT_NULL__"))) ==
      "{\\__GRAFT_NULL__}")
    assert(StreamTable.renderPartitionLabel(Seq(Some("a, b"))) !=
      StreamTable.renderPartitionLabel(Seq(Some("a"), Some("b"))))
    // an unpartitioned table refuses the door
    spark.sql(s"CREATE TABLE $cat.db.nop (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.nop SELECT id FROM range(5)")
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.db.`nop$$partitions`").collect()
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(bad).exists(_.contains("PARTITIONED BY")), bad.toString)
  }

  test("stats skipping stays exact at float and beyond-2^53 long boundaries") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // FLOAT: the stat string is the float's shortest roundtrip ("1.1"), and
    // parsing it as a DOUBLE reconstructs a DIFFERENT number just below the
    // true float — a double-based compare would wrongly skip the file for
    // `f >= 1.1f` even though its max row matches exactly
    val froot = java.nio.file.Files.createTempDirectory("v2_fskip_").toString
    val ft = new StreamTable(froot, spark)
    ft.appendBatch(Seq(0.5f, 1.1f).toDF("f").repartition(1), 0L)
    val fHit = spark.read.format("graft").load(froot)
      .where(col("f") >= 1.1f)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(fk, _) = scanOf(fHit).description()
    assert(fk.toInt == 1, "the max row satisfies the predicate: must keep")
    assert(fHit.count() == 1L)
    // LONG: beyond 2^53 doubles collapse adjacent longs — `x > 2^53` must
    // keep a file whose max is 2^53 + 1 (double compare sees them equal)
    val lroot = java.nio.file.Files.createTempDirectory("v2_lskip_").toString
    val lt = new StreamTable(lroot, spark)
    lt.appendBatch(Seq(9007199254740993L).toDF("x").repartition(1), 0L)
    val lHit = spark.read.format("graft").load(lroot)
      .where(col("x") > 9007199254740992L)
    val Files(lk, _) = scanOf(lHit).description()
    assert(lk.toInt == 1, "2^53+1 > 2^53: must keep the file")
    assert(lHit.collect().map(_.getLong(0)).toSeq == Seq(9007199254740993L))
    // and the symmetric skips still fire (exactness, not blanket keeping)
    assert(spark.read.format("graft").load(lroot)
      .where(col("x") > 9007199254740993L).count() == 0L)
    StreamTable.deleteTree(java.nio.file.Paths.get(froot))
    StreamTable.deleteTree(java.nio.file.Paths.get(lroot))
  }

  test("type widening: metadata-only, mixed generations stay columnar, pushdown exact") {
    import org.apache.spark.sql.types._
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.w (id BIGINT, i INT, f FLOAT, d DECIMAL(5,1))")
    spark.sql(s"INSERT INTO $cat.db.w SELECT id, CAST(id AS INT), " +
      "CAST(id AS FLOAT) / 2, CAST(id AS DECIMAL(5,1)) FROM range(0, 100)")
    val filesBefore = gc.getTable("db", "w").latestSnapshot.get.files.map(_.path)
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN i TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN d TYPE DECIMAL(12,1)")
    // the widening is PURE metadata: no file was rewritten
    assert(gc.getTable("db", "w").latestSnapshot.get.files.map(_.path)
      == filesBefore, "widening must not rewrite data")
    val sch = spark.table(s"$cat.db.w").schema
    assert(sch("i").dataType == LongType && sch("f").dataType == DoubleType &&
      sch("d").dataType == DecimalType(12, 1), sch.simpleString)
    // new rows BEYOND the old domains land in the widened physical layout
    spark.sql(s"INSERT INTO $cat.db.w SELECT 1000, CAST(2147483657 AS BIGINT), " +
      "CAST(1.5 AS DOUBLE), CAST('99999999999.5' AS DECIMAL(12,1))")
    // mixed old/new generations still decode COLUMNAR (widened-layout proof)
    val df = spark.sql(s"SELECT id, i, f, d FROM $cat.db.w")
    val scan = scanOf(df)
    val fac = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(fac.supportColumnarReads),
      "widened tables must stay vectorized")
    // exact values across generations
    assert(df.count() == 101L)
    val wide = spark.sql(s"SELECT i, f, d FROM $cat.db.w WHERE i > 2147483647")
      .collect()
    assert(wide.length == 1 && wide.head.getLong(0) == 2147483657L &&
      wide.head.getDouble(1) == 1.5 &&
      wide.head.getDecimal(2).toPlainString == "99999999999.5", wide.mkString)
    // a beyond-int predicate SKIPS every old file exactly (long-exact stats
    // compare — doubles would collapse near-2^63 boundaries)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    val Files(kept, total) = scanOf(
      spark.sql(s"SELECT i FROM $cat.db.w WHERE i > 2147483647")).description()
    assert(total.toInt >= 2 && kept.toInt == 1,
      s"old-generation files must skip a beyond-int window: $kept/$total")
    // widened decimal range predicate stays exact across generations
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.w WHERE d >= 50.0")
      .head().getLong(0) == 51L) // 50..99 + the wide row
    // metadata MIN/MAX over the widened column answers from stats alone
    val mm = spark.sql(s"SELECT min(i) AS lo, max(i) AS hi FROM $cat.db.w")
    assert(!mm.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "widened min/max must stay a metadata answer")
    assert(mm.head().getLong(0) == 0L && mm.head().getLong(1) == 2147483657L)
    // narrowing and key columns refuse
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Seq.empty else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    val bad = intercept[Exception] { // narrowing: Spark's analyzer refuses
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN i TYPE INT")
    }
    assert(msgs(bad).exists(_.contains("NOT_SUPPORTED_CHANGE_COLUMN")), bad.toString)
    val badScale = intercept[Exception] { // up-castable but scale-changing:
      // the catalog's own proof refuses (unscaled compares would shift)
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN d TYPE DECIMAL(14,2)")
    }
    assert(msgs(badScale).exists(_.contains("unsafe type change")), badScale.toString)
    spark.sql(s"CREATE TABLE $cat.db.wpk (k INT, v DOUBLE) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='2')")
    val badPk = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.wpk ALTER COLUMN k TYPE BIGINT")
    }
    assert(msgs(badPk).exists(_.contains("key column")), badPk.toString)
  }

  test("partial grouped-aggregate pushdown: one mixed file costs one file, not the table") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("v2_pagg_").toString
    val tbl = new StreamTable(root, spark)
    // 4 single-valued slices (the provable layout) + ONE mixed batch
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (t, b) =>
      tbl.appendBatch(spark.range(0, 1000)
        .selectExpr(s"'$t' AS k", s"id + ${b * 10000} AS v").repartition(1), b.toLong)
    }
    tbl.appendBatch(Seq(("a", 999999L), ("e", -5L)).toDF("k", "v")
      .repartition(1), 4L) // two groups in one file: unprovable
    val df = spark.read.format("graft").load(root).groupBy("k")
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .orderBy("k")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    assert(scan.isInstanceOf[graft.sources.v2.GraftPartialAggScan],
      s"mixed layout must take the PARTIAL push, got ${scan.getClass}")
    val desc = scan.description()
    assert(desc.contains("stats-served files=4") && desc.contains("scanned files=1"),
      desc)
    // exactly 1 static partition + 1 file partition — the 4 provable files
    // contribute zero data bytes
    assert(scan.toBatch.planInputPartitions().length == 2, desc)
    // Spark's final aggregate merges the two streams exactly
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("a", 1001L, 0L, 999999L), ("b", 1000L, 10000L, 10999L),
      ("c", 1000L, 20000L, 20999L), ("d", 1000L, 30000L, 30999L),
      ("e", 1L, -5L, -5L)), got.mkString(", "))
    // a deletion vector demotes ITS file to the read set, not the push
    tbl.deleteWhere(
      org.apache.spark.sql.functions.col("v") === 10000L) // one dv'd row in slice b
    val df2 = spark.read.format("graft").load(root).groupBy("k")
      .agg(count(lit(1)).as("n")).orderBy("k")
    val scan2 = df2.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    assert(scan2.description().contains("scanned files=2"), scan2.description())
    val got2 = df2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 == Seq(("a", 1001L), ("b", 999L), ("c", 1000L), ("d", 1000L),
      ("e", 1L)), got2.mkString(", "))
    StreamTable.deleteTree(java.nio.file.Paths.get(root))
  }

  test("CALL sys.compact(order_by): sort and zorder re-cluster file skipping") {
    val (cat, gc) = freshCatalog()
    val tbl = gc.createTable("db", "zc", Map.empty)
    // 4 interleaved batches: pre-compact every file spans the whole (x, y)
    // space, so any box predicate keeps every file
    for (b <- 0 until 4)
      tbl.appendBatch(spark.range(0, 4096).selectExpr("id",
        s"CAST((id * 37 + $b) % 64 AS DOUBLE) AS x",
        s"CAST((id * 53 + $b * 7) % 64 AS DOUBLE) AS y").repartition(1), b.toLong)
    val Files = "files=(\\d+)/(\\d+)".r.unanchored
    def kept(cond: String): (Int, Int) = {
      val df = spark.sql(s"SELECT id FROM $cat.db.zc WHERE $cond")
      val Files(k, t) = scanOf(df).description()
      (k.toInt, t.toInt)
    }
    val (preX, preT) = kept("x >= 0 AND x < 8")
    assert(preX == preT, s"unsorted ingest cannot skip: $preX/$preT")
    // zorder re-cluster through the native CALL
    val res = spark.sql(s"CALL $cat.sys.compact(`table` => 'db.zc', " +
      "target_file_count => 16, order_by => 'x,y', strategy => 'zorder')")
      .head()
    assert(res.getInt(1) >= 8 && res.getInt(1) <= 16, res.toString)
    val (zx, zt) = kept("x >= 0 AND x < 8")
    val (zy, _) = kept("y >= 0 AND y < 8")
    assert(zt == res.getInt(1))
    assert(zx * 2 < zt, s"zorder must skip on x: $zx/$zt")
    assert(zy * 2 < zt, s"zorder must skip on y: $zy/$zt")
    // conservation + the recorded clustering policy
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.zc").head().getLong(0)
      == 4L * 4096L)
    val opts = gc.tableOptions("db", "zc")
    assert(opts.get("compact.order-by").contains("x,y") &&
      opts.get("compact.order-strategy").contains("zorder"), opts.toString)
    // LINEAR sort-compact: the leading column's file ranges come out
    // disjoint — an equality keeps exactly one file's worth
    spark.sql(s"CALL $cat.sys.compact(`table` => 'db.zc', " +
      "target_file_count => 8, order_by => 'x')")
    val (lx, lt) = kept("x = 13")
    assert(lt == 8 && lx <= 2, s"linear sort must skip on x: $lx/$lt")
    assert(gc.tableOptions("db", "zc").get("compact.order-strategy")
      .contains("sort"))
  }

  test("dynamic bucket table: V2 point lookup prunes under the scanned " +
      "generation's count; the V2 sink refuses") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("v2_dynb_wh_").toString
    val gc = new graft.table.GraftCatalog(spark, wh)
    val t = gc.createTable("db", "dynb", Map("primary-key" -> "k",
      "bucket" -> "-1", "dynamic-bucket.target-row-num" -> "10",
      "dynamic-bucket.initial-buckets" -> "1"))
    t.appendBatch((1L to 40L).map(k => (k, k * 10)).toDF("k", "v"), 0L)
    val n = gc.getTable("db", "dynb").currentBuckets
    assert(n > 1, s"the 10-row target must have split, got $n")
    val cat = s"graft_dynb_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val df = spark.sql(s"SELECT k, v FROM $cat.db.dynb WHERE k = 17")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((17L, 170L)))
    // the lookup planned a single bucket of the CURRENT generation — the
    // scan's merge groups collapse to one
    val desc = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.get
    assert(desc.contains("buckets=1"), desc)
    // the native V2 streaming sink cannot follow splits mid-stream: refuse
    val e = intercept[Exception] {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = MemoryStream[(Long, Long)]
      src.addData((99L, 990L))
      src.toDF().toDF("k", "v").writeStream.format("graft")
        .option("path", t.root)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("v2_dynb_chk_").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("dynamic-bucket")), e.toString)
  }

  test("streaming file-skip serves pre-ADD files of a DEFAULT column " +
      "(IS NOT NULL must not drop them — they read the default)") {
    import org.apache.spark.sql.functions.col
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.sdflt (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.sdflt VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.sdflt ADD COLUMNS (score BIGINT DEFAULT 7)")
    spark.sql(s"INSERT INTO $cat.db.sdflt VALUES (3, 'c', NULL)")
    val root = gc.getTable("db", "sdflt").root
    val out = java.nio.file.Files.createTempDirectory("sdflt_out").toString
    spark.readStream.format("graft").load(root)
      .filter(col("score").isNotNull)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sdflt_chk").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // rows 1 and 2 live in PRE-ADD files (no physical score column): the
    // stream's manifest skip must keep those files — their rows read the
    // default, which IS NOT NULL. Row 3's explicit NULL filters row-side.
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L))
  }

  test("branches freeze schema/options at create_branch: a post-branch " +
      "ALTER on main does not re-shape the branch door") {
    val (cat, gc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.brz (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.brz VALUES (1, 'a')")
    spark.sql(s"CALL $cat.sys.create_branch('db.brz', 'wip')")
    spark.sql(s"ALTER TABLE $cat.db.brz RENAME COLUMN v TO label")
    // main serves the new name; the branch still serves its FROZEN schema —
    // the same data must not read under two shapes depending on the door
    assert(spark.sql(s"SELECT label FROM $cat.db.brz")
      .collect().head.getString(0) == "a")
    assert(spark.sql(s"SELECT v FROM $cat.db.`brz$$branch_wip`")
      .collect().head.getString(0) == "a")
    intercept[Exception] {
      spark.sql(s"SELECT label FROM $cat.db.`brz$$branch_wip`").collect()
    }
  }

  test("shell-door INSERT omitting a DEFAULT column materializes the " +
      "current default like the V2 door (same statement, same bytes)") {
    import spark.implicits._
    val (cat, gc) = freshCatalog()
    val sh = new graft.table.GraftSql(spark, gc.warehouse)
    sh.sql("CREATE DATABASE IF NOT EXISTS db"); sh.sql("USE db")
    sh.sql("CREATE TABLE shdf (id BIGINT, v STRING) WITH " +
      "('bucket' = '1', 'bucket-key' = 'id')")
    spark.sql(s"ALTER TABLE $cat.db.shdf ADD COLUMNS (score BIGINT DEFAULT 7)")
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("shdf_seed")
    sh.sql("INSERT INTO shdf SELECT id, v FROM shdf_seed")
    // the stored file CARRIES the column (materialized, not absent)…
    val t = gc.getTable("db", "shdf")
    assert(t.latestSnapshot.get.files.exists(
      _.fileCols.exists(_.contains("score"))),
      "the shell INSERT must materialize the default into the file")
    // …with the default's value, in both doors
    assert(spark.sql(s"SELECT score FROM $cat.db.shdf")
      .collect().head.getLong(0) == 7L)
    assert(t.read.selectExpr("score").collect().head.getLong(0) == 7L)
  }
}

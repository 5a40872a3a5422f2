package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{GraftCatalog, GraftSql, StreamTable}

/** Table reads take their schema from [[StreamTable.fileSchema]]: Spark's
  * own parquet schema inference, done on the driver from memoized footers,
  * so building a read launches no Spark job. */
class FileSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_fschema_${tag}_").toString

  /** The driver-side schema equals Spark's `mergeSchema` inference — field
    * order, types and nullability — over every snapshot's live files and
    * over each head file alone. */
  private def assertParity(t: StreamTable): Unit = {
    val sets = t.snapshotHeaders.flatMap(h => t.snapshotAt(h.id))
      .map(_.files).filter(_.nonEmpty)
    assert(sets.nonEmpty)
    for (files <- sets ++ sets.last.map(Seq(_))) {
      val inferred = spark.read.option("mergeSchema", "true")
        .parquet(files.map(_.path): _*).schema
      assert(StreamTable.fileSchema(spark, files) == inferred,
        s"${t.root}: ${files.map(_.path)}")
    }
  }

  test("fileSchema equals Spark's mergeSchema inference") {
    // delete tombstones: key + sequence + marker only
    val pk = new StreamTable(tmp("pk"), spark, primaryKey = Some(Seq("id")),
      seqCol = Some("ts"), bucketKey = Some("id"), numBuckets = 2)
    pk.appendBatch(Seq((1L, 10L, "a", 1.5), (2L, 11L, "b", 2.5))
      .toDF("id", "ts", "v", "x"), 0)
    pk.deleteBatch(Seq((2L, 12L)).toDF("id", "ts"), 1)
    pk.deleteBatch(Seq((1L, 13L)).toDF("id", "ts"), 2)
    assertParity(pk)
    assert(pk.latestSnapshot.get.files.exists(_.fileCols.exists(!_.contains("v"))),
      "expected a tombstone-only file")

    // ADD / DROP / RENAME COLUMN through the shell: files of three layouts
    val sh = new GraftSql(spark, tmp("sql"))
    sh.sql("CREATE TABLE ev (id BIGINT, v STRING, note STRING) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO ev SELECT 1, 'a', 'n1'")
    sh.sql("ALTER TABLE ev ADD COLUMN score DOUBLE")
    sh.sql("INSERT INTO ev SELECT 2, 'b', 'n2', 0.5")
    sh.sql("ALTER TABLE ev DROP COLUMN note")
    sh.sql("ALTER TABLE ev RENAME COLUMN v TO label")
    sh.sql("INSERT INTO ev SELECT 3, 'c', 1.5")
    assertParity(sh.catalog.getTable("default", "ev"))

    // deletion-vector files next to plain ones
    val dv = new StreamTable(tmp("dv"), spark)
    dv.appendBatch(spark.range(0, 50).select($"id", ($"id" * 2).as("v")), 0)
    dv.appendBatch(spark.range(50, 80).select($"id", ($"id" * 2).as("v"),
      lit("x").as("tag")), 1)
    assert(dv.deleteWhere($"id" === 7L) == 1L)
    assert(dv.latestSnapshot.get.files.exists(_.dvCount.exists(_ > 0)))
    assertParity(dv)

    // aggregation and partial-update companion (per-field provenance) columns
    val agg = new StreamTable(tmp("agg"), spark, primaryKey = Some(Seq("k")),
      seqCol = Some("ts"),
      aggSpec = Some(Seq("total" -> "sum", "status" -> "last_non_null_value")))
    agg.appendBatch(Seq((1L, 1L, 10L, "on"), (2L, 2L, 5L, "off"))
      .toDF("k", "ts", "total", "status"), 0)
    agg.appendBatch(Seq((1L, 3L, 7L, null: String)).toDF("k", "ts", "total", "status"), 1)
    agg.compact(1)
    assertParity(agg)
    val pu = new StreamTable(tmp("pu"), spark, primaryKey = Some(Seq("k")),
      mergeEngine = "partial-update")
    pu.appendBatch(Seq((1L, "a", null: String)).toDF("k", "x", "y"), 0)
    pu.appendBatch(Seq((1L, null: String, "b")).toDF("k", "x", "y"), 1)
    assertParity(pu)

    // a partitioned table: partition columns live in the files' payload
    val part = new StreamTable(tmp("part"), spark, partitionKeys = Some(Seq("dt")))
    part.appendBatch(Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "dt"), 0)
    part.appendBatch(Seq((3L, "2024-01-02", 9.0)).toDF("id", "dt", "w"), 1)
    assertParity(part)
  }

  /** Jobs started while `build` runs. The listener bus is asynchronous, so
    * a marked job submitted afterwards flushes it: every job started during
    * `build` is delivered before the marker's start. */
  private def jobsDuring(build: => Unit): Seq[Int] = {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      spark.sparkContext.setJobDescription("file-schema-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 == "file-schema-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      val all = seen.asScala.toSeq
      assert(all.exists(_._2 == "file-schema-marker"), "listener bus never drained")
      all.takeWhile(_._2 != "file-schema-marker").map(_._1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("building a read launches no Spark job, through every door") {
    // the streaming sink's files are unseen by the memo (their stats come
    // from writer tasks), so the first read opens their footers on the
    // driver and the second does not
    val wh = tmp("wh")
    val cat = s"graft_fschema_${Integer.toHexString(wh.hashCode).take(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.v2.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.d.s (id BIGINT, name STRING, lat DOUBLE, " +
      "updated_at BIGINT) TBLPROPERTIES ('primary-key'='id', 'bucket'='2', " +
      "'sequence.field'='updated_at')")
    spark.sql(s"INSERT INTO $cat.d.s SELECT id, concat('s', id), id * 0.5, 1 " +
      "FROM range(0, 40)")
    val root = s"$wh/d.db/s"
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = MemoryStream[(Long, String, Double, Long)]
      src.addData((30L until 50L).map(i => (i, s"u$i", i * 1.5, 2L)))
      src.toDF().toDF("id", "name", "lat", "updated_at").writeStream.format("graft")
        .option("path", root).option("checkpointLocation", tmp("chk"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    val t = GraftCatalog.openPath(spark, root)
    val head = t.latestSnapshot.get.id
    val unseen = StreamTable.schemaFooterReads.get
    val jobs = jobsDuring {
      t.read.queryExecution.executedPlan
      t.readAt(head - 1).queryExecution.executedPlan
      t.changesBetween(head - 1, head).queryExecution.executedPlan
      spark.read.format("graft").load(root).queryExecution.executedPlan
    }
    assert(jobs.isEmpty, s"jobs launched while planning: $jobs")
    val footers = StreamTable.schemaFooterReads.get
    assert(footers > unseen, "the V2-written files were expected unseen")
    t.read.queryExecution.executedPlan
    spark.read.format("graft").load(root).queryExecution.executedPlan
    assert(StreamTable.schemaFooterReads.get == footers,
      "a second read of the same snapshot re-opened footers")

    val sh = new GraftSql(spark, tmp("sqljobs"))
    sh.sql("CREATE TABLE si (id BIGINT, name STRING, updated_at BIGINT, " +
      "PRIMARY KEY (id) NOT ENFORCED) WITH ('bucket' = '2', " +
      "'sequence.field' = 'updated_at')")
    sh.sql("INSERT INTO si SELECT id, concat('s', id), 1 FROM range(0, 20)")
    sh.sql("DELETE FROM si WHERE id < 5")
    sh.sql("CREATE TABLE totals (k BIGINT, n BIGINT) WITH ('bucket' = '1')")
    sh.sql("INSERT INTO totals SELECT 1, 2")
    val sqlJobs = jobsDuring {
      sh.sql("SELECT name, count(*) FROM si GROUP BY name").queryExecution.executedPlan
    }
    assert(sqlJobs.isEmpty, s"jobs launched while planning a SELECT: $sqlJobs")
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.streaming.{LookupRetry, RoutedWrite}
import graft.table.StreamTable
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Retry-on-miss lookup join (the reference's LOOKUP hint semantics,
  * guide.md:122-138): rows whose dimension key is missing are retried on
  * later micro-batches against the CURRENT dim, and matched out of order. */
class LookupRetrySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import LookupRetrySpec._

  /** The three outputs' layout: the stream's columns then the dim's (data),
    * the stream's columns plus the attempt count (pending), the stream's
    * columns (dead letters), as Spark reads them back. */
  private val dataSchema = StructType(Seq(StructField("k", LongType),
    StructField("payload", StringType), StructField("name", StringType)))
  private val pendingSchema = StructType(Seq(StructField("k", LongType),
    StructField("payload", StringType), StructField("__attempts", IntegerType)))
  private val deadSchema = StructType(Seq(StructField("k", LongType),
    StructField("payload", StringType)))

  /** Per job started while `body` runs: its SQL execution id and the bytes
    * its tasks wrote. A marker job drains the listener bus afterwards. */
  private def jobsDuring(body: => Unit): Seq[(String, Long)] = {
    val jobs = new ConcurrentLinkedQueue[(Seq[Int], String, String)]()
    val written = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
        jobs.add((e.stageIds, prop("spark.sql.execution.id"), prop("spark.job.description")))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.add((e.stageId, e.taskMetrics.outputMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("lookup-retry-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._3 == "lookup-retry-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      val all = jobs.asScala.toSeq
      assert(all.exists(_._3 == "lookup-retry-marker"), "listener bus never drained")
      val bytes = written.asScala.toSeq
      all.takeWhile(_._3 != "lookup-retry-marker").map { case (stages, exec, _) =>
        (exec, bytes.filter(b => stages.contains(b._1)).map(_._2).sum)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The physical plan text of every SQL execution started while `body`
    * runs. Both listeners sit on the shared listener queue, so once
    * `jobsDuring`'s marker job is seen every earlier event has reached this
    * one too. */
  private def plansDuring(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkFixture.jobsDuring(body)
      plans.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The repetition of a column in the footer of a directory's one parquet file. */
  private def repetition(dir: String, column: String) = {
    val Seq(file) = parquetFiles(dir)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$file"), spark.sessionState.newHadoopConf()))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex(column)).getRepetition
    } finally r.close()
  }

  private def parquetFiles(dir: String): Seq[String] =
    StreamTable.listDir(Paths.get(dir)).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).sorted

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).toSeq.sorted

  test("missed lookups retry against the updated dim; exhausted rows dead-letter") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr_src_").toString
    val outDir = Files.createTempDirectory("graft_lr_out_").toString

    // the dim is re-read per batch — a mutable reference simulates a PK
    // table receiving upserts between checkpoints
    @volatile var dimRows = Seq((1L, "one"))
    def dim(): DataFrame = dimRows.toDF("k", "name")

    val schema = Seq((0L, "")).toDF("k", "payload").schema
    def runOnce(): Unit = {
      val q = LookupRetry.start(spark,
        spark.readStream.schema(schema).parquet(srcDir),
        dim _, "k", outDir, maxAttempts = 3, Trigger.AvailableNow())
      q.awaitTermination()
    }

    // batch 1: keys 1 (hit) and 2 (miss → parked)
    Seq((1L, "p1"), (2L, "p2")).toDF("k", "payload")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val afterB1 = spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/data")
    assert(afterB1.count() == 1 && afterB1.select("k").first().getLong(0) == 1L)

    // dim gains key 2; batch 2 brings key 3 — the parked row 2 now matches
    dimRows = Seq((1L, "one"), (2L, "two"), (3L, "three"))
    Seq((3L, "p3")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    runOnce()
    val afterB2 = spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/data")
    assert(afterB2.select("k").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // a key that never resolves exhausts its attempts into the dead letter
    Seq((99L, "p99")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    runOnce() // attempt 1
    for (_ <- 1 to 3) {
      // empty batches still fire with AvailableNow? no — push a hit row to
      // drive another batch each time
      Seq((1L, "tick")).toDF("k", "payload").write.mode("append").parquet(srcDir)
      runOnce()
    }
    assert(spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/dead").select("k").first().getLong(0) == 99L)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/data").filter($"k" === 99L).count() == 0)
  }

  test("a fresh checkpoint clears stale pending files from a previous run") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr2_src_").toString
    val outDir = Files.createTempDirectory("graft_lr2_out_").toString

    // a previous run (whose checkpoint was deleted) left parked rows behind;
    // without the fresh-start sweep, batch ids restarting at 0 would first
    // skip pending-5 and then batch 6 would consume it as this run's state
    Seq((77L, "stale", 1)).toDF("k", "payload", "__attempts")
      .write.parquet(s"$outDir/retry/pending-5")

    def dim(): org.apache.spark.sql.DataFrame = Seq((1L, "one")).toDF("k", "name")
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    Seq((1L, "p1")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    val q = LookupRetry.start(spark,
      spark.readStream.schema(schema).parquet(srcDir),
      dim _, "k", outDir, maxAttempts = 3, Trigger.AvailableNow())
    q.awaitTermination()

    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/retry/pending-5")),
      "stale pending state from the dead run is gone")
    val data = spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/data")
    assert(data.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "only this run's rows are in the output")
  }

  test("one job routes a batch's hits, parked misses and dead letters, with no cache") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr3_src_").toString
    val outDir = Files.createTempDirectory("graft_lr3_out_").toString
    def dim(): DataFrame = Seq((1L, "one")).toDF("k", "name")
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    def runOnce(): Unit = LookupRetry.start(spark,
      spark.readStream.schema(schema).parquet(srcDir),
      dim _, "k", outDir, maxAttempts = 2, Trigger.AvailableNow()).awaitTermination()

    // batch 0: key 1 hits, key 2 parks (attempt 1)
    Seq((1L, "a"), (2L, "b")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 1: key 1 hits, key 3 parks, the parked key 2 misses again and
    // reaches the cap
    Seq((1L, "c"), (3L, "d")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    val jobs = jobsDuring(runOnce())
    assert(jobs.count(_._2 > 0) == 1,
      s"one job writes the batch's outputs; (execution id, bytes written) per job: $jobs")
    assert(jobs.map(_._1).distinct.size == 1,
      s"the batch runs as one SQL execution; (execution id, bytes written) per job: $jobs")
    assert(spark.sharedState.cacheManager.isEmpty, "the batch caches nothing")

    val data = spark.read.parquet(s"$outDir/data/batch-1")
    assert(data.schema == dataSchema)
    assert(data.as[(Long, String, String)].collect().toSeq == Seq((1L, "c", "one")))
    val pending = spark.read.parquet(s"$outDir/retry/pending-1")
    assert(pending.schema == pendingSchema)
    assert(pending.as[(Long, String, Int)].collect().toSeq == Seq((3L, "d", 1)))
    val dead = spark.read.parquet(s"$outDir/dead/batch-1")
    assert(dead.schema == deadSchema)
    assert(dead.as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // batch 0 had no dead letter: its directory holds a schema-only file
    val dead0 = spark.read.parquet(s"$outDir/dead/batch-0")
    assert(dead0.schema == deadSchema && dead0.count() == 0L)
    assert(parquetFiles(s"$outDir/dead/batch-0").size == 1)
    assert(!StreamTable.listDir(Paths.get(outDir))
      .exists(_.getFileName.toString.startsWith("_routed-")), "no staging dir is left")
  }

  test("a batch with no rows, and an input with no partitions, leave " +
      "readable schema-only files without a Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lr4_tbl_").toString
    val outDir = Files.createTempDirectory("graft_lr4_out_").toString
    val t = new StreamTable(root, spark)
    t.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"), 0L)
    t.appendBatch(Seq((3L, "c")).toDF("k", "payload"), 1L)
    def dim(): DataFrame = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "name")
    def runOnce(): Unit = LookupRetry.start(spark,
      spark.readStream.format("graft").load(root),
      dim _, "k", outDir, maxAttempts = 2, Trigger.AvailableNow()).awaitTermination()
    runOnce()
    // a compaction commit adds no rows, yet the source fires a batch for it;
    // with nothing parked either, the batch reads no dimension and runs no job
    t.compact(1)
    val jobs = jobsDuring(runOnce())
    assert(jobs.isEmpty, s"(execution id, bytes written) per job: $jobs")
    val batches = StreamTable.listDir(Paths.get(s"$outDir/data"))
      .map(_.getFileName.toString.stripPrefix("batch-").toLong).sorted
    assert(batches.size == 2, s"the compaction commit ran as a batch: $batches")
    assert(keys(spark.read.parquet(s"$outDir/data/batch-${batches.head}")) == Seq(1L, 2L, 3L))
    val id = batches.last
    def assertSchemaOnly(dir: String, schema: StructType): Unit = {
      val out = spark.read.parquet(dir)
      assert(out.schema == schema, dir)
      assert(out.count() == 0L, dir)
      assert(parquetFiles(dir).size == 1, dir)
    }
    for ((dir, schema) <- Seq(s"data/batch-$id" -> dataSchema,
        s"retry/pending-$id" -> pendingSchema, s"dead/batch-$id" -> deadSchema))
      assertSchemaOnly(s"$outDir/$dir", schema)

    // the kernel itself over an input with no partitions at all
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      pendingSchema)
    assert(empty.rdd.getNumPartitions == 0)
    val kernelDir = Files.createTempDirectory("graft_lr4_kernel_").toString
    val kernelJobs = jobsDuring(RoutedWrite.write(empty, Seq(
      RoutedWrite.Dest(s"$kernelDir/a", col("__attempts") < 2, pendingSchema.fieldNames.toSeq),
      RoutedWrite.Dest(s"$kernelDir/b", col("__attempts") >= 2, Seq("k", "payload"))),
      kernelDir))
    assert(kernelJobs.isEmpty, s"(execution id, bytes written) per job: $kernelJobs")
    assertSchemaOnly(s"$kernelDir/a", pendingSchema)
    assertSchemaOnly(s"$kernelDir/b", deadSchema)
  }

  test("a batch after a pending file with no rows plans no pending scan, " +
      "and the pending footers keep their `__attempts` repetition") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr7_src_").toString
    val outDir = Files.createTempDirectory("graft_lr7_out_").toString
    def dim(): DataFrame = Seq((1L, "one")).toDF("k", "name")
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    def runOnce(): Unit = LookupRetry.start(spark,
      spark.readStream.schema(schema).parquet(srcDir),
      dim _, "k", outDir, maxAttempts = 1, Trigger.AvailableNow()).awaitTermination()
    // batch 0: with one attempt a miss dead-letters at once, so nothing parks
    Seq((1L, "a"), (2L, "b")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(s"$outDir/retry/pending-0").count() == 0L)
    Seq((1L, "c"), (3L, "d")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    val plans = plansDuring(runOnce())
    assert(plans.nonEmpty, "no SQL execution seen")
    assert(!plans.exists(_.contains("retry/pending-")),
      s"batch 1 scanned the empty pending file: ${plans.mkString("\n---\n")}")
    assert(spark.read.parquet(s"$outDir/data/batch-1").as[(Long, String, String)]
      .collect().toSeq == Seq((1L, "c", "one")))
    assert(spark.read.parquet(s"$outDir/dead/batch-1").as[(Long, String)]
      .collect().toSeq == Seq((3L, "d")))
    val pending1 = spark.read.parquet(s"$outDir/retry/pending-1")
    assert(pending1.schema == pendingSchema && pending1.count() == 0L)
    // a first batch writes the fresh attempt count REQUIRED; every later
    // batch writes it OPTIONAL, whether or not it scanned its predecessor
    assert(repetition(s"$outDir/retry/pending-0", "__attempts") == Repetition.REQUIRED)
    assert(repetition(s"$outDir/retry/pending-1", "__attempts") == Repetition.OPTIONAL)
  }

  test("a replayed batch leaves one copy of its outputs") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr5_src_").toString
    val outDir = Files.createTempDirectory("graft_lr5_out_").toString
    def dim(): DataFrame = Seq((1L, "one")).toDF("k", "name")
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    def runOnce(): Unit = LookupRetry.start(spark,
      spark.readStream.schema(schema).parquet(srcDir),
      dim _, "k", outDir, maxAttempts = 2, Trigger.AvailableNow()).awaitTermination()
    Seq((1L, "a"), (2L, "b"), (4L, "e")).toDF("k", "payload")
      .repartition(3).write.mode("append").parquet(srcDir)
    runOnce()
    val dirs = Seq("data/batch-0", "retry/pending-0", "dead/batch-0").map(d => s"$outDir/$d")
    val first = dirs.map(parquetFiles)
    // a crash before the checkpoint commit: the next start replays batch 0
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$outDir/chk/commits/$f")))
    runOnce()
    val second = dirs.map(parquetFiles)
    assert(second.map(_.size) == first.map(_.size))
    assert(first.zip(second).forall { case (a, b) => a.toSet.intersect(b.toSet).isEmpty },
      "the replay replaced every output")
    assert(keys(spark.read.option("recursiveFileLookup", "true").parquet(s"$outDir/data")) == Seq(1L))
    assert(keys(spark.read.parquet(s"$outDir/retry/pending-0")) == Seq(2L, 4L))
    assert(spark.read.parquet(s"$outDir/dead/batch-0").count() == 0L)
  }

  test("a routed job whose task fails replaces no output and leaves no staging dir") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_lr6_src_").toString
    val outDir = Files.createTempDirectory("graft_lr6_out_").toString
    def dim(): DataFrame = Seq((1L, "one")).toDF("k", "name")
    val schema = Seq((0L, "")).toDF("k", "payload").schema
    val boom = udf { (k: Long) =>
      if (k == failOn.get) throw new IllegalStateException(s"boom on key $k")
      k
    }
    def runOnce(): Unit = LookupRetry.start(spark,
      spark.readStream.schema(schema).parquet(srcDir).withColumn("k", boom(col("k"))),
      dim _, "k", outDir, maxAttempts = 2, Trigger.AvailableNow()).awaitTermination()
    Seq((1L, "a"), (13L, "m")).toDF("k", "payload").write.mode("append").parquet(srcDir)
    failOn.set(-1L)
    runOnce()
    val dirs = Seq("data/batch-0", "retry/pending-0", "dead/batch-0").map(d => s"$outDir/$d")
    val before = dirs.map(parquetFiles)
    // the replay of batch 0 fails in a task
    Seq("0", ".0.crc").foreach(f => Files.deleteIfExists(Paths.get(s"$outDir/chk/commits/$f")))
    failOn.set(13L)
    val e = intercept[Exception](runOnce())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom on key 13")), e)
    assert(dirs.map(parquetFiles) == before, "a failed job replaces no destination")
    assert(!StreamTable.listDir(Paths.get(outDir))
      .exists(_.getFileName.toString.startsWith("_routed-")), "no staging dir is left")
    // the next successful run of the batch writes normally
    failOn.set(-1L)
    runOnce()
    val after = dirs.map(parquetFiles)
    assert(after.map(_.size) == before.map(_.size) && after != before)
    assert(keys(spark.read.parquet(s"$outDir/data/batch-0")) == Seq(1L))
    assert(keys(spark.read.parquet(s"$outDir/retry/pending-0")) == Seq(13L))
    assert(spark.read.parquet(s"$outDir/dead/batch-0").count() == 0L)
  }

  test("a failed routed write returns after its job's last task and leaves no staging dir") {
    val outDir = Files.createTempDirectory("graft_lr7_out_").toString
    sleeperIn.set(new CountDownLatch(1))
    // partition 0 fails once partition 1 is inside its row; partition 1
    // then computes past the failure (a busy loop, which the kill's
    // interrupt does not stop) and emits that row, so it opens its writer
    // after the job has failed
    val slow = udf { (k: Long) =>
      if (k == 0L) {
        sleeperIn.get.await(30, TimeUnit.SECONDS)
        throw new IllegalStateException("boom on partition 0")
      }
      sleeperIn.get.countDown()
      val until = System.nanoTime() + 1500L * 1000 * 1000
      while (System.nanoTime() < until) {}
      k
    }
    val frame = spark.range(0, 2, 1, 2).select(slow(col("id")).as("k"))
    val ended = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[Exception](RoutedWrite.write(frame,
        Seq(RoutedWrite.Dest(s"$outDir/out", lit(true), Seq("k"))), outDir))
      assert(String.valueOf(e.getMessage).contains("boom on partition 0"), e)
      val deadline = System.currentTimeMillis() + 30000
      while (ended.get < 2 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(ended.get == 2, "both tasks ended")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!StreamTable.listDir(Paths.get(outDir))
      .exists(_.getFileName.toString.startsWith("_routed-")), "no staging dir is left")
    assert(!Files.exists(Paths.get(s"$outDir/out")), "a failed job writes no destination")
  }
}

object LookupRetrySpec {
  /** The key a test's UDF throws on; -1 for none. */
  val failOn = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Opened by the routed-write test's slow partition once it holds its row. */
  val sleeperIn = new AtomicReference(new CountDownLatch(0))
}

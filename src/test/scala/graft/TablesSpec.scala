package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.table.StreamTable

/** Fixture loads ([[Tables]]) and the streaming family's staged backlogs
  * take their schema from parquet footers on the driver, through
  * [[StreamTable.pathSchema]], so constructing a query over them launches
  * no Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import SparkFixture.{jobsDuring, sf}

  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_tables_${tag}_").toString

  /** Run `body` with `nanosAsLong` set to `on`, then restore the session's value. */
  private def withNanosAsLong[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  test("a fixture load's schema is Spark's inferred one, field metadata " +
      "included, under either nanosAsLong") {
    for (on <- Seq(false, true); name <- fixtures) withNanosAsLong(on) {
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      val loaded = Tables.t(spark, sf, name).schema
      // StructField equality covers name, type, nullability and metadata
      assert(loaded == inferred, s"$name, nanosAsLong=$on")
      assert(loaded.json == inferred.json, s"$name, nanosAsLong=$on")
    }
  }

  test("a second construction of every loader and of the query_suite " +
      "queries launches no Spark job") {
    val loaders: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.documents, Tables.embeddings, Tables.events)
    val queries = Seq("q_tpch_q6_shape", "q_join_left_anti", "q_agg_global",
      "q_agg_minmax_by", "q_win_topk_per_group", "q_fn_array", "q_fn_string",
      "q_ext_fingerprint", "q_ext_histogram", "q_ext_exact_dedup")
      .map(SparkEntry.queries)
    loaders.foreach(_(spark, sf))
    queries.foreach(_(spark, sf))
    val footers = StreamTable.schemaFooterReads.get
    val loadJobs = jobsDuring(loaders.foreach(_(spark, sf)))
    assert(loadJobs.isEmpty, s"jobs launched by fixture loads: $loadJobs")
    val queryJobs = jobsDuring(queries.foreach(_(spark, sf)))
    assert(queryJobs.isEmpty, s"jobs launched constructing the queries: $queryJobs")
    assert(StreamTable.schemaFooterReads.get == footers,
      "a second load of the same fixtures re-opened footers")
  }

  test("a fixture rewritten in place loads with its new schema") {
    import spark.implicits._
    val dir = tmp("stale")
    // one single-file parquet per layout: the same values under another
    // column name, so both files have the same length
    def single(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val out = tmp("single")
      df.coalesce(1).write.mode("overwrite").parquet(out)
      StreamTable.listDir(Paths.get(out))
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val a = single(Seq(1L, 2L, 3L).toDF("a"))
    val b = single(Seq(1L, 2L, 3L).toDF("b"))
    assert(Files.size(a) == Files.size(b), "the rewrite was meant to keep the length")
    val fixture = Paths.get(dir, "t.parquet")
    Files.copy(a, fixture)
    assert(Tables.t(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    Files.copy(b, fixture, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(fixture, FileTime.fromMillis(
      Files.getLastModifiedTime(fixture).toMillis + 5000L))
    val reloaded = Tables.t(spark, dir, "t")
    assert(reloaded.schema.fieldNames.toSeq == Seq("b"))
    assert(reloaded.as[Long].collect().toSeq.sorted == Seq(1L, 2L, 3L))
  }

  test("a directory fixture loads as Spark reads the directory") {
    import spark.implicits._
    val dir = tmp("dir")
    val path = s"$dir/d.parquet"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").repartition(2)
      .write.parquet(path)
    Seq((3L, "z", 0.5)).toDF("id", "v", "w").write.mode("append").parquet(path)
    val expected = spark.read.parquet(path)
    val loaded = Tables.t(spark, dir, "d")
    assert(loaded.schema == expected.schema)
    assert(loaded.orderBy("id").collect().toSeq == expected.orderBy("id").collect().toSeq)
  }

  test("a staged backlog directory's schema is Spark's inferred one, with no job") {
    val dirs = Seq(StreamOps.embMultiDir(spark, sf),
      StreamOps.eventsMultiDir(spark, sf), StreamOps.partialUpdDir(spark, sf))
    for (dir <- dirs) {
      var staged: org.apache.spark.sql.types.StructType = null
      val jobs = jobsDuring { staged = StreamOps.stagedSchema(spark, dir) }
      assert(jobs.isEmpty, s"$dir: $jobs")
      assert(staged == spark.read.parquet(dir).schema, dir)
    }
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (UTC, small shuffle width). */
object SparkFixture {
  lazy val spark: SparkSession = {
    // keep metastore/warehouse artifacts out of the repo working dir
    val scratch = java.nio.file.Files.createTempDirectory("graft_wh_root_").toString
    System.setProperty("derby.system.home", scratch)
    val s = SparkSession.builder()
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Ids of the jobs started while `build` runs. The listener bus is
    * asynchronous, so a marked job submitted afterwards flushes it: every
    * job started during `build` is delivered before the marker's start. */
  def jobsDuring(build: => Unit): Seq[Int] = {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      spark.sparkContext.setJobDescription("jobs-during-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 == "jobs-during-marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      val all = seen.asScala.toSeq
      assert(all.exists(_._2 == "jobs-during-marker"), "listener bus never drained")
      all.takeWhile(_._2 != "jobs-during-marker").map(_._1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

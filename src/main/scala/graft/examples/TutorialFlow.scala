package graft.examples

import graft.table.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end replay of the reference tutorial
  * (/root/reference/tutorial/guide.md) on the Spark-native engine:
  *
  *  1. create a catalog + tables with Paimon-style options (guide.md:11-31)
  *  2. continuously ingest a rate stream into `measurements` (guide.md:36-39)
  *  3. ingest the bounded `sensor_info` dimension as a PK table (guide.md:78-95)
  *  4. lookup-join enrichment stream (guide.md:119-140)
  *  5. inspect `$files` (guide.md:200-232)
  *  6. compact + retention (guide.md:172-184, :236-242)
  *
  * Run: sbt "runMain graft.examples.TutorialFlow"
  */
object TutorialFlow {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tutorial")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val wh = java.nio.file.Files.createTempDirectory("graft_tutorial_wh_").toString
    println(s"warehouse: $wh")
    val cat = new GraftCatalog(spark, wh)

    // 1. CREATE TABLE measurements WITH ('bucket'='1','bucket-key'='sensor_id')
    val measurements = cat.createTable("default", "measurements", Map(
      "bucket" -> "1", "bucket-key" -> "sensor_id", "file.format" -> "parquet"))
    // sensor_info: PRIMARY KEY (sensor_id), changelog-producer=input
    val sensorInfo = cat.createTable("default", "sensor_info", Map(
      "primary-key" -> "sensor_id", "sequence.field" -> "updated_at",
      "changelog-producer" -> "input"))

    // 2. unbounded-style datagen → measurements (bounded here: 5 micro-batches
    //    of the rate-source analog; production would use Trigger.ProcessingTime("20 seconds"))
    for (b <- 0 until 5) {
      val batch = spark.range(b * 1000, (b + 1) * 1000)
        .select(pmod(col("id") * 37, lit(1000)).as("sensor_id"),
          round(rand(42 + b) * 45, 1).cast("decimal(5,1)").as("reading"),
          current_timestamp().as("event_time"))
      measurements.appendBatch(batch, b)
    }
    println(s"measurements count = ${measurements.read.count()} (expect 5000)")

    // 3. bounded sensor_info ingest: sequence 1..1000 + one update wave
    sensorInfo.appendBatch(spark.range(1, 1001).select(
      col("id").as("sensor_id"),
      (rand(1) * 180 - 90).as("latitude"),
      (rand(2) * 360 - 180).as("longitude"),
      (rand(3) * 4).cast("int").as("generation"),
      lit(1000L).as("updated_at")), 0)
    sensorInfo.appendBatch(spark.range(1, 101).select(
      col("id").as("sensor_id"), lit(0.0).as("latitude"), lit(0.0).as("longitude"),
      lit(9).as("generation"), lit(2000L).as("updated_at")), 1)
    val si = sensorInfo.read
    println(s"sensor_info count = ${si.count()} (expect 1000, upserted)")
    println(s"sensor 1 generation = ${si.filter(col("sensor_id") === 1).select("generation").first().getInt(0)} (expect 9)")

    // 3b. decommission sensors 900-1000: -D tombstones through the changelog
    sensorInfo.deleteBatch(
      spark.range(900, 1001).select(col("id").as("sensor_id")), 2)
    println(s"sensor_info after delete = ${sensorInfo.read.count()} (expect 899)")
    val ops = sensorInfo.changesBetween(1, 2).groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"changelog ops batch 2 = $ops (expect -D -> 101)")

    // 4. enrichment lookup join — the reference's statement VERBATIM
    //    through the SQL shell (guide.md:119-140): FOR SYSTEM_TIME AS OF
    //    maps to the same stream-static broadcast join, hints tolerated
    val enriched = cat.createTable("default", "measurements_enriched", Map.empty)
    val sh = new graft.table.GraftSql(spark, wh)
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
    // 4495, not 5000: sensor_id=0 rows never had a dimension row, and the
    // 101 decommissioned sensors (step 3b) no longer match — lookup joins see
    // the dimension AS OF processing time (guide.md:119-140); the reference's
    // retry-on-miss hint (guide.md:125-128) would requeue unmatched rows.
    println(s"measurements_enriched count = ${enriched.read.count()} (expect 4495)")

    // 5. $files metadata table
    println("measurements$files:")
    measurements.filesView
      .select("file_path", "level", "record_count", "file_size_in_bytes",
        "min_sequence_number", "min_value_stats")
      .show(30, 80)

    // 6. compact (guide.md:258-259) + retention: on a bucketed table the
    //    target file count is advisory and compaction writes one file per
    //    bucket, so the one-bucket `measurements` compacts to one file
    val before = measurements.read.count()
    measurements.compact(targetFileCount = 2)
    println(s"after compact: files = ${measurements.latestSnapshot.get.files.size} " +
      "(expect 1: one file per bucket), " +
      s"rows conserved = ${measurements.read.count() == before}")
    cat.alterTable("default", "measurements", Map(
      "snapshot.num-retained.min" -> "1", "snapshot.num-retained.max" -> "1",
      "snapshot.time-retained" -> "1 ms"))
    val expired = cat.applyRetention("default", "measurements")
    println(s"retention expired $expired snapshots; table still reads ${measurements.read.count()} rows")

    spark.stop()
  }
}

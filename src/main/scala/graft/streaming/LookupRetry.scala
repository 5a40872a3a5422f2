package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stream–dimension lookup join with retry-on-miss — the full semantics of
  * the reference's LOOKUP hint (`/root/reference/tutorial/guide.md:122-138`:
  * `'retry-predicate'='lookup_miss'`, fixed-delay capped retries,
  * `'output-mode'='allow_unordered'`).
  *
  * Per micro-batch: the new rows PLUS the previous batch's unmatched rows
  * join against the CURRENT dimension snapshot (the provider re-reads it
  * every batch = processing-time temporal semantics, 2A#9). Matches append
  * to `outDir/data` (unordered across retries, as the reference allows);
  * misses park in a versioned retry file with an attempt counter; rows whose
  * attempts exceed `maxAttempts` land in `outDir/dead` (the analog of the
  * reference's 50-attempt cap). The retry delay is the trigger interval —
  * the reference's fixed 1 s delay maps to the micro-batch cadence.
  *
  * At scale this is the planner-free pattern: no custom operator, one
  * broadcast join per batch, retry state is a small parquet file keyed by
  * batch id. The join is evaluated once: one [[RoutedWrite]] job sends each
  * row to `data/batch-<id>` (hit), `retry/pending-<id>` (miss under the
  * cap) or `dead/batch-<id>` (miss at the cap), with no cache; a batch with
  * no rows writes their schema-only files with no job at all. Replay-safe
  * end to end: the job replaces those three batch-`id`-keyed directories,
  * and pending GC always keeps the newest predecessor, so a batch replayed
  * after a crash rewrites exactly its own outputs from exactly its inputs.
  * Read the sink with `option("recursiveFileLookup", true)` (per-batch
  * subdirectories).
  */
object LookupRetry {

  def start(
      spark: SparkSession,
      stream: DataFrame,
      dim: () => DataFrame,
      key: String,
      outDir: String,
      maxAttempts: Int,
      trigger: Trigger): StreamingQuery = {
    val retryDir = s"$outDir/retry"
    Files.createDirectories(Paths.get(retryDir))
    // A fresh checkpoint restarts batch ids at 0, so pending-N files left by
    // a previous run (checkpoint deleted, outDir kept) would first be skipped
    // (N >= id) and later consumed by batch N+1 as if they were this run's
    // parked rows. Detect the fresh start (no committed offsets) and clear
    // the stale pending state before the query begins.
    val offsetsDir = Paths.get(s"$outDir/chk/offsets")
    if (!Files.isDirectory(offsetsDir) ||
        graft.table.StreamTable.listDir(offsetsDir).isEmpty)
      graft.table.StreamTable.listDir(Paths.get(retryDir))
        .filter(_.getFileName.toString.startsWith("pending-"))
        .foreach(graft.table.StreamTable.deleteTree)

    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // newest pending file from an EARLIER batch (replay-safe)
        val fresh = batch.withColumn("__attempts", lit(0))
        // parked rows have exactly `fresh`'s columns; a replay overwrites
        // pending-<id>, so its schema is passed, never inferred or memoized
        val pendingDir = graft.table.StreamTable.listDir(Paths.get(retryDir)).iterator
          .map(_.getFileName.toString)
          .filter(_.startsWith("pending-"))
          .map(_.stripPrefix("pending-").toLong)
          .filter(_ < id).toSeq.sorted.lastOption
          .map(m => s"$retryDir/pending-$m")
        val input = pendingDir
          .map(p => fresh.unionByName(s.read.schema(fresh.schema).parquet(p)))
          .getOrElse(fresh)

        val d = dim().withColumn("__hit", lit(1))
        // one job routes the joined rows by the next attempt count; every
        // destination is a batch-id-keyed directory it replaces, so a
        // replayed batch rewrites its own outputs (exactly-once sink)
        val joined = input.join(broadcast(d), Seq(key), "left")
          .withColumn("__attempts", col("__attempts") + 1)
        // a batch with no rows (a compaction commit fires one) writes its
        // schema-only outputs from an empty plan: no dimension read, no job
        val noRows = batch.queryExecution.toRdd.getNumPartitions == 0 &&
          pendingDir.forall(parquetRows(s, _) == 0L)
        RoutedWrite.write(if (noRows) joined.limit(0) else joined, Seq(
          RoutedWrite.Dest(s"$outDir/data/batch-$id", col("__hit").isNotNull,
            joined.columns.toSeq.filterNot(Set("__hit", "__attempts"))),
          RoutedWrite.Dest(s"$retryDir/pending-$id",
            col("__attempts") < maxAttempts, input.columns.toSeq),
          RoutedWrite.Dest(s"$outDir/dead/batch-$id",
            col("__attempts") >= maxAttempts,
            input.columns.toSeq.filterNot(_ == "__attempts"))), outDir)
        // GC superseded pending files, but KEEP the newest predecessor: a
        // replay of this batch (crash before the checkpoint commit) must be
        // able to re-read the pending state it consumed
        val preds = graft.table.StreamTable.listDir(Paths.get(retryDir))
          .filter(_.getFileName.toString.startsWith("pending-"))
          .sortBy(_.getFileName.toString.stripPrefix("pending-").toLong)
          .filter(_.getFileName.toString.stripPrefix("pending-").toLong < id)
        preds.dropRight(1).foreach(p => graft.table.StreamTable.deleteTree(p))
      }
      .option("checkpointLocation", s"$outDir/chk")
      .trigger(trigger)
      .start()
  }

  /** Rows in a directory's parquet files, from their footers. */
  private def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    graft.table.StreamTable.listDir(Paths.get(dir)).iterator
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p.toString), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}

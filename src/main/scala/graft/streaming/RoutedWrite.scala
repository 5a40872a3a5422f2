package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.graft.TaskWrite
import org.apache.spark.sql.types.StructType

import graft.table.StreamTable

/** One Spark job that writes a frame's rows to several parquet directories:
  * each row goes to the first destination whose predicate it satisfies, and
  * a row satisfying none is dropped. It stands in for `df.cache()` plus one
  * `write.mode("overwrite").parquet(dir)` per filtered view: the frame is
  * evaluated once, by one job under one SQL execution id.
  *
  * Each task opens one parquet writer per destination it sends rows to,
  * from `ParquetFileFormat.prepareWrite` over the session's conf, so a file
  * carries the session's parquet settings and the schema that
  * `frame.filter(where).select(cols).write.parquet(dir)` writes. As in
  * Spark's own file writer, partition 0 opens every destination: an empty
  * destination still gets one schema-only file, which a reader without a
  * schema needs. An input with no partitions writes those files in the
  * calling thread, as its partition 0, and launches no job.
  *
  * Tasks write into a staging directory. After the job, `write` replaces
  * each destination directory (delete, then an atomic move), keeping only
  * the files of each partition's successful attempt. A failed job replaces
  * nothing and leaves no staging directory: `write` returns only after
  * every task of the job has ended (a task still running when another one
  * failed would otherwise re-create the directory when it opens a writer).
  * A rerun rewrites exactly its own destinations. */
object RoutedWrite {

  /** Rows satisfying `where` (and no earlier destination's predicate) land
    * in `dir` as the frame's columns `cols`, in that order. */
  final case class Dest(dir: String, where: Column, cols: Seq[String])

  /** Write `frame` to `dests` in one job, staging under `stagingParent`, a
    * local directory on the same file system as every destination. */
  def write(frame: DataFrame, dests: Seq[Dest], stagingParent: String): Unit = {
    require(dests.nonEmpty, "a routed write needs a destination")
    val spark = frame.sparkSession
    def ref(c: String): Column = col("`" + c.replace("`", "``") + "`")
    val route = dests.indices.tail.foldLeft(when(dests.head.where, 0)) {
      (w, i) => w.when(dests(i).where, i)
    }
    val carried = dests.flatMap(_.cols).distinct
    val routed = frame.select(route.as("__route") +: carried.map(ref): _*)
    // ordinal 0 is the route; each carried column follows at its position.
    // A filter leaves its input's schema as it is, so a destination's
    // schema is its columns' fields in `routed`.
    val fields = routed.schema.fields
    val ordinals = dests.map(_.cols.map(carried.indexOf(_) + 1))
    val schemas = ordinals.map(os => StructType(os.map(fields(_))))
    // one Hadoop conf per destination: prepareWrite stores the write
    // schema in the conf
    val (factories, confs) = schemas.map { s =>
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, s)
      (factory, new TaskWrite.Conf(job.getConfiguration))
    }.unzip
    val jobId = UUID.randomUUID().toString
    val staging = Paths.get(stagingParent, s"_routed-$jobId")
    val write = writeTask(staging.toString, jobId, schemas, factories, confs, ordinals) _
    val sc = spark.sparkContext
    val tag = s"graft-routed-$jobId"
    try {
      val qe = routed.queryExecution
      val written = SQLExecution.withNewExecutionId(qe, Some("routedWrite")) {
        val rdd = qe.toRdd
        if (rdd.getNumPartitions == 0) Array(write(0, 0, 0, Iterator.empty)._1)
        else {
          sc.addJobTag(tag)
          try sc.runJob(rdd, (tc: TaskContext, rows: Iterator[InternalRow]) => {
            val (names, bytes, records) =
              write(tc.partitionId(), tc.stageId(), tc.attemptNumber(), rows)
            TaskWrite.reportOutput(tc, bytes, records)
            names
          }) catch {
            case t: Throwable =>
              try awaitTasks(sc, tag) catch { case e: Throwable => t.addSuppressed(e) }
              throw t
          } finally sc.removeJobTag(tag)
        }
      }
      dests.zipWithIndex.foreach { case (d, i) =>
        val from = staging.resolve(i.toString)
        Files.createDirectories(from)
        // a failed task attempt's files are not part of the output
        val keep = written.flatMap(_(i)).flatMap(n => Seq(n, s".$n.crc")).toSet
        StreamTable.listDir(from).filterNot(p => keep(p.getFileName.toString))
          .foreach(Files.delete)
        Files.createFile(from.resolve("_SUCCESS"))
        val to = Paths.get(d.dir)
        if (Files.exists(to)) StreamTable.deleteTree(to)
        Files.createDirectories(to.getParent)
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      }
    } finally if (Files.exists(staging)) StreamTable.deleteTree(staging)
  }

  /** The longest a failed `write` waits for its job's other tasks. */
  private val TaskEndWaitMs = 60000L

  /** Wait, at most [[TaskEndWaitMs]], until every task of the jobs tagged
    * `tag` has ended. A failed job's other tasks may still run; Spark only
    * flags them killed. The status store hears of tasks through the
    * listener bus, after the job has already failed, so this waits for the
    * store to record each job's end and then for its stages' active tasks
    * to reach zero. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def ended: Boolean = {
      val jobs = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo(_))
      jobs.nonEmpty && jobs.forall(j => j.status != JobExecutionStatus.RUNNING &&
        j.stageIds.forall(s => st.getStageInfo(s).forall(_.numActiveTasks == 0)))
    }
    val deadline = System.currentTimeMillis() + TaskEndWaitMs
    while (!ended && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** One partition: send each row to its destination's writer, opening a
    * destination's file on its first row (partition 0: on entry). Returns
    * the name of the file written per destination, if any, and the bytes
    * and rows written. */
  private def writeTask(staging: String, jobId: String, schemas: Seq[StructType],
      factories: Seq[OutputWriterFactory], confs: Seq[TaskWrite.Conf],
      ordinals: Seq[Seq[Int]])(
      part: Int, stage: Int, attemptNumber: Int,
      rows: Iterator[InternalRow]): (Seq[Option[String]], Long, Long) = {
    val n = schemas.size
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(jobId, stage), TaskType.MAP, part), attemptNumber)
    val project = ordinals.zip(schemas).map { case (os, s) =>
      UnsafeProjection.create(os.zip(s.fields).map { case (i, f) =>
        BoundReference(i, f.dataType, f.nullable): Expression })
    }
    val writers = new Array[OutputWriter](n)
    val names = new Array[String](n)
    var records = 0L
    def open(i: Int): OutputWriter = {
      val ctx = new TaskAttemptContextImpl(confs(i).value, attempt)
      names(i) = f"part-$part%05d-$jobId-c$attemptNumber%03d" +
        factories(i).getFileExtension(ctx)
      writers(i) = factories(i).newInstance(s"$staging/$i/${names(i)}", schemas(i), ctx)
      writers(i)
    }
    def closeAll(): Unit = (0 until n).foreach { i =>
      val w = writers(i)
      writers(i) = null
      if (w != null) w.close()
    }
    try {
      if (part == 0) (0 until n).foreach(open)
      rows.foreach { row =>
        if (!row.isNullAt(0)) {
          val i = row.getInt(0)
          val w = if (writers(i) != null) writers(i) else open(i)
          w.write(project(i)(row))
          records += 1
        }
      }
      closeAll()
    } catch {
      case t: Throwable =>
        try closeAll() catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    }
    val bytes = (0 until n).iterator.filter(names(_) != null)
      .map(i => Files.size(Paths.get(staging, i.toString, names(i)))).sum
    (names.toSeq.map(Option(_)), bytes, records)
  }
}

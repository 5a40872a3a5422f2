package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.table.{GraftCatalog, StreamTable}

/** `stream_ingest`: the reference tutorial scaled to one run.
  *
  * Seeded measurement batches of the reference's commit size go from a
  * `MemoryStream` through the `format("graft")` streaming sink into
  * `measurements` (2 buckets on `sensor_id`, Zipf-skewed sensors). An
  * enrichment stream (`LookupRetry`, one attempt) reads `measurements` back
  * through the `format("graft")` streaming source and joins each new batch
  * with `sensor_info`.
  *
  * The loop runs in rounds. A round commits an upsert or a delete wave to
  * `sensor_info` (deduplicate engine, `sequence.field = updated_at`,
  * `changelog-producer = input`) and the previous round's per-sensor count
  * and reading sum to `sensor_totals` (aggregation engine, `sum`). It
  * compacts `measurements` when it holds more than 6 files, down to one file
  * per bucket (the reference's 22 files down to 2, scaled so that it fires
  * in every round of a short run), and applies retention. It reads through
  * each of the three doors (library, connector, SQL shell): a head read,
  * time travel, a key-range read or `changesBetween` of a primary-key table;
  * and it reads the last three batches of `measurements` by event time
  * through the connector (file skipping). Then it ingests four batches. One
  * client thread runs the loop closed: a batch is added only after the
  * previous one is committed and enriched, so every batch is joined with
  * `sensor_info` as committed before it.
  *
  * An untraced run starts rounds until `--seconds` have passed. A traced
  * run does [[TracedRounds]] rounds whatever the host's speed, so that two
  * traced runs of one seed do the same work and their counts compare. */
object StreamIngest {
  val Sensors = 1000       // sensor_info's initial rows (ids 1..1000)
  val SensorSpace = 1050   // measured ids 1..1050: ~5% never have a dimension row
  val ZipfS = 0.99         // YCSB's default Zipfian constant
  // the reference's commit: 20 s at 1,000 rows/s, ~10k rows per bucket file
  val RowsPerBatch = 20000
  val RowGapMs = 1L        // event times 1 ms apart: 1,000 rows/s, 20 s per batch
  val UpsertWave = 60
  val DeleteWave = 20
  val RoundBatches = 4     // ingest batches between two dimension changes
  val TracedRounds = 2
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  private val infoSchema = new StructType()
    .add("sensor_id", IntegerType).add("latitude", DecimalType(7, 4))
    .add("longitude", DecimalType(7, 4)).add("generation", IntegerType)
    .add("updated_at", LongType)

  def run(ctx: Ctx, rec: Record): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.trace
    val t0 = System.nanoTime()
    val rnd = new SplittableRandom(ctx.seed)
    val zipf = new Zipf(SensorSpace, ZipfS)
    // hot sensors are a seeded permutation of the ids, not ids 1, 2, 3...
    val idOf = {
      val ids = (1 to SensorSpace).toArray
      for (i <- ids.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids
    }
    var seq = 0L
    def dec(unscaled: Long, scale: Int) = java.math.BigDecimal.valueOf(unscaled, scale)
    /** latitude, longitude, generation, updated_at */
    def newInfo(): Seq[Any] = {
      seq += 1
      Seq(dec(rnd.nextLong(-900000, 900001), 4), dec(rnd.nextLong(-1800000, 1800001), 4),
        rnd.nextInt(4), seq)
    }

    // ---- model of measurements and the enriched stream ------------------
    val perSensor = mutable.Map[Int, (Long, java.math.BigDecimal)]()
    val perGen = mutable.Map[Int, (Long, java.math.BigDecimal)]()
    def add(m: mutable.Map[Int, (Long, java.math.BigDecimal)], k: Int, v: java.math.BigDecimal): Unit = {
      val (n, s) = m.getOrElse(k, (0L, java.math.BigDecimal.ZERO))
      m(k) = (n + 1, s.add(v))
    }

    // ---- setup --------------------------------------------------------
    val wh = ctx.dir("wh")
    val cat = new GraftCatalog(spark, wh)
    val mT = cat.createTable("lake", "measurements", Map(
      "bucket" -> "2", "bucket-key" -> "sensor_id",
      "compaction.max.file-num" -> "6",
      "snapshot.num-retained.min" -> "3", "snapshot.num-retained.max" -> "6",
      "snapshot.time-retained" -> "1 ms"))
    val siT = cat.createTable("lake", "sensor_info", Map(
      "primary-key" -> "sensor_id", "sequence.field" -> "updated_at",
      "changelog-producer" -> "input", "bucket" -> "2"))
    val totT = cat.createTable("lake", "sensor_totals", Map(
      "primary-key" -> "sensor_id", "bucket" -> "2",
      "fields.n.aggregate-function" -> "sum", "fields.tenths.aggregate-function" -> "sum"))
    val info = PkTable("sensor_info", siT,
      Seq("sensor_id", "latitude", "longitude", "generation", "updated_at"), new PkModel(agg = false))
    val totals = PkTable("sensor_totals", totT, Seq("sensor_id", "n", "tenths"), new PkModel(agg = true))
    val batchIds = mutable.Map(siT -> 0L, totT -> 0L)
    val pkCommitMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    /** One commit to a primary-key table, timed, then folded into its model. */
    def pkCommit(p: PkTable, kind: String, puts: Seq[Put])(write: Long => Unit): Unit = {
      val b = batchIds(p.table)
      val s = System.nanoTime()
      tr("table", "append")(write(b))
      pkCommitMs.getOrElseUpdate(s"${p.name}.$kind", mutable.ArrayBuffer()) += Stats.ms(s)
      batchIds(p.table) = b + 1
      p.model.commit(p.table.latestSnapshotId.get, puts)
    }
    def infoRows(xs: Seq[(Int, Seq[Any])]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map { case (id, c) => Row.fromSeq(id +: c) }, 1), infoSchema)
    def upsertInfo(ids: Seq[Int]): Unit = {
      val xs = ids.map(id => id -> newInfo())
      pkCommit(info, "upsert", xs.map { case (id, c) => Put(id, delete = false, c) })(
        b => siT.appendBatch(infoRows(xs), b))
    }
    upsertInfo(1 to Sensors)
    val pending = mutable.Map[Int, (Long, Long)]() // per-sensor (count, tenths) since the last rollup
    def rollup(): Unit = if (pending.nonEmpty) {
      val xs = pending.toSeq.sortBy(_._1)
      pending.clear()
      pkCommit(totals, "upsert", xs.map { case (id, (n, t)) => Put(id, delete = false, Seq(n, t)) })(
        b => totT.appendBatch(xs.map { case (id, (n, t)) => (id, n, t) }.toDF("sensor_id", "n", "tenths"), b))
    }
    var waves = 0
    def wave(): Unit = {
      waves += 1
      if (waves % 2 == 1) upsertInfo(Seq.fill(UpsertWave)(1 + rnd.nextInt(SensorSpace)).distinct)
      else {
        val ids = Seq.fill(DeleteWave)(1 + rnd.nextInt(SensorSpace)).distinct
        seq += 1
        pkCommit(info, "delete", ids.map(id => Put(id, delete = true, Seq(null, null, null, seq))))(
          b => siT.deleteBatch(ids.map(id => (id, seq)).toDF("sensor_id", "updated_at"), b))
      }
    }

    val mem = MemoryStream[(Int, Int, Long)](spark)
    val sink = mem.toDF().select(
      col("_1").as("sensor_id"),
      // the sink has no decimal type: a reading is the double nearest to
      // tenths / 10, and the checks sum it exactly as DECIMAL(5,1)
      (col("_2") / 10.0).as("reading"),
      timestamp_millis(col("_3")).as("event_time"))
      .writeStream.format("graft").queryName("ingest")
      .option("path", mT.root).option("checkpointLocation", ctx.dir("chk/ingest"))
      .start()
    val enrichDir = ctx.dir("measurements_enriched")

    var batch = 0L
    val recent = mutable.Queue[Seq[(Int, Int, Long)]]() // the last three batches
    val commitMs, lagMs, compactMs, expireMs = mutable.ArrayBuffer[Double]()
    var enrich: Option[StreamingQuery] = None
    /** Add one seeded batch, wait until it is committed and visible, then
      * until the enrichment has joined it. Returns the commit latency and
      * the lag (added until its enriched rows are committed). */
    def ingestOne(): (Double, Double) = {
      val rows = (0 until RowsPerBatch).map { i =>
        (idOf(zipf.sample(rnd)), rnd.nextInt(451), BaseMs + (batch * RowsPerBatch + i) * RowGapMs)
      }
      val before = mT.latestSnapshotId.getOrElse(-1L)
      val s = System.nanoTime()
      mem.addData(rows)
      tr("v2", "sink.trigger")(sink.processAllAvailable())
      val snap = mT.latestSnapshotId.getOrElse(-1L)
      val committed = Stats.ms(s)
      rec.op(snap > before, s"batch $batch not visible after its trigger")
      enrich.foreach(q => tr("streaming", "enrich")(q.processAllAvailable()))
      val lag = Stats.ms(s)
      val dims = info.model.head
      rows.foreach { case (id, tenths, _) =>
        val v = dec(tenths, 1)
        add(perSensor, id, v)
        dims.get(id).foreach(c => add(perGen, c(2).asInstanceOf[Int], v))
        val (n, t) = pending.getOrElse(id, (0L, 0L))
        pending(id) = (n + 1, t + tenths)
      }
      recent += rows
      if (recent.size > 3) recent.dequeue()
      batch += 1
      (committed, lag)
    }
    val exact = col("reading").cast(DecimalType(5, 1))
    def measurementsRows(): Check.Rows = Check.rows(mT.read.groupBy("sensor_id")
      .agg(count(lit(1)), sum(exact)).collect().toSeq)
    def expectedMeasurements: Check.Rows = perSensor.toSeq.map { case (id, (n, s)) =>
      Seq(id.toString, n.toString, Check.cell(s)) }
    /** Per-sensor count and sum of the last three batches, by event time. */
    def recentRows(fromMs: Long): Check.Rows = Check.rows(spark.read.format("graft").load(mT.root)
      .filter(col("event_time") >= timestamp_millis(lit(fromMs)))
      .groupBy("sensor_id").agg(count(lit(1)), sum(exact)).collect().toSeq)
    def expectedRecent: Check.Rows = recent.toSeq.flatten
      .groupBy(_._1).toSeq.map { case (id, xs) =>
        Seq(id.toString, xs.size.toString, Check.cell(dec(xs.map(_._2.toLong).sum, 1))) }

    // warm-up, untimed: one batch through both streams and one sum-table
    // commit (the first read through each door is a measured, cold sample)
    val tablesS = (System.nanoTime() - t0) / 1e9
    ingestOne()
    val enrichQ = graft.streaming.LookupRetry.start(spark,
      spark.readStream.format("graft").load(mT.root),
      () => siT.read.select("sensor_id", "latitude", "longitude", "generation", "updated_at"),
      "sensor_id", enrichDir, maxAttempts = 1, Trigger.ProcessingTime(0L))
    enrichQ.processAllAvailable()
    enrich = Some(enrichQ)
    rollup()
    val doors = new Doors(spark, tr, wh, "lake", Seq(info, totals), SensorSpace)
    val readOffset = rnd.nextInt(12)
    val setupS = ctx.sessionS + (System.nanoTime() - t0) / 1e9
    rec.report("setup.session_s") = ctx.sessionS
    rec.report("setup.tables_s") = tablesS
    rec.report("setup.warm_s") = setupS - ctx.sessionS - tablesS

    // ---- measured window ----------------------------------------------
    tr.begin()
    val footer0 = StreamTable.planFooterReads.get + StreamTable.driverCommitFooterReads.get
    val folds0 = StreamTable.hydrateFolds.get
    // bytes of every data file any commit added, for write amplification
    val seen = mutable.Set[String]()
    var bytesAdded = 0L
    def noteFiles(): Unit = if (tr.on) Seq(mT, siT, totT).foreach(_.latestSnapshot.foreach(_.files
      .foreach(f => if (seen.add(f.path)) bytesAdded += f.fileSizeInBytes)))
    noteFiles(); bytesAdded = 0L
    pkCommitMs.clear()
    def enrichedRows() = spark.read.option("recursiveFileLookup", "true").parquet(s"$enrichDir/data")
    val enriched0 = if (tr.on) enrichedRows().count() else 0L
    val sinkBatch0 = sink.lastProgress.batchId
    val enrichBatch0 = enrichQ.lastProgress.batchId
    val w0 = System.nanoTime()
    val cpu0 = Cpu.now
    val deadline = w0 + (ctx.seconds * 1e9).toLong
    // whole rounds only: every round does the same kinds of work, so the
    // rates of a one-round and a two-round run compare
    var round = 0
    while (if (tr.on) round < TracedRounds else System.nanoTime() < deadline) {
      wave()
      rollup()
      val filesBefore = mT.latestSnapshot.map(_.files.size).getOrElse(0)
      val cs = System.nanoTime()
      val compacted = tr("table", "compact")(cat.maybeCompact("lake", "measurements"))
      if (compacted) {
        compactMs += Stats.ms(cs)
        noteFiles()
        val after = mT.latestSnapshot.map(_.files).getOrElse(Nil)
        tr.count("table.compact.files_in", filesBefore)
        tr.count("table.compact.files_out", after.size)
        tr.count("table.compact.bytes_rewritten", after.map(_.fileSizeInBytes).sum.toDouble)
        val es = System.nanoTime()
        val expired = tr("table", "expire")(cat.applyRetention("lake", "measurements"))
        expireMs += Stats.ms(es)
        tr.count("table.expire.snapshots_expired", expired)
      }
      doors.readRound(round, readOffset, rnd, rec)
      // the last three batches by event time through format("graft"): an
      // append-table scan that can skip files
      val rs = System.nanoTime()
      val got = tr("door", "v2")(recentRows(recent.head.head._3))
      doors.note("v2/measurements/range", Stats.ms(rs))
      rec.verify(s"measurements last 3 batches @$batch", expectedRecent)(got)
      for (_ <- 0 until RoundBatches) {
        val (c, l) = ingestOne()
        commitMs += c
        lagMs += l
        rec.ops += 1
        noteFiles()
      }
      round += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpuMs = (Cpu.now - cpu0) / 1e6
    val footerReads = StreamTable.planFooterReads.get + StreamTable.driverCommitFooterReads.get - footer0
    val folds = StreamTable.hydrateFolds.get - folds0
    tr.end()
    sink.stop(); enrichQ.stop()

    // ---- final output checks (untimed) ----------------------------------
    rec.verify("measurements per sensor", expectedMeasurements)(measurementsRows())
    val enriched = enrichedRows()
    rec.verify("measurements_enriched per generation",
      perGen.toSeq.map { case (g, (n, s)) => Seq(g.toString, n.toString, Check.cell(s)) })(
      Check.rows(enriched.groupBy("generation").agg(count(lit(1)), sum(exact)).collect().toSeq))
    Seq(info, totals).foreach(p => rec.verify(s"${p.name} final state", p.model.rows(p.model.headSnap))(
      Check.rows(p.table.read.select(p.cols.map(col): _*).collect().toSeq)))

    val stored = Storage.bytesPerUserByte(spark, Seq(mT, siT, totT), ctx.dir("flat"))
    val readMs = doors.readMs.toSeq
    rec.contract("setup_s") = setupS
    rec.contract("op_p50_ms") = Stats.median(commitMs.toSeq)
    rec.contract("ops_per_s") = commitMs.size / windowS
    rec.report("setup_s") = setupS
    rec.report("ingest_rows_per_s") = commitMs.size * RowsPerBatch / windowS
    rec.report("cpu_ms_per_op") = cpuMs / commitMs.size
    rec.timing("commit", "ms", commitMs.toSeq)
    rec.timing("lag", "ms", lagMs.toSeq)
    rec.timing("compact", "ms", compactMs.toSeq)
    rec.timing("expire", "ms", expireMs.toSeq)
    rec.timing("read", "ms", readMs)
    pkCommitMs.toSeq.sortBy(_._1).foreach { case (k, xs) => rec.timing(s"pk_commit.$k", "ms", xs.toSeq) }
    doors.byRead.foreach { case (k, xs) =>
      rec.report(s"read.${k.replace('/', '.')}.p50_ms") = Stats.median(xs.toSeq)
    }
    rec.report("stored_bytes_per_user_byte") = stored
    rec.inputs ++= Seq("batches" -> batch, "rows_per_batch" -> RowsPerBatch,
      "sensors" -> Sensors, "sensor_space" -> SensorSpace, "zipf_s" -> ZipfS,
      "rounds" -> round, "read_offset" -> readOffset,
      "sensor_info_snapshots" -> info.model.states.size,
      "sensor_totals_snapshots" -> totals.model.states.size, "window_s" -> windowS,
      "reads" -> doors.byRead.map { case (k, xs) => k -> xs.size }.toMap)

    if (tr.on) {
      def p50(layer: String, name: String) = Stats.median(tr.selfMs(layer, name))
      rec.total("table.append.calls", tr.selfMs("table", "append").size)
      rec.layers("table.append.self_ms_p50") = p50("table", "append")
      rec.total("table.compact.self_ms", tr.selfMs("table", "compact").sum)
      rec.total("table.expire.self_ms", tr.selfMs("table", "expire").sum)
      val live = Seq(mT, siT, totT).flatMap(_.latestSnapshot.toSeq.flatMap(_.files)).map(_.fileSizeInBytes).sum
      rec.layers("table.write_amp") = if (live > 0) bytesAdded.toDouble / live else 0.0
      rec.total("table.footer_reads", footerReads.toDouble)
      rec.layers("table.read.files_per_read_p50") = Stats.median(doors.filesPerRead.toSeq)
      rec.layers("table.snapshot.hydrate_folds_per_read") =
        if (readMs.nonEmpty) folds.toDouble / readMs.size else 0.0
      Seq("library", "v2", "sql").foreach(d => rec.layers(s"door.$d.read_ms_p50") = p50("door", d))
      if (doors.sqlOverMs.nonEmpty) rec.layers("door.sql.overhead_ms_p50") = Stats.median(doors.sqlOverMs.toSeq)
      rec.layers("v2.plan.ms_p50") = p50("v2", "plan")
      rec.total("v2.pkread.scans", doors.pkScans.toDouble)
      rec.total("v2.pkread.files_planned", doors.pkFilesPlanned.toDouble)
      rec.total("v2.pkread.rows_scanned", doors.pkRowsScanned.toDouble)
      rec.total("v2.pkread.rows_out", doors.pkRowsOut.toDouble)
      rec.layers("v2.pkread.merge_ratio") =
        if (doors.pkRowsScanned > 0) doors.pkRowsOut.toDouble / doors.pkRowsScanned else 0.0
      Progress.sink(sink, sinkBatch0, rec)
      Progress.enrich(enrichQ, enrichBatch0, rec, enriched.count() - enriched0)
    }
  }
}

/** Trigger phases from the public `StreamingQueryProgress.durationMs`. */
object Progress {
  /** The triggers after `batch0` (the measured window's) that read data. */
  private def data(q: StreamingQuery, batch0: Long) =
    q.recentProgress.filter(p => p.batchId > batch0 && p.numInputRows > 0).toSeq
  private def phase(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], keys: String*): Seq[Double] =
    ps.flatMap(p => keys.collectFirst { case k if p.durationMs.containsKey(k) => p.durationMs.get(k).toDouble })

  def sink(q: StreamingQuery, batch0: Long, rec: Record): Unit = {
    val ps = data(q, batch0)
    rec.total("v2.sink.triggers", ps.size)
    Seq("trigger" -> Seq("triggerExecution"), "add_batch" -> Seq("addBatch"),
      "wal_commit" -> Seq("walCommit"), "query_planning" -> Seq("queryPlanning"),
      "get_offset" -> Seq("latestOffset", "getOffset")).foreach { case (n, ks) =>
      rec.layers(s"v2.sink.${n}_ms_p50") = Stats.median(phase(ps, ks: _*))
    }
  }

  def enrich(q: StreamingQuery, batch0: Long, rec: Record, rowsOut: Long): Unit = {
    val ps = data(q, batch0)
    val in = ps.map(_.numInputRows).sum
    rec.layers("streaming.enrich.trigger_ms_p50") = Stats.median(phase(ps, "triggerExecution"))
    rec.total("streaming.enrich.rows_in", in.toDouble)
    rec.total("streaming.enrich.rows_out", rowsOut.toDouble)
    rec.layers("streaming.enrich.miss_ratio") = if (in > 0) 1.0 - rowsOut.toDouble / in else 0.0
  }
}

/** Bytes under the table roots over the bytes of the same live rows
  * written once as parquet. */
object Storage {
  def dirBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
  def bytesPerUserByte(spark: SparkSession, tables: Seq[StreamTable], scratch: String): Double = {
    val user = tables.zipWithIndex.map { case (t, i) =>
      val out = s"$scratch/t$i"
      t.read.coalesce(1).write.mode("overwrite").parquet(out)
      dirBytes(out)
    }.sum
    tables.map(t => dirBytes(t.root)).sum.toDouble / user
  }
}

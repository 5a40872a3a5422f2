package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming queries (SURVEY.md §2B "Streaming").
  *
  * These re-express the reference's streaming-table workload
  * (`/root/reference/tutorial/guide.md`): continuous INSERT INTO pipes
  * (guide.md:36-39), the PK upsert table (guide.md:59-74), the lookup join
  * (guide.md:119-140), plus the watermark/window surface. Each query runs a
  * REAL Structured Streaming job — file source over the driver parquet,
  * `Trigger.AvailableNow`, memory or parquet sink — and returns the final
  * result as a DataFrame, so the driver's batch-equivalent DuckDB oracle
  * checks it like any other query (stream–batch duality, the reference's
  * central theme, guide.md:51-56).
  *
  * In production the same pipelines run unbounded with
  * `Trigger.ProcessingTime("20 seconds")` — the reference's checkpoint
  * interval (guide.md:3); `AvailableNow` is the bounded-test trigger.
  */
object StreamOps {

  /** Unique suffix per invocation: memory-sink names and temp dirs must not
    * collide when Verify/Bench run the whole registry in one session. */
  private def fresh(): String = UUID.randomUUID().toString.replace("-", "").take(12)

  /** Per-user running (event count, value cents) through the Spark 4
    * arbitrary-state API ([[q_stream_processor_state]]): typed ValueState,
    * explicit init/handleInputRows lifecycle, RocksDB state store. Values are
    * held as exact integer cents so the emitted totals are order-independent
    * and bit-comparable to the batch oracle's DECIMAL sum. */
  private class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { case (_, c) => n += 1; cents += c }
      st.update((n, cents))
      Iterator.single((key, n, cents))
    }
  }

  /** The file stream source requires a *directory*; the driver testdata is a
    * single parquet file per table. Stage (once per sf dir) a temp directory
    * holding a symlink to events.parquet. */
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def eventsSourceDir(d: String): String =
    stagedDirs.computeIfAbsent(d, { _ =>
      val dir = Files.createTempDirectory("graft_events_src_")
      Files.createSymbolicLink(dir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      dir.toString
    })

  /** Stream-read the events table (file source needs an explicit schema);
    * normalizes the nanosecond-long `ts` to a proper timestamp. Watermarks
    * need TIMESTAMP (LTZ); outputs cast back to NTZ for oracle parity. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.t(s, d, "events").schema
    val raw = s.readStream.schema(schema).parquet(eventsSourceDir(d))
    // normalize `ts` to TIMESTAMP (LTZ, µs) for watermarks whichever
    // physical type the driver wrote: nanos-long (early testdata) or a
    // proper timestamp column (current testdata; NTZ→LTZ keeps the wall
    // time under the UTC session)
    schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Stateful streaming ops allocate one state-store instance PER shuffle
    * partition PER operator, each with its own per-batch checkpoint files —
    * at test scale that fixed setup dominates, and at cluster scale the state
    * partition count should track state size, not the batch-query shuffle
    * width. Run the job under a narrow shuffle width (results are
    * partitioning-independent), restoring the session conf after. */
  private def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try body finally s.conf.set(key, prev)
  }

  /** Run a streaming DataFrame to completion into a memory sink; return the
    * materialized table plus the finished query handle (for callers that
    * inspect progress, e.g. [[incrementalCounts]]'s batch count). */
  private def runToMemoryQ(s: SparkSession, df: DataFrame, mode: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) =
    withStreamShuffle(s) {
      val name = s"mem_$fresh"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (s.table(name), q)
    }

  private def runToMemory(s: SparkSession, df: DataFrame, mode: String): DataFrame =
    runToMemoryQ(s, df, mode)._1

  /** Append-only streaming scan with the changelog op column (+I), rendered
    * through a real streaming job (reference 2A#19). */
  def changelogScan(s: SparkSession, d: String): DataFrame = {
    val tagged = eventsStream(s, d)
      .select(lit("+I").as("op"), col("event_id"), col("event_type"))
    runToMemory(s, tagged, "append").orderBy("event_id")
  }

  val all: Seq[QDef] = Seq(
    // Reference op 2A#7: continuous INSERT INTO … SELECT — source → parquet
    // sink with checkpoint. Result = what landed in the sink table.
    QDef(
      "q_stream_ingest",
      """SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin) { (s, d) =>
      val out = Files.createTempDirectory("graft_ingest_").toString
      withStreamShuffle(s) {
        val q = eventsStream(s, d).writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"$out/data").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    },

    // Tumbling 1 h window × event_type with a 10 min watermark.
    QDef(
      "q_stream_tumbling",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      runToMemory(s, agg, "complete")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // Sliding 1 h window every 15 min (each event lands in 4 windows).
    QDef(
      "q_stream_sliding",
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |         - k.k * INTERVAL '15 minutes' AS window_start,
        |  event_type, count(*) AS n
        |FROM events, (VALUES (0), (1), (2), (3)) k(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToMemory(s, agg, "complete")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },

    // Per-user session windows with a 30 min gap. Oracle = the classic
    // gap-island SQL. Boundary semantics (empirically pinned): an event
    // exactly gap-distance after its predecessor still MERGES into the
    // session — session_window extends to last+gap and a new event at that
    // exact instant joins it — so the island break is STRICTLY greater
    // than the gap, the same `>` as q_ext_sessionize (stream–batch
    // duality, asserted in TimeseriesSpec).
    QDef(
      "q_stream_session",
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
        |m AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                    > INTERVAL '30 minutes'
        |             THEN 1 ELSE 0 END AS brk
        |      FROM o),
        |g AS (SELECT user_id, t,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id, min(t) AS session_start,
        |  max(t) + INTERVAL '30 minutes' AS session_end, count(*) AS n
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      runToMemory(s, agg, "complete")
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("session_window.end").cast("timestamp_ntz").as("session_end"),
          col("n"))
        .orderBy("user_id", "session_start")
    },

    // Stateful dedup: the stream is the events file replayed TWICE (union),
    // so every event_id arrives duplicated; watermarked dropDuplicates
    // collapses them back to one occurrence each.
    QDef(
      "q_stream_dedup",
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = eventsStream(s, d)
      val doubled = ev.unionByName(eventsStream(s, d))
      val deduped = doubled
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id", "ts")
      runToMemory(s, deduped, "append")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Production-shaped stateful dedup: dropDuplicatesWithinWatermark keeps
    // each key only until the watermark passes it — BOUNDED state, where
    // plain dropDuplicates retains every key forever (the variant above
    // demonstrates semantics; this one is what an unbounded 100 TB/day
    // stream must run). Input replayed twice; duplicates arrive within the
    // watermark delay, so the dedup result — and the oracle — are identical.
    QDef(
      "q_stream_dedup_within_wm",
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val doubled = eventsStream(s, d).unionByName(eventsStream(s, d))
      val deduped = doubled
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      runToMemory(s, deduped, "append")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Reference op 2A#9: the lookup join — streaming facts enriched against
    // a static dimension; Structured Streaming re-plans the static side per
    // micro-batch = processing-time temporal join semantics.
    QDef(
      "q_stream_lookup_join",
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |       c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val dim = Tables.customer(s, d)
      val joined = eventsStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"), "inner")
        .select("event_id", "user_id", "event_type", "value", "c_name", "c_mktsegment")
      runToMemory(s, joined, "append").orderBy("event_id")
    },

    // Reference op 2A#8: PK upsert table (sensor_info semantics,
    // guide.md:59-74). foreachBatch appends each micro-batch with its batchId
    // (the Paimon sequence-number analog, guide.md:206); the read view is
    // last-writer-wins per key.
    QDef(
      "q_stream_upsert",
      """SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val out = Files.createTempDirectory("graft_upsert_").toString
      withStreamShuffle(s) {
        val q = eventsStream(s, d).writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$out/data")
          }
          .option("checkpointLocation", s"$out/chk")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      s.read.parquet(s"$out/data")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value"))
        .orderBy("user_id")
    },

    // CDC changelog APPLY — the reference's row-kind alphabet end-to-end in
    // a stateful streaming job (Readme.md:113-127: every tableau row carries
    // op ∈ +I/-U/+U/-D; guide.md:66 'changelog-producer'='input'): each
    // event becomes an op on its user key (signup→+I, error→-D, else +U),
    // applied in sequence order against typed keyed state, so a deleted key
    // disappears from the materialized view unless a later op re-inserts
    // it. Complements q_stream_upsert (LWW, no deletes) and the batch-side
    // StreamTable tombstones. State per key is (seq, value, alive) — O(1),
    // shuffle keyed on user_id only.
    QDef(
      "q_stream_cdc_apply",
      """WITH o AS (SELECT user_id, event_id,
        |    CASE event_type WHEN 'signup' THEN '+I' WHEN 'error' THEN '-D' ELSE '+U' END AS op,
        |    value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_seq, value AS last_value
        |FROM o WHERE rn = 1 AND op <> '-D' ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val ops = eventsStream(s, d).select(
          col("user_id"), col("event_id"),
          expr("CASE event_type WHEN 'signup' THEN '+I' WHEN 'error' THEN '-D' ELSE '+U' END").as("op"),
          col("value"))
        .as[(Long, Long, String, Double)]
      val updates = ops.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Double, Boolean), (Long, Long, Double, Boolean)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long, String, Double)],
           state: GroupState[(Long, Double, Boolean)]) =>
            var (seq, v, alive) = state.getOption.getOrElse((-1L, 0.0, false))
            // a micro-batch's group iterator is unordered: apply in seq order;
            // ops at-or-below the applied high-water mark are replays, skipped
            for ((_, s2, op, value) <- rows.toSeq.sortBy(_._2) if s2 > seq) {
              seq = s2
              op match {
                case "-D" => alive = false
                case _    => v = value; alive = true
              }
            }
            state.update((seq, v, alive))
            Iterator((user, seq, v, alive))
        }
        .toDF("user_id", "last_seq", "last_value", "alive")
      runToMemory(s, updates, "append")
        .groupBy("user_id")
        .agg(max_by(struct(col("last_seq"), col("last_value"), col("alive")),
          col("last_seq")).as("st"))
        .filter(col("st.alive"))
        .select(col("user_id"), col("st.last_seq").as("last_seq"),
          col("st.last_value").as("last_value"))
        .orderBy("user_id")
    },

    // Stream-stream inner join: both sides are unbounded, watermarked, and
    // joined on an equi-key + event-time range — Structured Streaming buffers
    // each side's state and expires it by the watermark + range bound. The
    // batch oracle is exactly the interval join (stream-batch duality again).
    QDef(
      "q_stream_stream_join",
      """SELECT e1.event_id AS a_id, e2.event_id AS b_id, e1.user_id
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
        | AND CAST(e2.ts AS TIMESTAMP) <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val a = eventsStream(s, d)
        .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
        .withWatermark("a_ts", "1 hour")
      val b = eventsStream(s, d)
        .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      val joined = a.join(b,
        a("user_id") === b("b_user") &&
          b("b_ts") > a("a_ts") &&
          b("b_ts") <= a("a_ts") + expr("INTERVAL 1 HOUR"))
        .select("a_id", "b_id", "user_id")
      runToMemory(s, joined, "append").orderBy("a_id", "b_id")
    },

    // Stream-stream LEFT OUTER join: same equi-key + time-range condition as
    // the inner variant, but unmatched left rows ALSO emit (with nulls) once
    // the watermark proves no future match can arrive. Determinism: with the
    // whole feed in one batch, the trailing no-data micro-batch advances the
    // watermark to max(ts) - 1h, which releases exactly the unmatched rows
    // whose join window [a_ts, a_ts + 1h] closed strictly below it — the
    // closed-form cutoff the oracle replays (a_ts + 2h < max(ts)). Unmatched
    // rows newer than that stay in state (would emit on a later batch), so
    // they are absent from BOTH sides of the compare.
    QDef(
      "q_stream_stream_left_join",
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mt FROM e),
        |j AS (SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id, a.ts AS a_ts
        |      FROM e a LEFT JOIN e b ON a.user_id = b.user_id
        |        AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
        |SELECT a_id, b_id, user_id FROM j, mx
        |WHERE b_id IS NOT NULL OR a_ts + INTERVAL 2 HOUR < mt
        |ORDER BY a_id, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      val a = eventsStream(s, d)
        .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
        .withWatermark("a_ts", "1 hour")
      val b = eventsStream(s, d)
        .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      val joined = a.join(b,
        a("user_id") === b("b_user") &&
          b("b_ts") > a("a_ts") &&
          b("b_ts") <= a("a_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
        .select("a_id", "b_id", "user_id")
      runToMemory(s, joined, "append").orderBy("a_id", "b_id")
    },

    // Stream-stream FULL OUTER join — the complete alphabet: unmatched rows
    // of EITHER side emit with nulls once their side's watermark proof
    // arrives. Cutoffs differ per side (the left row waits out its whole
    // [a_ts, a_ts+1h] window; the right row only needs no earlier-than-b_ts
    // left rows to be possible): left nulls at a_ts + 1h + delay < max(ts),
    // right nulls at b_ts + delay < max(ts) — both replayed in closed form.
    QDef(
      "q_stream_stream_full_join",
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mt FROM e),
        |j AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
        |             coalesce(a.user_id, b.user_id) AS user_id, a.ts AS a_ts, b.ts AS b_ts
        |      FROM e a FULL JOIN e b ON a.user_id = b.user_id
        |        AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
        |SELECT a_id, b_id, user_id FROM j, mx
        |WHERE (a_id IS NOT NULL AND b_id IS NOT NULL)
        |   OR (b_id IS NULL AND a_ts + INTERVAL 2 HOUR < mt)
        |   OR (a_id IS NULL AND b_ts + INTERVAL 1 HOUR < mt)
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      val a = eventsStream(s, d)
        .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
        .withWatermark("a_ts", "1 hour")
      val b = eventsStream(s, d)
        .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      val joined = a.join(b,
        a("user_id") === b("b_user") &&
          b("b_ts") > a("a_ts") &&
          b("b_ts") <= a("a_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
        .select(col("a_id"), col("b_id"),
          coalesce(col("user_id"), col("b_user")).as("user_id"))
      runToMemory(s, joined, "append")
        .orderBy(col("a_id").asc_nulls_first, col("b_id").asc_nulls_first)
    },

    // Custom keyed state via flatMapGroupsWithState (the
    // KeyValueGroupedDataset stateful API — arbitrary per-key state beyond
    // what windows express): a per-user running event counter + max value.
    // Emissions are per-micro-batch updates, so the result takes the last
    // update per user; the batch oracle is a plain group-by.
    QDef(
      "q_stream_custom_state",
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val updates = eventsStream(s, d)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
            val (n0, mx0) = state.getOption.getOrElse((0L, Double.MinValue))
            var n = n0; var mx = mx0
            rows.foreach { case (_, v) => n += 1; if (v > mx) mx = v }
            state.update((n, mx))
            Iterator((user, n, mx))
        }
        .toDF("user_id", "n_events", "max_value")
      // last state update per user == totals over the whole stream
      runToMemory(s, updates, "append")
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"), max(col("max_value")).as("max_value"))
        .orderBy("user_id")
    },

    // Spark 4's transformWithState (the successor of [mapGroups/
    // flatMapGroups]WithState): a StatefulProcessor with typed ValueState and
    // an explicit lifecycle, backed by the RocksDB state store provider —
    // the state backend a 100 TB keyed-state job needs (state spills to
    // disk + changelog checkpoints instead of living on the JVM heap).
    // Emissions are per-micro-batch running totals; the last one per key
    // equals the batch group-by, which is the oracle.
    QDef(
      "q_stream_processor_state",
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try withStreamShuffle(s) {
        val updates = eventsStream(s, d)
          // exact integer cents (value has 2 decimals), so state arithmetic
          // is order-independent and matches the oracle's DECIMAL sum
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new UserTotalsProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF("user_id", "n_events", "cents")
        runToMemory(s, updates, "append")
          .groupBy("user_id")
          .agg(max("n_events").as("n_events"),
            max_by(col("cents"), col("n_events")).as("cents"))
          .select(col("user_id"), col("n_events"),
            (col("cents") / 100.0).as("sum_value"))
          .orderBy("user_id")
      } finally {
        prevProv match {
          case Some(p) => s.conf.set(provKey, p)
          case None    => s.conf.unset(provKey)
        }
      }
    },

    // Watermark semantics demo: rows later than the watermark are dropped
    // from the aggregation. Probabilistic engine timing is removed by
    // feeding explicit micro-batches through a MemoryStream, which makes the
    // append-mode emissions closed-form — the oracle is the expected window
    // table itself: the minute-4 row arrives behind the 00:25 watermark and
    // is dropped (window [00:00,00:10) stays n=2), while the final [00:50,
    // 00:60) window never closes and is never emitted.
    QDef(
      "q_stream_late_data",
      """SELECT * FROM (VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', CAST(2 AS BIGINT)),
        |  (TIMESTAMP '2024-01-01 00:10:00', CAST(1 AS BIGINT)),
        |  (TIMESTAMP '2024-01-01 00:20:00', CAST(1 AS BIGINT)),
        |  (TIMESTAMP '2024-01-01 00:30:00', CAST(1 AS BIGINT))
        |) t(window_start, n) ORDER BY window_start""".stripMargin) { (s, d) => withStreamShuffle(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
      val stream = MemoryStream[(java.sql.Timestamp, Long)]
      val agg = stream.toDF().toDF("ts", "v")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      val name = s"late_$fresh"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // batch 1: rows up to minute 35 → watermark advances to 25:00,
      // closing windows [0,10) and [10,20).
      stream.addData(Seq(ts(1) -> 1L, ts(5) -> 2L, ts(12) -> 3L, ts(35) -> 4L))
      q.processAllAvailable()
      // batch 2: minute 4 is far behind the 25:00 watermark → dropped;
      // minute 22 lands in the still-open [20,30) window.
      stream.addData(Seq(ts(4) -> 5L, ts(22) -> 6L))
      q.processAllAvailable()
      // batch 3: minute 59 pushes the watermark past every open window.
      stream.addData(Seq(ts(59) -> 7L))
      q.processAllAvailable()
      q.stop()
      s.table(name)
        .select(col("window.start").cast("timestamp_ntz").as("window_start"), col("n"))
        .orderBy("window_start")
    }},

    // Bounded-increment backlog processing: the events table staged as 8
    // files, consumed 2 per micro-batch (`maxFilesPerTrigger`) — one
    // AvailableNow run walks the backlog in ≥4 checkpointed batches, and
    // the complete-mode aggregation state carries across every batch
    // boundary. This is the rate-limited catch-up mode a production
    // continuous pipe restarts in after downtime (the reference's 20 s
    // commit cadence, guide.md:3, is the same mechanism paced by time);
    // the final table must equal the plain batch aggregate. StreamSpec
    // asserts the multi-batch walk on this same code path.
    QDef(
      "q_stream_incremental",
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) => incrementalCounts(s, d)._1
    },

    // Aggregation merge-engine (Paimon 'merge-engine' = 'aggregation' +
    // 'fields.<f>.aggregate-function'): a continuously-maintained keyed
    // aggregate AS A TABLE — each micro-batch appends partial rows and the
    // table's read view merges same-key rows by the declared function
    // (sum/max/count here), the streaming materialized-view shape. Exact
    // arithmetic: values enter as integer cents (X.cents), so the sums are
    // longs and the final table is bit-deterministic. The merge functions
    // are associative+commutative, which is what lets appends, compaction
    // pre-merge, and the read view compose in any order (StreamTableSpec
    // pins that closure incl. a mid-stream compact).
    //
    // 100 TB posture: appends are blind writes (no read-modify-write!) —
    // ingestion scales like the append table; the merge cost moves to
    // compaction/reads, which run one pk-keyed aggregate.
    QDef(
      "q_stream_agg_merge",
      """SELECT user_id,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |  max(event_id) AS max_event_id,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val root = Files.createTempDirectory("graft_aggmerge_").toString
      val table = new graft.table.StreamTable(root, s,
        primaryKey = Some(Seq("user_id")),
        aggSpec = Some(Seq(
          "total_cents" -> "sum", "max_event_id" -> "max", "n_events" -> "count")))
      withStreamShuffle(s) {
        val src = eventsStream(s, d).select(
          col("user_id"),
          graft.X.cents(col("value")).as("total_cents"),
          col("event_id").as("max_event_id"),
          lit(1L).as("n_events"))
        table.writeStream(src, Trigger.AvailableNow()).awaitTermination()
      }
      table.read.orderBy("user_id")
    },

    // Incremental ANN-index maintenance: embeddings arrive as a rate-limited
    // file backlog (1 file/trigger over a 4-file stage), and each
    // micro-batch assigns its vectors to the FIXED coarse centroids (the
    // shared Ext argmax contract — broadcast-8 map-side max_by, the same
    // tie-break as every IVF query) and appends (vec_id, cid) to a
    // StreamTable index. The final per-cell census must equal the batch
    // argmax assignment of the whole corpus — proving index freshness is
    // just ingestion, not a rebuild. This is the maintenance loop behind
    // RetrievalFlow's persisted index: centroids move only on retrain;
    // arriving vectors are a map-only stream.
    QDef(
      "q_stream_index_update",
      s"""WITH ${graft.ops.Ext.argmaxCtes("embeddings")}
        |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(vec_id) AS first_vec
        |FROM cell GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
      val dir = embMultiDir(s, d)
      val cent = graft.ops.Ext
        .argmaxCells(graft.Tables.embeddings(s, d))._1.localCheckpoint(true)
      val root = Files.createTempDirectory("graft_idx_update_").toString
      val table = new graft.table.StreamTable(root, s, bucketKey = Some("cid"))
      withStreamShuffle(s) {
        val stream = s.readStream.schema(stagedSchema(s, dir))
          .option("maxFilesPerTrigger", "1").parquet(dir)
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            table.appendBatch(
              graft.ops.Ext.assignCells(b, cent).select("vec_id", "cid"), id)
          }
          .option("checkpointLocation", s"$root/chk")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      table.read.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("first_vec"))
        .orderBy("cid")
    },

    // Partial-update merge-engine end-to-end (a 20th real streaming job):
    // three column-disjoint update waves — base prices (seq 1), priorities
    // from a second source (seq 2), a reprice for every 10th key (seq 3) —
    // land as PARTIAL rows in one stream whose file batches interleave the
    // waves arbitrarily (the staging repartition shuffles rows across
    // files). The table assembles whole rows per key by per-field last
    // non-null, so the final read equals the closed-form join of the waves
    // regardless of arrival order — the Paimon partial-update pattern for
    // multi-source wide-table assembly without a join at ingest.
    QDef(
      "q_stream_partial_update",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0
        |       THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
        |       ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_cents,
        |  o_orderpriority AS prio
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val dir = partialUpdDir(s, d)
      val root = Files.createTempDirectory("graft_partial_upd_tbl_").toString
      val table = new graft.table.StreamTable(root, s,
        primaryKey = Some(Seq("o_orderkey")), seqCol = Some("seq"),
        mergeEngine = "partial-update")
      withStreamShuffle(s) {
        val stream = s.readStream.schema(stagedSchema(s, dir))
          .option("maxFilesPerTrigger", "2").parquet(dir)
        table.writeStream(stream, Trigger.AvailableNow()).awaitTermination()
      }
      table.read.select("o_orderkey", "price_cents", "prio").orderBy("o_orderkey")
    },

    // First-row merge-engine (a 21st real streaming job): the stream keeps
    // each user's FIRST event (smallest sequence) and discards every later
    // arrival at the merge sites — the "immutable first observation" table
    // (signup attribution, first-touch) that deduplicate's LWW cannot
    // express. Sequence = event_id (unique per key), so resolution is
    // deterministic under any batch interleaving.
    QDef(
      "q_stream_first_row",
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      val dir = eventsMultiDir(s, d)
      val root = Files.createTempDirectory("graft_first_row_tbl_").toString
      val table = new graft.table.StreamTable(root, s,
        primaryKey = Some(Seq("user_id")), seqCol = Some("event_id"),
        mergeEngine = "first-row")
      withStreamShuffle(s) {
        val stream = s.readStream.schema(stagedSchema(s, dir))
          .option("maxFilesPerTrigger", "2").parquet(dir)
          .select("user_id", "event_id", "event_type", "value")
        table.writeStream(stream, Trigger.AvailableNow()).awaitTermination()
      }
      table.read.select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },

    // State-store introspection (Spark 4's `statestore` data source): run a
    // stateful per-user aggregation to completion, then read the operator's
    // checkpointed state BACK as a DataFrame — the observability surface
    // behind the reference's metadata tables ($files for data, this for
    // STATE). The state after AvailableNow over the whole input must equal
    // the batch aggregate, so the reader is fully oracle-checked: key struct
    // → group key, value struct → the (count, max) aggregation buffer.
    //
    // 100 TB posture: the reader lists state files per shuffle partition and
    // scans them in parallel — state debugging without replaying the stream;
    // no driver materialization beyond the final ordered dump.
    QDef(
      "q_stream_state_read",
      """SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      withStreamShuffle(s) {
        val chk = Files.createTempDirectory("graft_state_chk_").toString
        val agg = eventsStream(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
        val q = agg.writeStream.format("memory").queryName(s"st_$fresh")
          .outputMode("update").option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // value-struct field names follow the buffer's aggregate functions
        s.read.format("statestore").load(chk)
          .select(col("key.user_id").as("user_id"),
            col("value.count").as("n_events"),
            col("value.max").as("max_value"))
          .orderBy("user_id")
      }
    },
  )

  /** Stage (once per sf dir) the partial-update waves: base prices (seq 1),
    * priorities (seq 2), the %10 reprice (seq 3), shuffled across 6 files so
    * micro-batches interleave the waves. */
  private val stagedPartial = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def partialUpdDir(s: SparkSession, d: String): String =
    stagedPartial.computeIfAbsent(d, { _ =>
      val dir = Files.createTempDirectory("graft_partial_upd_src_").toString
      val o = graft.Tables.orders(s, d)
      val base = o.select(col("o_orderkey"), lit(1L).as("seq"),
        graft.X.cents(col("o_totalprice")).as("price_cents"),
        lit(null).cast("string").as("prio"))
      val prios = o.select(col("o_orderkey"), lit(2L).as("seq"),
        lit(null).cast("bigint").as("price_cents"),
        col("o_orderpriority").as("prio"))
      val reprice = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit(3L).as("seq"),
          (graft.X.cents(col("o_totalprice")) * 2).as("price_cents"),
          lit(null).cast("string").as("prio"))
      base.unionByName(prios).unionByName(reprice)
        .repartition(6).write.mode("overwrite").parquet(dir)
      dir
    })

  /** Shared by [[q_stream_incremental]] and StreamSpec (which asserts the
    * batch count): run the 8-file backlog at 2 files/trigger; returns the
    * final complete-mode aggregate and the number of data batches. */
  def incrementalCounts(s: SparkSession, d: String): (DataFrame, Int) = {
    val dir = eventsMultiDir(s, d)
    val stream = s.readStream.schema(stagedSchema(s, dir))
      .option("maxFilesPerTrigger", "2").parquet(dir)
    val agg = stream.groupBy("event_type")
      .agg(count(lit(1)).as("n"), graft.X.dsum(col("value")).as("sum_value"))
    val (tbl, q) = runToMemoryQ(s, agg, "complete")
    (tbl.orderBy("event_type"), q.recentProgress.count(_.numInputRows > 0))
  }

  /** Stage (once per sf dir) the embeddings table as 4 parquet files — the
    * arriving-vectors backlog q_stream_index_update walks. */
  private val stagedEmb = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def embMultiDir(s: SparkSession, d: String): String =
    stagedEmb.computeIfAbsent(d, { _ =>
      val dir = Files.createTempDirectory("graft_emb_multi_").toString
      Tables.embeddings(s, d).repartition(4)
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Stage (once per sf dir) the events table as 8 parquet files so the
    * file source's `maxFilesPerTrigger` has a backlog to walk. */
  private val stagedMulti = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def eventsMultiDir(s: SparkSession, d: String): String =
    stagedMulti.computeIfAbsent(d, { _ =>
      val dir = Files.createTempDirectory("graft_events_multi_").toString
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.t(s, d, "events").repartition(8)
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** A staged directory's schema with no Spark job. One write made all its
    * files, so one data file's footer gives it, as Spark's inference takes
    * it without `mergeSchema`; the file is immutable, so it keys the footer
    * memo like a table file. */
  private[graft] def stagedSchema(s: SparkSession, dir: String): StructType = {
    val file = graft.table.StreamTable.listDir(Paths.get(dir))
      .filterNot { p => val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }
      .minBy(_.getFileName.toString)
    graft.table.StreamTable.pathSchema(s, Seq((file.toString, Files.size(file), 0L)))
  }
}
